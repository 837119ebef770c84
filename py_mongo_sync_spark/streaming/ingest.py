"""Streaming dedup-on-ingest — the per-microbatch driver around
operators/ingest_dedup.py, wired the same way as the CDC pipeline.

Each micro-batch of newly-arrived documents is screened against the
PERSISTED state of every prior batch — a kept-corpus LakeTable and a
banded-signature-index LakeTable — then the batch's novel docs and their
band rows are MERGEd back in under the same batch-id idempotence + stream
epoch guard the CDC tables use, so at-least-once redelivery of a
micro-batch can never double-insert or (worse) flag a batch as duplicates
of itself.

Reference analogue: the infinite oplog tail-and-apply loop
(/root/reference/mongosync/mongo/syncer.py:239-366) — here the "apply"
is a dedup decision instead of an oplog patch, but the streaming
contract (foreachBatch, idempotent per-batch commit, resumable
checkpoint) is identical to CdcPipeline.run_stream — both run on
``run_foreach_batch``.

Crash-consistency between the two tables: the docs MERGE commits before
the bands MERGE. If the driver dies between them, the replayed batch
recomputes identical decisions (the band index — the only input to
candidate generation — is unchanged; kept docs already in the corpus
table are only consulted for verify and are reachable only via index
candidates), the docs MERGE resolves to an idempotent skip, and the
bands MERGE applies. Both orders converge; this one never drops a
decision.

Scale note: the signature index is bucketed on ``bkey`` (LakeTable
``bucket_cols``, decoupled from its unique (_id, band) key), so each
batch reads ONLY the index buckets its own band keys hash to — per-batch
probe I/O is O(touched buckets), the same contract as the CDC MERGE, and
at 10^10 docs the untouched bulk of the index is never scanned. The kept
corpus stays bucketed by doc id; its read feeds the candidate-bounded
verify semi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from py_mongo_sync_spark.operators.ingest_dedup import ingest_batch
from py_mongo_sync_spark.operators.neardup import banded_signature_rows
from py_mongo_sync_spark.plans.lake import LakeTable
from py_mongo_sync_spark.streaming.pipeline import run_foreach_batch


class NeardupIngestPipeline:
    """Maintains (kept corpus, signature index) across document batches."""

    def __init__(
        self,
        spark: SparkSession,
        docs_path: str,
        bands_path: str,
        n_buckets: int = 16,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_hashes: int = 16,
        bands: int = 8,
        k: int = 5,
        threshold_pct: int = 80,
        max_bucket: int = 64,
    ):
        self.spark = spark
        self.docs_table = LakeTable(spark, docs_path)
        self.bands_table = LakeTable(spark, bands_path)
        self.n_buckets = n_buckets
        self.id_col, self.text_col = id_col, text_col
        self.params = dict(
            n_hashes=n_hashes, bands=bands, k=k,
            threshold_pct=threshold_pct, max_bucket=max_bucket,
        )
        #: per-batch decision stats, appended by apply_batch (driver-side,
        #: one small dict per batch — bounded like CdcPipeline's telemetry)
        self.stats: list[dict] = []

    # ---------------------------------------------------------------- setup

    def _with_meta(self, df: DataFrame, ts: int) -> DataFrame:
        return (
            df.withColumn("ts", F.lit(ts).cast("long"))
            .withColumn("_op", F.lit("i"))
            .withColumn("_is_patch", F.lit(False))
        )

    def initial_load(self, seen_docs: DataFrame) -> "NeardupIngestPipeline":
        """Phase A: sign and load an already-deduped starting corpus (may
        be empty). The index is derived here ONCE; batches never re-sign
        the seen side."""
        docs = seen_docs.select(self.id_col, self.text_col)
        self.docs_table.create_or_replace(
            docs.withColumn("ts", F.lit(0).cast("long")),
            key_cols=[self.id_col], ts_col="ts", n_buckets=self.n_buckets,
        )
        b = banded_signature_rows(
            docs, self.id_col, self.text_col,
            self.params["n_hashes"], self.params["bands"], self.params["k"],
        )
        # bucketed on bkey (NOT the unique key): the candidate probe joins
        # on (band, bkey), so a batch only needs the index buckets its own
        # bkeys hash to — the probe-prune contract the operator docstring
        # promises, now physical
        self.bands_table.create_or_replace(
            b.withColumn("ts", F.lit(0).cast("long")),
            key_cols=["_id", "band"], ts_col="ts", n_buckets=self.n_buckets,
            bucket_cols=["bkey"],
        )
        return self

    # ---------------------------------------------------------------- batch

    def apply_batch(self, new_docs: DataFrame, batch_id: int) -> dict:
        """Decide + commit one batch. Idempotent on ``batch_id``: a fully
        committed batch short-circuits BEFORE recomputing decisions (the
        index would by then contain the batch's own docs, so recomputing
        would self-match — the guard exists for correctness, not speed)."""
        if self.docs_table.is_committed(batch_id) and self.bands_table.is_committed(batch_id):
            out = {"skipped": True, "batch_id": batch_id}
            self.stats.append(out)
            return out
        batch = new_docs.select(self.id_col, self.text_col)
        # Sign the batch ONCE. The signed rows feed three separate Spark
        # ACTIONS (bucket-probe collect, decisions count, the two MERGEs) —
        # ReuseExchange dedups identical subtrees only WITHIN one query, so
        # without the persist each action would re-shingle + re-md5 the
        # batch from scratch (r4 shipped exactly that: three signing jobs
        # per batch). Batch-sized, so the cache is bounded like `decisions`.
        new_bands = banded_signature_rows(
            batch, self.id_col, self.text_col,
            self.params["n_hashes"], self.params["bands"], self.params["k"],
        ).persist()
        seen_docs = self.docs_table.read().select(self.id_col, self.text_col)
        seen_bands = self.bands_table.read(
            buckets=self._touched_index_buckets(new_bands)
        ).select("_id", "band", "bkey")
        decisions, delta = ingest_batch(
            batch, seen_docs, seen_bands=seen_bands, new_bands=new_bands,
            id_col=self.id_col, text_col=self.text_col, **self.params,
        )
        decisions = decisions.persist()
        try:
            n_new = decisions.count()
            n_dup = decisions.where("is_dup").count()
            novel = decisions.where(~F.col("is_dup")).select(
                F.col("doc_id").alias("_nid")
            )
            kept = batch.join(
                novel, batch[self.id_col] == novel["_nid"], "left_semi"
            )
            self.docs_table.merge(self._with_meta(kept, batch_id + 1), batch_id)
            self.bands_table.merge(self._with_meta(delta, batch_id + 1), batch_id)
        finally:
            decisions.unpersist()
            new_bands.unpersist()
            # the dedup operators pin their multiply-referenced
            # intermediates (neardup._pin); release them per batch so an
            # infinite stream's cache footprint stays O(one batch)
            for h in getattr(decisions, "_cached_frames", []):
                h.unpersist()
        out = {"batch_id": batch_id, "n_new": n_new,
               "n_dup": n_dup, "n_novel": n_new - n_dup}
        self.stats.append(out)
        return out

    def _touched_index_buckets(self, new_bands: DataFrame) -> list[int]:
        """Index buckets this batch's band keys hash to — the candidate
        probe then scans ONLY those (the index is bucketed on bkey).
        Consumes the batch's already-persisted band rows (apply_batch signs
        once); collects distinct bucket IDS only (≤ n_buckets ints, never
        row data — same bound class as the CDC merge probe)."""
        from py_mongo_sync_spark.plans.lake import bucket_expr, manifest_bucket_cols

        m = self.bands_table.manifest()
        rows = (
            new_bands.select(bucket_expr(manifest_bucket_cols(m),
                                         m["n_buckets"]).alias("_b"))
            .distinct().collect()
        )
        return sorted(r["_b"] for r in rows)

    # --------------------------------------------------------------- stream

    def run_stream(
        self,
        docs_stream: DataFrame,
        spark_checkpoint_dir: str,
        available_now: bool = True,
        processing_time: str = "1 second",
    ):
        """Drain (or tail) a document stream through apply_batch
        (``run_foreach_batch``): a fresh Spark checkpoint is a new batch-id
        sequence for BOTH tables."""
        return run_foreach_batch(
            docs_stream, spark_checkpoint_dir,
            lambda df, bid: self.apply_batch(df, bid),
            (self.docs_table, self.bands_table), available_now, processing_time,
        )
