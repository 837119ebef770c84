"""Last-writer-wins dedup and per-key event folding.

The reference preserves per-key order by routing equal keys to the same
sub-batch and applying ops sequentially
(/root/reference/mongosync/multi_oplog_replayer.py:69-87). We get a stronger
guarantee declaratively: inside each microbatch, all events for a key are
folded in ``(ts, seq)`` order into ONE net event (so the MERGE source has
exactly one row per key). Two forms:

- :func:`lww_dedup` — plain ``row_number() over (partition by key order by
  ts desc) = 1`` for streams with full-row events only (no patches).
- :func:`fold_net_events` — a per-key ordered fold that replays the
  reference's op semantics (multi_oplog_replayer.py:99-121,
  mongo/handler.py:143-165) including the Mongo update operators the
  destination can express ($set/$unset translation precedent:
  /root/reference/mongosync/es/syncer.py:182-216; server-side full update
  replay precedent: mongo/handler.py:152):

  * 'd' → tombstone
  * 'i' / 'u'-replace → full row
  * 'u'-patch ``$set`` over a row → field merge; ``$set`` to JSON null is
    equivalent to ``$unset`` on a fixed-schema table
  * 'u'-patch ``$unset`` → field set to NULL
  * 'u'-patch ``$inc`` → numeric delta (composes additively; an increment
    on a field last written by a newer... see anchor rule below)
  * 'u'-patch over a tombstone → no-op (UpdateOne without upsert)
  * 'u'-patch first in batch → stays a patch; resolved against the target
    inside the MERGE or dropped if the key is absent.

Per-column fold rule (matches sequential application exactly): the
**anchor** for column ``c`` is the newest kept event that determines an
absolute value — a non-patch row (base), a ``$set c``, or a ``$unset c``.
Increments newer than the anchor add onto the anchor value
(``NULL`` counts as 0, Mongo's $inc-on-missing-field rule). With no anchor
in the batch the increments remain a residual resolved against the target
row inside the MERGE.

Everything is JVM-side window expressions over ONE hash shuffle on the full
key ``(conv_id, turn_idx)`` — no UDFs, no java-object aggregation state.
Window ordering is ``(ts desc, seq desc)``: real oplogs disambiguate equal
second-granularity timestamps with an increment (BSON Timestamp
``(time, inc)``, /root/reference/mongosync/optime_logger.py:25-28), so the
optional ``seq`` column is the deterministic tiebreak.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window as W, functions as F, types as T

from py_mongo_sync_spark.exprcache import per_context

_BIG_RN = 1 << 31


def lww_dedup(
    df: DataFrame, key_cols: list[str], ts_col: str = "ts", seq_col: str | None = None
) -> DataFrame:
    order = [F.col(ts_col).desc()] + ([F.col(seq_col).desc()] if seq_col else [])
    w = W.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def fold_net_events(
    df: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    ts_col: str = "ts",
    op_col: str = "op",
    patch_col: str = "is_patch",
    seq_col: str | None = None,
    unset_col: str | None = None,
    inc_col: str | None = None,
) -> DataFrame:
    """Reduce a microbatch to one net event per key — window/row_number
    form (the production path).

    Per key, in descending ``(ts, seq)`` order:

    - ``base`` = the newest non-patch event (replace/insert/delete); all
      events older than it are superseded and discarded.
    - if ``base`` is a delete → net = delete (patches newer than a delete
      are UpdateOne-no-ops on a missing doc).
    - else each column resolves independently via its anchor (module doc):
      newest {base | $set c | $unset c} supplies the absolute value, newer
      ``$inc c`` deltas add on top.
    - no base in the batch (patches only) → net stays a patch carrying
      per-column state: a concrete value, membership in ``_unset_cols``
      (set target column to NULL), or a residual delta in ``_inc_map``
      (add to target value); the MERGE resolves or drops it.

    Physical shape: ONE hash shuffle on the full key + ONE in-partition sort
    feeding collapsed window passes — all whole-stage unsafe-row processing.

    Input: one row per event with key cols, ``ts``, optional ``seq``,
    ``op`` (i/u/d), ``is_patch``, payload columns, and (optionally) the
    patch-operator columns ``unset_col`` (array<string>) / ``inc_col``
    (map<string,double>). Output: one row per key with payload, ``ts``,
    ``_op`` ('d' or 'u'), ``_is_patch``, ``_unset_cols``, ``_inc_map``.

    The expressions are built once per signature (``_fold_plan``); a call
    costs only the DataFrame operations below.
    """
    dtypes = dict(df.dtypes)
    payload = tuple(
        (c, dtypes.get(c, "string")) for c in payload_cols if c not in key_cols
    )
    p = _fold_plan(
        tuple(key_cols), payload, ts_col, op_col, patch_col, seq_col, unset_col, inc_col
    )
    # pass 1 ranks each key's events and keeps the newest non-patch plus
    # every patch above it (all rows if no base); passes 2-3 run on the
    # same partitioning/sort, so the window exec nodes collapse onto the
    # single shuffle of pass 1
    return (
        df.select(*p.events)
        .withColumn("_rn", p.rn)
        .withColumn("_base_rn", p.base_rn)
        .where(p.kept)
        .select(*p.anchored)
        .select(*p.resolved)
        .where(p.newest)
        .select(*p.out)
    )


class _FoldPlan(NamedTuple):
    events: tuple[Column, ...]
    rn: Column
    base_rn: Column
    kept: Column
    anchored: tuple[Column, ...]
    resolved: tuple[Column, ...]
    newest: Column
    out: tuple[Column, ...]


@per_context
def _fold_plan(
    key_cols: tuple[str, ...],
    payload: tuple[tuple[str, str], ...],
    ts_col: str,
    op_col: str,
    patch_col: str,
    seq_col: str | None,
    unset_col: str | None,
    inc_col: str | None,
) -> _FoldPlan:
    """The fold's expressions for one signature: key columns, non-key
    payload ``(name, type)`` pairs and the envelope/meta column names."""
    cols = [c for c, _t in payload]
    is_patch = F.coalesce(F.col(patch_col), F.lit(False))
    order = [F.col(ts_col).desc()] + ([F.col(seq_col).desc()] if seq_col else [])
    w = W.partitionBy(*key_cols).orderBy(*order)
    wkey = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    wf = w.rowsBetween(W.currentRow, W.unboundedFollowing)

    unset_src = (
        F.coalesce(F.col(unset_col), F.array().cast("array<string>"))
        if unset_col
        else F.array().cast("array<string>")
    )

    def ev_unset(c: str):
        return F.array_contains(unset_src, F.lit(c))

    def ev_inc(c: str):
        if inc_col:
            return F.element_at(F.col(inc_col), F.lit(c))
        return F.lit(None).cast("double")

    events = (
        *[F.col(c) for c in key_cols],
        F.col(ts_col),
        F.col(op_col).alias("_ev_op"),
        is_patch.alias("_ev_patch"),
        *[F.col(c) for c in cols],
        *([F.col(seq_col)] if seq_col else []),
        *[ev_unset(c).alias(f"_un_{c}") for c in cols],
        *[ev_inc(c).alias(f"_in_{c}") for c in cols],
    )
    rn = F.row_number().over(w)
    base_rn = F.min(F.when(~F.col("_ev_patch"), F.col("_rn"))).over(wkey)
    kept = F.col("_base_rn").isNull() | (F.col("_rn") <= F.col("_base_rn"))

    # pass 2: per-column anchor position
    anchored = (
        F.col("*"),
        *[
            F.min(
                F.when(
                    ~F.col("_ev_patch") | F.col(c).isNotNull() | F.col(f"_un_{c}"),
                    F.col("_rn"),
                )
            )
            .over(wkey)
            .alias(f"_arn_{c}")
            for c in cols
        ],
    )

    # pass 3: anchor values + increment sums above the anchor
    base_is_del = F.col("_base_rn").isNotNull() & (
        F.last(F.col("_ev_op")).over(wf) == "d"
    )
    base_ts = F.last(F.col(ts_col)).over(wf)  # ts of the base (lowest kept row)

    def anchor_val(c: str):
        return F.max(F.when(F.col("_rn") == F.col(f"_arn_{c}"), F.col(c))).over(wkey)

    def inc_sum(c: str):
        return F.sum(
            F.when(
                F.col("_rn") < F.coalesce(F.col(f"_arn_{c}"), F.lit(_BIG_RN)),
                F.col(f"_in_{c}"),
            )
        ).over(wkey)

    resolved = (
        *[F.col(c) for c in key_cols],
        F.col(ts_col),
        F.col("_rn"),
        F.col("_base_rn"),
        base_is_del.alias("_bdel"),
        base_ts.alias("_bts"),
        *[anchor_val(c).alias(f"_av_{c}") for c in cols],
        *[inc_sum(c).alias(f"_is_{c}") for c in cols],
        *[F.col(f"_arn_{c}") for c in cols],
    )

    def out_val(c: str, typ: str):
        av, isum = F.col(f"_av_{c}"), F.col(f"_is_{c}")
        anchored_c = F.col(f"_arn_{c}").isNotNull()
        with_inc = (F.coalesce(av.cast("double"), F.lit(0.0)) + isum).cast(typ)
        # increments resolve to a concrete value ONLY on top of an anchor;
        # anchorless increments stay NULL here and ride in _inc_map instead
        v = F.when(anchored_c & isum.isNotNull(), with_inc).otherwise(av)
        return F.when(F.col("_bdel"), F.lit(None).cast(typ)).otherwise(v).alias(c)

    # net-patch meta: columns whose final action NULLs the target, and
    # residual deltas for columns with no anchor in the batch
    def unset_flag(c: str):
        return (
            F.col("_base_rn").isNull()
            & F.col(f"_arn_{c}").isNotNull()
            & F.col(f"_av_{c}").isNull()
            & F.col(f"_is_{c}").isNull()
        )

    out_unset = F.concat(
        *[
            F.when(unset_flag(c), F.array(F.lit(c))).otherwise(
                F.array().cast("array<string>")
            )
            for c in cols
        ]
    ) if cols else F.array().cast("array<string>")
    residual = [
        (c, F.when(F.col("_base_rn").isNull() & F.col(f"_arn_{c}").isNull(), F.col(f"_is_{c}")))
        for c in cols
    ]
    out_inc = (
        F.map_filter(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c, _ in residual]),
                F.array(*[e for _, e in residual]),
            ),
            lambda _k, v: v.isNotNull(),
        )
        if residual
        else F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<double>")
        )
    )

    out = (
        *[F.col(c) for c in key_cols],
        *[out_val(c, typ) for c, typ in payload],
        F.when(F.col("_bdel"), F.col("_bts")).otherwise(F.col(ts_col)).alias(ts_col),
        F.when(F.col("_bdel"), F.lit("d")).otherwise(F.lit("u")).alias("_op"),
        F.col("_base_rn").isNull().alias("_is_patch"),
        out_unset.alias("_unset_cols"),
        out_inc.alias("_inc_map"),
    )
    return _FoldPlan(events, rn, base_rn, kept, anchored, resolved,
                     F.col("_rn") == 1, out)


def fold_net_events_salted(
    df: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    ts_lo: int,
    ts_hi: int,
    n_salt: int = 8,
    ts_col: str = "ts",
    op_col: str = "op",
    patch_col: str = "is_patch",
    seq_col: str | None = None,
    unset_col: str | None = None,
    inc_col: str | None = None,
) -> DataFrame:
    """Two-phase fold for single-key floods (H2 skew): a key with millions
    of events in one microbatch serializes the window fold into one task.
    Phase 1 folds within TIME-CONTIGUOUS salt slices
    (``salt = (ts - lo) * n_salt / span``), phase 2 folds the per-slice net
    events. Correct because the fold composes exactly over contiguous time
    ranges — each net event's ts lies inside its slice, so phase 2's
    (ts, seq) order equals slice order (the same argument that makes
    merge-on-read delta batches compose; an ARBITRARY split would be wrong:
    a stale ``$set`` netted under a newer slice ts could shadow an
    interleaved ``$unset``).

    ``ts_lo``/``ts_hi`` are the batch's envelope-ts bounds (the pipeline
    probe already collects them — no extra scan). Output contract identical
    to :func:`fold_net_events`.
    """
    span = max(1, ts_hi - ts_lo + 1)
    # clamp BOTH ends into [0, n_salt): an event ts outside the caller's
    # [ts_lo, ts_hi] (e.g. bounds from a stats probe that filtered
    # differently) would otherwise land in a slice outside the contiguous
    # range, and phase 2's slice-order-equals-time-order tiebreak breaks
    salt = F.greatest(
        F.lit(0),
        F.least(
            F.lit(n_salt - 1),
            (((F.col(ts_col) - F.lit(ts_lo)) * n_salt) / F.lit(span)).cast("int"),
        ),
    ).alias("_salt")
    phase1 = fold_net_events(
        df.select("*", salt),
        key_cols=key_cols + ["_salt"],
        payload_cols=payload_cols,
        ts_col=ts_col, op_col=op_col, patch_col=patch_col,
        seq_col=seq_col, unset_col=unset_col, inc_col=inc_col,
    )
    return fold_net_events(
        phase1,
        key_cols=key_cols,
        payload_cols=payload_cols,
        ts_col=ts_col, op_col="_op", patch_col="_is_patch",
        seq_col="_salt",  # slice index: deterministic equal-ts tiebreak
        unset_col="_unset_cols", inc_col="_inc_map",
    ).drop("_salt")


def fold_net_events_agg(
    df: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    ts_col: str = "ts",
    op_col: str = "op",
    patch_col: str = "is_patch",
    seq_col: str | None = None,
    unset_col: str | None = None,
    inc_col: str | None = None,
) -> DataFrame:
    """collect_list/aggregate form of the fold — semantically identical to
    :func:`fold_net_events` (property-tested against it); kept as the
    reference implementation because the step function mirrors the
    reference's sequential apply loop most literally."""
    non_key_payload = [c for c in payload_cols if c not in key_cols]
    elem_fields = (
        [T.StructField("ts", df.schema[ts_col].dataType, False)]
        + ([T.StructField("seq", df.schema[seq_col].dataType, True)] if seq_col else [])
        + [
            T.StructField("op", T.StringType(), True),
            T.StructField("is_patch", T.BooleanType(), True),
            T.StructField("unset_cols", T.ArrayType(T.StringType()), True),
            T.StructField(
                "inc_map", T.MapType(T.StringType(), T.DoubleType()), True
            ),
        ]
        + [T.StructField(c, df.schema[c].dataType, True) for c in non_key_payload]
    )
    elem_type = T.StructType(elem_fields)

    unset_in = (
        F.coalesce(F.col(unset_col), F.array().cast("array<string>"))
        if unset_col
        else F.array().cast("array<string>")
    )
    inc_in = (
        F.col(inc_col)
        if inc_col
        else F.lit(None).cast("map<string,double>")
    )
    ev = F.struct(
        F.col(ts_col).alias("ts"),
        *([F.col(seq_col).alias("seq")] if seq_col else []),
        F.col(op_col).alias("op"),
        F.coalesce(F.col(patch_col), F.lit(False)).alias("is_patch"),
        unset_in.alias("unset_cols"),
        inc_in.alias("inc_map"),
        *[F.col(c).alias(c) for c in non_key_payload],
    )

    def _cmp(l, r):
        """(ts, seq) comparator — maps aren't orderable, so the struct sort
        must name its key fields explicitly."""
        out = (
            F.when(l["ts"] < r["ts"], F.lit(-1))
            .when(l["ts"] > r["ts"], F.lit(1))
        )
        if seq_col:
            ls = F.coalesce(l["seq"], F.lit(0))
            rs = F.coalesce(r["seq"], F.lit(0))
            out = out.when(ls < rs, F.lit(-1)).when(ls > rs, F.lit(1))
        return out.otherwise(F.lit(0))

    grouped = df.groupBy(*key_cols).agg(
        F.array_sort(F.collect_list(ev), _cmp).alias("_evs")
    )

    _EMPTY_MAP = F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<double>")
    )
    _EMPTY_ARR = F.array().cast("array<string>")

    def _x_unset(x, c):
        return F.coalesce(F.array_contains(x["unset_cols"], F.lit(c)), F.lit(False))

    def _x_inc(x, c):
        return F.element_at(F.coalesce(x["inc_map"], _EMPTY_MAP), F.lit(c))

    def _anchor(acc, c):
        """acc holds an absolute value for c: a non-patch base, a prior
        $set (value non-null), or a prior $unset (explicit NULL)."""
        return (
            ~F.coalesce(acc["is_patch"], F.lit(False))
            | acc[c].isNotNull()
            | F.coalesce(F.array_contains(acc["unset_cols"], F.lit(c)), F.lit(False))
        )

    def step(acc, x):
        """Sequential apply of event x (ascending order) onto acc — the
        literal form of mongo/handler.py:137-167 + es/syncer.py:182-216."""
        x_del = x["op"] == F.lit("d")
        x_patch = x["is_patch"]
        acc_del = acc["op"] == F.lit("d")

        def patched_col(c):
            typ = df.schema[c].dataType
            cur, inc = acc[c], _x_inc(x, c)
            return (
                F.when(_x_unset(x, c), F.lit(None).cast(typ))
                .when(
                    inc.isNotNull() & _anchor(acc, c),
                    (F.coalesce(cur.cast("double"), F.lit(0.0)) + inc).cast(typ),
                )
                .when(inc.isNotNull(), cur)  # anchorless: stays residual
                .otherwise(F.coalesce(x[c], cur))
            ).alias(c)

        def unset_after():
            # x's $set/$inc on c re-materializes it; x's $unset adds it
            cleared = F.filter(
                F.coalesce(acc["unset_cols"], _EMPTY_ARR),
                lambda k: ~_struct_field_nonnull(x, non_key_payload, k)
                & F.element_at(F.coalesce(x["inc_map"], _EMPTY_MAP), k).isNull(),
            )
            return F.array_union(cleared, F.coalesce(x["unset_cols"], _EMPTY_ARR))

        def inc_after(c):
            acc_res = F.element_at(F.coalesce(acc["inc_map"], _EMPTY_MAP), F.lit(c))
            inc = _x_inc(x, c)
            return (
                # x set/unset c → anchor now exists, residual cleared
                F.when(_x_unset(x, c) | x[c].isNotNull(), F.lit(None).cast("double"))
                # anchorless inc accumulates as residual
                .when(
                    inc.isNotNull() & ~_anchor(acc, c),
                    F.coalesce(acc_res, F.lit(0.0)) + inc,
                )
                # anchored inc folded into the value column instead
                .when(inc.isNotNull(), F.lit(None).cast("double"))
                .otherwise(acc_res)
            )

        inc_map_after = F.map_filter(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in non_key_payload])
                if non_key_payload
                else _EMPTY_ARR,
                F.array(*[inc_after(c) for c in non_key_payload])
                if non_key_payload
                else F.array().cast("array<double>"),
            ),
            lambda _k, v: v.isNotNull(),
        )
        patched = F.struct(
            x["ts"].alias("ts"),
            *([x["seq"].alias("seq")] if seq_col else []),
            F.lit("u").alias("op"),
            acc["is_patch"].alias("is_patch"),
            unset_after().alias("unset_cols"),
            inc_map_after.alias("inc_map"),
            *[patched_col(c) for c in non_key_payload],
        )
        return (
            F.when(acc.isNull() | x_del | ~x_patch, x)
            .when(acc_del, acc)
            .otherwise(patched)
        )

    init = F.lit(None).cast(elem_type)
    folded = grouped.withColumn("_net", F.aggregate(F.col("_evs"), init, step))

    return folded.select(
        *key_cols,
        *[F.col(f"_net.{c}").alias(c) for c in non_key_payload],
        F.col("_net.ts").alias(ts_col),
        F.when(F.col("_net.op") == "d", F.lit("d")).otherwise(F.lit("u")).alias("_op"),
        F.coalesce(F.col("_net.is_patch"), F.lit(False)).alias("_is_patch"),
        F.coalesce(
            F.col("_net.unset_cols"), F.array().cast("array<string>")
        ).alias("_unset_cols"),
        F.coalesce(
            F.col("_net.inc_map"),
            F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<double>")
            ),
        ).alias("_inc_map"),
    )


def _struct_field_nonnull(x, cols, k):
    """x[c].isNotNull() dispatched on a runtime column name k."""
    expr = F.lit(False)
    for c in cols:
        expr = F.when(k == F.lit(c), x[c].isNotNull()).otherwise(expr)
    return expr
