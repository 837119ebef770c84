"""Multimodal column plumbing — image/audio/video as opaque binary columns
with typed metadata.

The decode/resize/feature kernels themselves are STUBBED (no image/audio
libs in this container): they raise NotImplementedError unless
``fake=True``, in which case they produce a deterministic fake derived
from the payload bytes. What IS real and tested: the Spark-side plumbing
— binary schema, Arrow batch shape through ``mapInPandas``, partition
sizing, and the contracts downstream operators consume (metadata rows,
fixed-size resized binaries, float feature vectors that feed the
similarity/ANN operators directly — the fake feature math is md5-derived
so the driver's DuckDB oracle hash-verifies the whole Arrow path).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame


def decode_image(payload: bytes, fake: bool = False) -> dict:
    """STUB: real impl would use PIL/libvips (absent here)."""
    if not fake:
        raise NotImplementedError("image decode requires PIL/libvips — not in this environment")
    # deterministic fake dimensions from the payload bytes
    h = sum(payload[:8]) if payload else 0
    return {"width": 64 + (h % 193), "height": 64 + ((h * 7) % 131), "mode": "RGB"}


def extract_binary_metadata(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """Arrow-batched metadata extraction over a binary column. The UDF sees
    pandas batches (thousands of rows per Arrow batch), never single rows —
    the exact shape a real decode/resize/frame-sample kernel plugs into."""
    schema = f"{id_col} long, n_bytes long, kind string, width int, height int"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[binary_col]
            metas = [decode_image(bytes(p or b""), fake=True) for p in payloads]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "n_bytes": [len(bytes(p or b"")) for p in payloads],
                    "kind": ["image"] * len(pdf),
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                }
            )

    return df.mapInPandas(op, schema=schema)


def resize_image(df: DataFrame, binary_col: str, id_col: str,
                 target_w: int = 32, target_h: int = 32,
                 fake: bool = False) -> DataFrame:
    """Resize plumbing: binary in → binary out through the same Arrow
    batch path a real resampler (PIL/libvips) would use. The fake kernel
    is a deterministic byte resample (stride-sampled payload padded to
    exactly target_w*target_h bytes) so output SIZES and schema are real
    even though pixels are not."""
    if not fake:
        raise NotImplementedError(
            "image resize requires PIL/libvips — not in this environment"
        )
    schema = f"{id_col} long, resized binary, width int, height int"
    n_out = target_w * target_h

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for p in pdf[binary_col]:
                b = bytes(p or b"")
                step = max(1, len(b) // n_out) if b else 1
                sampled = b[::step][:n_out]
                outs.append(sampled + bytes(n_out - len(sampled)))
            yield pd.DataFrame({
                id_col: pdf[id_col].values,
                "resized": outs,
                "width": [target_w] * len(pdf),
                "height": [target_h] * len(pdf),
            })

    return df.mapInPandas(op, schema=schema)


def extract_features(df: DataFrame, binary_col: str, id_col: str,
                     dim: int = 8, fake: bool = False) -> DataFrame:
    """Feature-extraction plumbing: binary in → float vector out (the
    CLIP/wav2vec slot). The fake kernel derives component i from
    md5(hex(payload) + "," + i) mapped to [-1, 1] — deterministic AND
    rebuildable in SQL (the driver oracle recomputes the identical
    vectors in DuckDB), so the Arrow-batch path is hash-verified
    end-to-end. Output feeds the similarity/ANN operators directly."""
    if not fake:
        raise NotImplementedError(
            "feature extraction requires a vision/audio model — not in this environment"
        )
    import hashlib

    schema = (f"{id_col} long, " +
              ", ".join(f"f{i} double" for i in range(dim)))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict = {id_col: pdf[id_col].values}
            hexes = [bytes(p or b"").hex() for p in pdf[binary_col]]
            for i in range(dim):
                cols[f"f{i}"] = [
                    ((int(hashlib.md5(f"{hx},{i}".encode()).hexdigest()[:8], 16)
                      % 2001) - 1000) / 1000.0
                    for hx in hexes
                ]
            yield pd.DataFrame(cols)

    return df.mapInPandas(op, schema=schema)


def frame_sample_plan(df: DataFrame, binary_col: str, id_col: str, every_n: int = 30) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled frame index,
    derived from (fake-)decoded metadata — demonstrates the explode shape a
    real frame extractor would feed."""
    from pyspark.sql import functions as F

    meta = extract_binary_metadata(df, binary_col, id_col)
    n_frames = (F.col("n_bytes") / 100).cast("int") + 1
    return meta.select(
        id_col,
        F.explode(F.sequence(F.lit(0), n_frames, F.lit(every_n))).alias("frame_idx"),
    )
