"""Field projection — P6/P7.

Reference: ``gen_doc_with_fields`` keeps only configured dotted-path fields,
rebuilding nesting (/root/reference/mongosync/doc_utils.py:37-49, helpers
:4-34); configured via ``fieldmap`` (config_file.py:56-67). In Spark this is
plain column pruning (Catalyst pushes it into the parquet scan), with dotted
paths resolving into struct columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from py_mongo_sync_spark.config import SyncConfig
from py_mongo_sync_spark.exprcache import per_context


def project_fields(
    df: DataFrame, cfg: SyncConfig, always_keep: list[str] | None = None
) -> DataFrame:
    """Keep only ``cfg.include_fields`` payload columns (dotted paths allowed
    for struct columns), plus ``always_keep`` (keys/envelope). Empty
    allowlist ⇒ identity, matching the reference (fields unset ⇒ whole doc,
    es/syncer.py:80-84)."""
    if not cfg.include_fields:
        return df
    return df.select(*_projection(
        frozenset(cfg.include_fields), tuple(always_keep or ()), tuple(df.columns)
    ))


@per_context
def _projection(
    include_fields: frozenset[str], keep: tuple[str, ...], columns: tuple[str, ...]
) -> tuple[Column, ...]:
    cols = [F.col(c) for c in keep]
    for path in sorted(include_fields):
        if path in keep:
            continue
        top = path.split(".", 1)[0]
        if top not in columns:
            continue
        # dotted path into a struct → re-nest under the top-level name like
        # doc_flat_to_nested (doc_utils.py:4-21); flat column → as-is.
        cols.append(F.col(path).alias(path.replace(".", "_")) if "." in path else F.col(path))
    return tuple(cols)


def flat_to_nested(df: DataFrame, paths: list[str]) -> DataFrame:
    """General flat→nested rebuild — the full ``doc_flat_to_nested``
    analogue (/root/reference/mongosync/doc_utils.py:4-21): dotted column
    names regroup into arbitrarily deep structs. ``a.b.c`` + ``a.b.d`` +
    ``a.e`` → one ``a`` struct with a nested ``b`` struct. Columns not
    named in ``paths`` pass through."""
    tree: dict = {}
    for path in paths:
        parts = path.split(".")
        node = tree
        for p in parts[:-1]:
            node = node.setdefault(p, {})
            if not isinstance(node, dict):
                raise ValueError(f"path conflict at {p!r} in {path!r}")
        node[parts[-1]] = path

    def build(node: dict):
        fields = []
        for name in sorted(node):
            sub = node[name]
            if isinstance(sub, dict):
                fields.append(build(sub).alias(name))
            else:
                fields.append(F.col(f"`{sub}`").alias(name))
        return F.struct(*fields)

    passthrough = [c for c in df.columns if c not in paths]
    return df.select(
        *[F.col(c) for c in passthrough],
        *[build(tree[top]).alias(top) if isinstance(tree[top], dict)
          else F.col(f"`{tree[top]}`").alias(top)
          for top in sorted(tree)],
    )


def nested_to_flat(df: DataFrame, struct_cols: list[str] | None = None) -> DataFrame:
    """General nested→flat: struct columns expand recursively into dotted
    names (``get_val_by_flat_keys`` inverse, doc_utils.py:24-34)."""
    from pyspark.sql import types as T

    targets = struct_cols if struct_cols is not None else [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StructType)
    ]

    def expand(prefix: str, dtype: T.StructType):
        cols = []
        for f in dtype.fields:
            path = f"{prefix}.{f.name}"
            if isinstance(f.dataType, T.StructType):
                cols.extend(expand(path, f.dataType))
            else:
                cols.append(F.col(f"`{prefix}`.{f.name}" if "." not in prefix
                                  else path).alias(path))
        return cols

    out = []
    for f in df.schema.fields:
        if f.name in targets and isinstance(f.dataType, T.StructType):
            out.extend(expand(f.name, f.dataType))
        else:
            out.append(F.col(f"`{f.name}`"))
    return df.select(*out)

