"""Plan expressions built once per SparkContext and signature.

Every ``F.*`` node, window spec and UDF wrap costs several py4j round
trips to the driver JVM, and one CDC microbatch's fold, envelope filters
and MERGE projections hold thousands of such nodes. They depend on the
batch's schema and the pipeline's config, never on its rows, so a builder
wrapped in :func:`per_context` runs once per signature and later batches
reuse its ``Column`` objects: a batch pays only for its handful of
DataFrame operations and Spark jobs.

A builder's positional arguments are its whole cache key. So a builder
takes every value its expressions depend on as a hashable argument
(column names, type strings, schema JSON, tuples, frozensets) and reads
nothing else but module constants. The cache is also keyed on the live
SparkContext: a Python UDF's JVM form captures its context's Python exec
and accumulator, and Columns built under a stopped context must not reach
the next one. Entries live as long as their context; there is one per
distinct signature (table schema, source schema, config) the process has
seen. Every caller gets the same object, so builders return tuples and
Columns (immutable) and schemas that callers only read.
"""

from __future__ import annotations

import functools
import threading
import weakref

from pyspark import SparkContext

_MISS = object()


def per_context(build):
    """Memoize ``build(*key)`` per live SparkContext (module doc)."""
    caches: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
    lock = threading.Lock()

    @functools.wraps(build)
    def cached(*key):
        sc = SparkContext._active_spark_context
        if sc is None:
            raise RuntimeError(f"{build.__name__}: no active SparkContext")
        with lock:
            memo = caches.setdefault(sc, {})
            hit = memo.get(key, _MISS)
        if hit is _MISS:
            # built outside the lock (py4j calls); a concurrent duplicate
            # build is discarded so every caller gets the same object
            built = build(*key)
            with lock:
                hit = memo.setdefault(key, built)
        return hit

    return cached
