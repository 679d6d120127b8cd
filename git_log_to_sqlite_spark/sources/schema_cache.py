"""Fingerprint-keyed parquet schema cache, and the ``events`` table's
declared schema and ``ts`` decode, which read through it.

Measured (round 16 plan-cost sweep, OPTIMIZATION_r16.md §1): every
``spark.read.parquet(path)`` fires a schema-inference job — a file
listing plus a footer read — costing ~0.19 s on this box, on EVERY
call, even for a path read moments earlier. The registry's ``table()``
choke point is called 1-4 times per query CONSTRUCTION, and the bench
re-constructs each query per timed run, so inference was a fixed tax of
~0.2-0.8 s per measured run that had nothing to do with the data work.
Supplying the schema explicitly (``spark.read.schema(s).parquet(p)``)
measured 0.03-0.05 s and ZERO jobs — inference is skipped entirely.

At deployment scale the same tax is worse, not better: schema inference
on a 10k-part-file dataset lists the whole prefix and fetches footers
per query. Production Spark pipelines pass explicit schemas for exactly
this reason; this cache gets that behavior without asking the caller to
hand-maintain StructTypes.

Correctness rule: the cache key is ``(path, fingerprint)`` where the
fingerprint is the recursive (size, mtime_ns) listing of the path — a
regenerated or re-encoded file changes the fingerprint and re-infers,
so a stale schema is never served for rewritten data (a stale events
``ts`` type would silently misdecode every timestamp by 1000x).
Unstattable paths (object stores) return no cached schema and the
caller falls back to plain inference — never a wrong answer.

The cache stores ONE entry per path (keyed value holds the fingerprint)
so a path rewritten in a loop cannot grow the dict unboundedly.

The fingerprint's own cost is measured (the 100x lens applied to the
fix itself): the recursive stat walk is linear at ~4.7 us/file — 0.45
ms at 100 part files, 47 ms at 10,000 — so even at deployment part
counts the cache-hit path stays well under the ~0.19 s inference job
it replaces; object-store paths don't pay the walk at all (unstattable
-> plain inference).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
_UNSTATTABLE = ("unstattable",)

# path -> (fingerprint, schema). Replaced wholesale when the
# fingerprint moves; bounded by the number of distinct paths read.
# Concurrent callers (queries on shared-session threads) race only to
# duplicate an inference — dict get/set are GIL-atomic and both
# winners store the same schema, so no locking is needed.
_CACHE: dict[str, tuple[tuple, StructType]] = {}


def _fingerprint(path: str) -> tuple:
    """Cheap local-file identity for cache invalidation: (size,
    mtime_ns) of the file, or of every FILE under a directory of part
    files, walked recursively — partitioned layouts nest part files
    one level down (``date=.../part-*.parquet``), and a directory's
    own mtime does NOT change when a child file is rewritten in place,
    so a top-level-only listing would serve a stale schema for exactly
    the in-place re-encode this cache key exists to catch. Non-local /
    unstattable paths (object stores) return :data:`_UNSTATTABLE`."""
    def _raise(err: OSError) -> None:
        # os.walk's default is to silently SKIP unlistable directories,
        # which would return a fingerprint that omits their part files
        # — a later in-place rewrite there would not change the cache
        # key. Re-raise so the except below falls back to the safe
        # "unstattable" constant (= no caching) instead.
        raise err

    try:
        st = os.stat(path)
        if os.path.isdir(path):
            entries = []
            for root, _dirs, files in os.walk(path, onerror=_raise):
                rel = os.path.relpath(root, path)
                for name in files:
                    fst = os.stat(os.path.join(root, name))
                    entries.append(
                        (os.path.join(rel, name), fst.st_size, fst.st_mtime_ns)
                    )
            return tuple(sorted(entries))
        return (st.st_size, st.st_mtime_ns)
    except OSError:
        return _UNSTATTABLE


def clear_schema_cache() -> None:
    """Test/maintenance hook: drop every cached schema."""
    _CACHE.clear()


def cached_parquet_schema(spark: SparkSession, path: str) -> StructType | None:
    """Return the parquet schema for ``path``, inferring at most once
    per (path, content fingerprint); ``None`` when the path cannot be
    fingerprinted (caller should fall back to plain inference).

    The schema is inferred under the session confs active at the first
    call and served verbatim thereafter. A TIMESTAMP(NANOS) file
    cannot be inferred here; the events file's schema is cached
    through :func:`events_schema`."""
    fp, schema = _lookup(path)
    if fp == _UNSTATTABLE:
        return None
    return schema if schema is not None else _infer(spark, path, fp)


def _lookup(path: str) -> tuple[tuple, StructType | None]:
    """``(fingerprint, cached schema or None)`` for ``path``; an
    unstattable path is never stored, so it always misses."""
    fp = _fingerprint(path)
    hit = _CACHE.get(path)
    return fp, (hit[1] if hit is not None and hit[0] == fp else None)


def _infer(spark: SparkSession, path: str, fp: tuple) -> StructType:
    schema = spark.read.parquet(path).schema
    if fp != _UNSTATTABLE:
        _CACHE[path] = (fp, schema)
    return schema


def read_parquet_cached(spark: SparkSession, path: str):
    """``spark.read.parquet(path)`` with the schema declared from the
    fingerprint cache when available — the drop-in form for read paths
    called repeatedly on slowly-changing data (persisted stores, the
    registry's ``table()``). Appends/rewrites move the fingerprint and
    re-infer; unstattable paths read plain (identical behavior, plus
    the inference job)."""
    schema = cached_parquet_schema(spark, path)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


def events_schema(spark: SparkSession, path: str) -> StructType:
    """The schema every ``events`` read declares: the file's own
    columns, with ``ts`` as ``bigint`` (the raw nanos of a
    TIMESTAMP(NANOS) file), ``timestamp_ntz`` (``timestamp[us]``, no
    tz) or ``timestamp``. Served from the fingerprint cache, so the
    file is inferred once.

    Spark cannot infer a TIMESTAMP(NANOS) schema without
    ``spark.sql.legacy.parquet.nanosAsLong``, but a read that declares
    ``ts bigint`` returns the raw nanos with the conf unset. So a miss
    infers in a private session (``spark.newSession()``, which shares
    the SparkContext and never becomes the active or default session)
    with the conf set on that session only; the caller's conf is never
    read or written. Any other table's TIMESTAMP(NANOS) column still
    fails to infer, every time."""
    fp, schema = _lookup(path)
    if schema is not None:
        return schema
    private = spark.newSession()
    private.conf.set(_NANOS_CONF, "true")
    return _infer(private, path, fp)


def with_event_time(df: DataFrame, schema: StructType) -> DataFrame:
    """Decode the ``ts`` of an events frame read with the declared
    ``schema`` (:func:`events_schema`) to TIMESTAMP, batch or stream:

    * raw nanos: integer division to micros (a double division would
      lose precision on 1e18-scale nanos; DuckDB truncates the same
      nanos to micros);
    * TIMESTAMP_NTZ: cast under the session TZ, pinned to UTC, so the
      wall clock, and the epoch value DuckDB's naive read produces, is
      unchanged;
    * TIMESTAMP: passthrough."""
    ts_dtype = schema["ts"].dataType.simpleString()
    if ts_dtype == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if ts_dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
