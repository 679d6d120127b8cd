"""Fingerprint-keyed parquet schema cache, and the events table's
timestamp-encoding probe that reads through it.

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

from pyspark.sql import SparkSession
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
    call and served verbatim thereafter. Only the legacy nanos conf
    changes what a read infers, and only for a TIMESTAMP(NANOS) file,
    which cannot be inferred at all without it — so such a file's
    schema is cached only through :func:`probe_events_ts`, which sets
    the conf first."""
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


def _restore_nanos_conf(spark: SparkSession, prior: str | None) -> None:
    if prior is None:
        spark.conf.unset(_NANOS_CONF)
    else:
        spark.conf.set(_NANOS_CONF, prior)


def probe_events_ts(spark: SparkSession, path: str) -> tuple[str, StructType]:
    """Return ``(ts dtype, schema)`` of the events file at ``path`` as
    Spark reads it; the dtype is ``"bigint"`` (TIMESTAMP(NANOS) under
    the legacy conf), ``"timestamp_ntz"`` (timestamp[us], no tz), or
    ``"timestamp"``. Shared by the batch choke point
    (plans/registry.table) and the streaming replay source
    (streaming/replay.read_events_stream), so the legacy-conf lifetime
    rule lives in exactly one place. The schema comes from the
    fingerprint cache, so the file is inferred once, not once for the
    probe and again for the read.

    On a cache miss the probe needs
    ``spark.sql.legacy.parquet.nanosAsLong=true`` set *speculatively* —
    a TIMESTAMP(NANOS) footer makes the read throw without it. The conf cannot simply be restored afterwards in every
    case, because for a genuinely nanos-encoded file it must also be
    active when the returned DataFrame / stream EXECUTES, not just at
    probe time. So the scope rule is:

    * file is NOT nanos-encoded (the common case): restore the conf to
      its prior state — no session-wide side effect leaks, and a later
      batch read of some other table with a real TIMESTAMP(NANOS)
      column fails loudly instead of silently coming back as bigint;
    * probe read THROWS (missing/corrupt path): restore the prior state
      before re-raising — a failed probe must not leave the speculative
      conf latched session-wide (the exact silent-bigint leak this
      rule exists to prevent);
    * file IS nanos-encoded: the conf stays set for the session — and
      is set again on a cache hit, since a frame built after the hit
      still needs it at execution time — and every parquet read of ANY
      nanos column in that session returns bigint, the invariant
      tests/test_event_time_encodings.py exercises. This bakes in the
      single-nanos-table assumption: ``events`` is the only
      nanos-candidate table in this engine's data model, so no OTHER
      table's read can be silently widened by the latched conf. A
      deployment adding a second TIMESTAMP(NANOS)-encoded table must
      normalize it through the same choke point (plans/registry.table)
      rather than reading it raw while an events probe may have
      latched the conf —
      tests/test_event_time_encodings.py::test_latched_nanos_conf_is_session_wide
      pins the latched behavior so the assumption is explicit.
    """
    fp, schema = _lookup(path)
    if schema is not None:
        # a hit writes the conf only to re-latch it for a nanos file; a
        # non-nanos hit leaves it alone, so concurrent probes cannot
        # interleave a set/restore pair and latch it by accident
        ts_dtype = schema["ts"].dataType.simpleString()
        if ts_dtype == "bigint":
            spark.conf.set(_NANOS_CONF, "true")
        return ts_dtype, schema
    prior = spark.conf.get(_NANOS_CONF, None)
    spark.conf.set(_NANOS_CONF, "true")
    try:
        schema = _infer(spark, path, fp)
        ts_dtype = schema["ts"].dataType.simpleString()
    except Exception:
        _restore_nanos_conf(spark, prior)
        raise
    if ts_dtype != "bigint":
        _restore_nanos_conf(spark, prior)
    return ts_dtype, schema
