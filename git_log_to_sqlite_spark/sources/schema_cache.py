"""Fingerprint-keyed parquet schema cache.

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

Correctness rule (same as the events ts-probe cache, whose
content fingerprint this module shares): the cache key is
``(path, fingerprint)`` where the fingerprint is the recursive
(size, mtime_ns) listing of the path — a regenerated or re-encoded
file changes the fingerprint and re-infers, so a stale schema is never
served for rewritten data. Unstattable paths (object stores) return no
cached schema and the caller falls back to plain inference — the
pre-round-16 behavior, never a wrong answer.

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

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from .events_probe import content_fingerprint

_UNSTATTABLE = ("unstattable",)

# path -> (fingerprint, schema). Replaced wholesale when the
# fingerprint moves; bounded by the number of distinct paths read.
# Concurrent callers (queries on shared-session threads) race only to
# duplicate an inference — dict get/set are GIL-atomic and both
# winners store the same schema, so no locking is needed.
_CACHE: dict[str, tuple[tuple, StructType]] = {}


def clear_schema_cache() -> None:
    """Test/maintenance hook: drop every cached schema."""
    _CACHE.clear()


def cached_parquet_schema(spark: SparkSession, path: str) -> StructType | None:
    """Return the parquet schema for ``path``, inferring at most once
    per (path, content fingerprint); ``None`` when the path cannot be
    fingerprinted (caller should fall back to plain inference).

    NOTE for conf-sensitive reads (the events nanos case): the schema
    is inferred under the session confs ACTIVE AT FIRST CALL and served
    verbatim thereafter. Callers that flip read-affecting confs must
    probe/latch them BEFORE asking for the schema — the events path
    does (``probe_events_ts`` runs first and re-latches on cache hits).
    """
    fp = content_fingerprint(path)
    if fp == _UNSTATTABLE:
        return None
    hit = _CACHE.get(path)
    if hit is not None and hit[0] == fp:
        return hit[1]
    schema = spark.read.parquet(path).schema
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
