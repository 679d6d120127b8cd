"""Skew mitigation: salted two-phase aggregation.

AQE's skew-join splitting (on by default in session.py) handles most
skew at runtime by splitting oversized shuffle partitions. This module
covers the case AQE cannot fix: a single hot GROUP BY key whose
partial aggregate still lands on one reducer — ``salted_aggregate``
splits each key across B sub-keys and recombines, so the hot key's
work spreads over B tasks.

Pair joins (the LSH band self/probe joins, the SemDeDup cell join) are
not salted: their defence against a hot bucket is the hot-key valve in
``dedup`` (each pair operator's ``cap_hot_keys`` switch), which drops
above-cap buckets before the join and reports what it dropped.

Salts are deterministic (hash of a caller-named unique column, never
rand()): results are reproducible and retried tasks can't double-count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Algebraic aggregates decompose into (partial op, final op) — the same
# pair Spark's own HashAggregate partial/final split uses.
_MERGEABLE = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def _salt(unique_col: Column, buckets: int) -> Column:
    return F.pmod(F.xxhash64(unique_col), F.lit(buckets)).cast("int")


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_from: str,
    buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation with an explicit salt on the first shuffle.

    ``aggs`` maps output name -> (op, column) with op in sum / count /
    min / max (the algebraic set that re-merges exactly). Phase 1
    groups by (keys, salt) — the hot key spreads over ``buckets``
    reducers; phase 2 merges the B partials per key. Total shuffle rows:
    |keys| x B (phase 2 input), versus a single-phase plan funneling
    every hot-key row through one reducer.
    """
    for name, (op, _col) in aggs.items():
        if op not in _MERGEABLE:
            raise ValueError(f"{name}: op {op!r} is not mergeable (use {sorted(_MERGEABLE)})")
    salted = df.withColumn("_salt", _salt(F.col(salt_from), buckets))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[
            _MERGEABLE[op][0](F.col(c)).alias(f"_p_{name}")
            for name, (op, c) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            _MERGEABLE[op][1](F.col(f"_p_{name}")).alias(name)
            for name, (op, _c) in aggs.items()
        ]
    )
