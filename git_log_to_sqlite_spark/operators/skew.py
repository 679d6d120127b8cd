"""Skew mitigation: salted two-phase aggregation.

AQE's skew-join splitting (on by default in session.py) handles most
skew at runtime by splitting oversized shuffle partitions. This module
covers the case AQE cannot fix: a single hot GROUP BY key whose
partial aggregate still lands on one reducer — ``salted_aggregate``
splits each key across B sub-keys and recombines, so the hot key's
work spreads over B tasks.

Pair joins (the LSH band self/probe joins, the SemDeDup cell join) are
not salted: their defence against a hot bucket is the hot-key valve in
``dedup`` (``max_band_size`` / ``band_size_quantile``, ``max_df`` /
``max_df_quantile``), which drops above-cap buckets before the join and
reports what it dropped. ``_quantile_cap`` here is the valves' shared
bucket-size quantile statistic.

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


def _quantile_cap(d_values: DataFrame, q: float) -> DataFrame:
    """1-row ``(_max_df)`` DataFrame: the smallest posting-list length
    d* such that at least fraction ``q`` of (length >= 2) posting lists
    have length <= d* — a discrete quantile of the shingle
    document-frequency distribution, computed INSIDE the plan (no
    driver collect, no corpus constant) — the shared bucket-size
    quantile statistic behind the dedup valves.

    Takes a ``(d)`` DataFrame with one row per length-{>=2} posting
    list. Since round 7 the caller derives it from the PERSISTED
    per-shingle count table (the same table that drives the
    cap-before-collect hot-set filter), so the histogram costs no extra
    corpus pass. (Round 6 context: a separate count-aggregation over
    the exploded ``(_id, shingle)`` table can never share work with the
    posting build — the count-agg's partial differs from
    partial_collect_list, so the two branches never shared an exchange
    and the whole corpus was scanned + shingle-exploded TWICE, half the
    round-6 query's wall clock at sf0.1). The persisted set is exactly
    the repeated-shingle posting lists — a subset of the one shuffle
    output the pair explode consumes anyway, so it is never larger than
    the re-scan it replaces, and in natural corpora (rare shingles
    dominate) it is a small fraction of the corpus; MEMORY_AND_DISK
    spills instead of evicting under pressure.

    The fold here runs over the df *histogram* (one row per distinct
    posting-list length — bounded by the longest posting list,
    thousands of rows at worst at corpus scale), not over data; the
    same bounded-dimension argument that keeps build_repositories on
    the driver.

    Shape note (round 17, guide §2.4): this was previously a
    sort + two global windows + filter + global min-agg over the
    histogram — an Exchange SinglePartition for the window sort plus a
    second exchange for the final aggregate, each a serialized AQE
    query-stage dispatch on a frame of a few hundred rows.  Folding
    the sorted histogram ARRAY inside one global aggregate computes
    the identical d* with one exchange: partial collect_list combines
    map-side, sort_array orders by d (distinct, so the tie field never
    decides), and the running-sum crossing is the same integer compare
    as before, term for term.  Collecting the histogram into one array
    is exactly as bounded as the single-partition window it replaces —
    both put the whole histogram on one task.
    """
    hist = d_values.groupBy("d").agg(F.count(F.lit(1)).alias("n_sh"))
    # The threshold compare is pure integer arithmetic (cum * den >=
    # num * tot with q = num/den taken from q's decimal digits), so the
    # Spark and DuckDB twins can never disagree by a rounding ulp the
    # way ceil(double * count) can (e.g. 0.9 * 10 = 9.000000000000002
    # in doubles).
    from fractions import Fraction

    frac = Fraction(str(q))
    # _tot is an AGGREGATE output, not a projected fold: CollapseProject
    # would inline a projected fold into the crossing lambda below and
    # re-evaluate it PER ELEMENT (O(H^2) over the histogram); an
    # aggregate attribute cannot be inlined.
    one = hist.agg(
        F.sort_array(F.collect_list(F.struct("d", "n_sh"))).alias("_hist"),
        F.sum("n_sh").alias("_tot"),
    )
    # running sum in d order; `best` latches the FIRST d whose
    # cumulative count crosses q — the smallest such d, exactly the
    # min(d) the filtered-window form selected.
    crossing = F.aggregate(
        F.col("_hist"),
        F.struct(
            F.lit(0).cast("long").alias("cum"),
            F.lit(None).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            (acc["cum"] + x["n_sh"]).alias("cum"),
            F.coalesce(
                acc["best"],
                F.when(
                    (acc["cum"] + x["n_sh"]) * F.lit(frac.denominator)
                    >= F.lit(frac.numerator) * F.col("_tot"),
                    x["d"],
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return one.select(crossing.alias("_max_df"))
