"""Scale-safe global ordered computations (running sums, row numbers).

``Window.orderBy(...)`` with no partition key funnels every row through
ONE reducer — the classic single-machine bottleneck hiding inside a
distributed plan (Spark even warns: "No Partition Defined for Window
operation"). These operators compute the same totally-ordered result in
two phases, the textbook parallel prefix-sum shape:

1. **Contiguous bucketing on the order key.** An in-plan broadcast
   (min, max) of a numeric proxy of the first order column assigns each
   row its equal-width bucket (`_bucketed_with_pid`): lazy, visible to
   Catalyst, and deterministic under recomputation because the pid is a
   function of the row's value, not of partitioner state. Numeric keys
   are their own proxy; string keys use their first UTF-8 bytes
   (`_bucket_key`). Each bucket computes its LOCAL running sum / row
   number in parallel — the window partitions on the bucket id, never
   on a single global partition.
2. **Offsets**: one tiny aggregate (one row per bucket) is
   prefix-summed and broadcast back; adding `offset[pid]` to the local
   value yields the exact global result.

Cost: one pid shuffle of the data, a one-row (min, max) aggregate and a
broadcast-joined aggregate of #partitions rows — versus the global
window's shuffle of EVERYTHING to one reducer. The only remaining
global sort is over the per-partition totals, bounded by the shuffle
partition count (thousands of rows at most). Construction runs no
Spark job.

Determinism: the order columns must form a total order (unique key) —
the same requirement the global-window formulation has for a stable
result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)

_PID = "__ordered_pid"
_LOCAL = "__ordered_local"
_OFFSET = "__ordered_offset"
_LO = "__ordered_lo"
_HI = "__ordered_hi"

_NUMERIC_FIRST = (
    ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType, DecimalType,
)


def _bucket_key(df: DataFrame, col: str) -> F.Column:
    """A double that is monotone (non-strict) in ``col``'s sort order.

    Numeric columns cast to double. A string column maps to its first 7
    UTF-8 bytes read as a big-endian unsigned integer, zero-padded on
    the right (``''`` is 0, NULL stays NULL): Spark orders strings by
    unsigned bytes, so ``a < b`` implies ``key(a) <= key(b)``, and
    strings sharing a 7-byte prefix tie. Casting the 56-bit value to a
    double rounds it, which is monotone too. Keys that use only
    part of the byte range land in fewer buckets: lowercase hex hashes
    (``0-9``, ``a-f``) cover two short runs of the first byte's range.
    """
    dtype = df.schema[col].dataType
    if isinstance(dtype, _NUMERIC_FIRST):
        return F.col(col).cast("double")
    if isinstance(dtype, StringType):
        prefix = F.hex(F.substring(F.col(col).cast("binary"), 1, 7))
        return F.conv(F.rpad(prefix, 14, "0"), 16, 10).cast("double")
    raise TypeError(
        f"ordered operators need a numeric or string first order column; "
        f"{col!r} is {dtype.simpleString()}"
    )


def _bucketed_with_pid(
    df: DataFrame, order_cols: list[str], num_partitions: int | None
) -> DataFrame:
    """``df`` plus its bucket id: equal-width buckets over the (min,
    max) range of the first order column's ``_bucket_key``.

    Lazy: the (min, max) aggregate is a broadcast inside the plan, so
    constructing the frame runs no job (the retired
    ``repartitionByRange`` + ``localCheckpoint`` form materialized its
    input at construction under AQE). The pid is a function of the
    row's value, so every recomputation reproduces it. The frame is
    pinned (``caching.pin``: lazy persist + registry) so the totals
    branch and the local-window branch share one computation of the
    upstream plan; if the cache is evicted, recomputation is correct,
    just slower.

    Bucketing correctness does not depend on balance: the pid is
    monotone (non-strict) in the first order column, rows tying on its
    key share a bucket, and the local window orders by the FULL key
    inside the bucket, so the offset identity holds for ANY bounds.
    Balance — parallelism, not correctness — assumes a roughly uniform
    key. Skewed keys degrade to fewer effective buckets, never to wrong
    results: NaN and +inf keys land in the top bucket (their sort
    position), a -inf/degenerate range collapses to one bucket, null
    keys take bucket 0 (nulls-first sort position).
    """
    from .caching import pin

    sess = df.sparkSession
    n = int(
        num_partitions
        or sess.conf.get("spark.sql.shuffle.partitions", "200")
    )
    n = max(n, 1)
    if n == 1:
        return pin(df.withColumn(_PID, F.lit(0)))
    key = _bucket_key(df, order_cols[0])
    rng = df.select(F.min(key).alias(_LO), F.max(key).alias(_HI))
    span = F.col(_HI) - F.col(_LO)
    frac = (key - F.col(_LO)) / span
    safe = (
        F.when(F.isnan(frac) | (frac > 1.0), F.lit(1.0))
        .when(frac < 0.0, F.lit(0.0))
        .otherwise(frac)
    )
    # Null keys FIRST and explicitly: for a null key ``frac`` is null,
    # ``safe`` stays null (``isnan(null)`` and ``null < 0`` are null,
    # so both WHEN branches are skipped and OTHERWISE passes the null
    # through), and ``least(null, n-1)`` — which SKIPS nulls — would
    # return ``n-1``: a non-null value, so the coalesce rescue below
    # never fires and nulls would land in the TOP bucket while the
    # local window sorts them FIRST (Spark default nulls-first),
    # breaking the offset identity. Bucket 0 is their sort position.
    pid = F.when(key.isNull(), F.lit(0)).otherwise(
        F.least(F.floor(safe * n), F.lit(n - 1).cast("bigint")).cast("int")
    )
    bucketed = (
        df.crossJoin(F.broadcast(rng))
        .withColumn(
            _PID,
            F.coalesce(F.when(span > 0, pid).otherwise(F.lit(0)), F.lit(0)),
        )
        .drop(_LO, _HI)
    )
    return pin(bucketed)


def _attach_offsets(bucketed: DataFrame, partial: F.Column, local_fn,
                    order_cols: list[str], out_col: str) -> DataFrame:
    """partial: per-row contribution aggregated per pid; local_fn: maps
    the partition-local window spec to the windowed value the offset is
    added to."""
    totals = bucketed.groupBy(_PID).agg(partial.alias("_ptotal"))
    # Global window over #partitions rows only — bounded, not a
    # data-sized single-reducer sort (warning suppressed at the logger
    # in session.get_spark; a lit(0) partition key gets folded away).
    off_w = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        _PID, F.coalesce(F.sum("_ptotal").over(off_w), F.lit(0)).alias(_OFFSET)
    )
    local_w = Window.partitionBy(_PID).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        bucketed.withColumn(_LOCAL, local_fn(local_w))
        .join(F.broadcast(offsets), _PID)
        .withColumn(out_col, F.col(_LOCAL) + F.col(_OFFSET))
        .drop(_PID, _LOCAL, _OFFSET)
    )


def ordered_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running sum of ``value_col`` over the total order
    ``order_cols``, computed with partition-parallel windows (see module
    docstring). Equivalent to
    ``SUM(value) OVER (ORDER BY order_cols ROWS UNBOUNDED PRECEDING)``.
    """
    bucketed = _bucketed_with_pid(df, order_cols, num_partitions)
    return _attach_offsets(
        bucketed, F.sum(value_col), lambda w: F.sum(value_col).over(w), order_cols, out_col
    )


def ordered_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "row_number",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global 1-based row number over the total order
    ``order_cols`` — the scale-safe replacement for AUTOINCREMENT-style
    id assignment. Equivalent to
    ``ROW_NUMBER() OVER (ORDER BY order_cols)``.
    """
    bucketed = _bucketed_with_pid(df, order_cols, num_partitions)
    return _attach_offsets(
        bucketed,
        F.count(F.lit(1)),
        lambda w: F.row_number().over(w).cast("long"),
        order_cols,
        out_col,
    )
