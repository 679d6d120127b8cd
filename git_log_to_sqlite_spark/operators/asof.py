"""General event-time as-of join (nearest prior/following right-side
row per left row, within a key).

Implementation: the union + last(ignorenulls) window trick —
  1. tag left rows (queries) and right rows (points), union them;
  2. one window per key ordered by (ts, is_query, tie): a running
     ``last(value, ignorenulls=True)`` carries the latest point value
     forward (descending order for direction="forward");
  3. keep query rows; a tolerance bound nulls out matches farther than
     the allowed time distance.

Cost: ONE shuffle on the key + one ordered pass — no range-join
explosion, no per-row subquery; scales to billions of points. This is
the composition form from SURVEY.md section 2.2 (as-of row); a
``pd.merge_asof``-based ``applyInPandas`` variant is deliberately NOT
the default — it moves both sides through Arrow for semantics the
window already expresses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    tie_col: str | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """For each left row, attach the nearest right-side ``value_cols``
    with the same ``key``, each as ``<col>_asof`` — the most recent
    with ``right_ts <= left_ts`` (direction="backward", default) or the
    earliest with ``right_ts >= left_ts`` (direction="forward").

    ``tie_col`` breaks ordering ties among right rows at equal
    timestamps (highest wins); required for deterministic output when
    duplicate timestamps exist. ``tolerance_seconds`` nulls out a match
    farther than the bound from the query timestamp (pd.merge_asof's
    ``tolerance``).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    left_cols = left.columns
    tie = F.col(tie_col) if tie_col else F.lit(0)

    q = left.select(
        *left_cols,
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_q"),
        F.lit(None).cast("long").alias("_tie"),
        F.lit(None).cast(dict(right.dtypes)[right_ts]).alias("_v___mts"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"_v_{c}") for c in value_cols],
    )
    p = right.select(
        *[F.lit(None).cast(dict(left.dtypes).get(c, "string")).alias(c) for c in left_cols],
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_q"),
        tie.cast("long").alias("_tie"),
        F.col(right_ts).alias("_v___mts"),
        *[F.col(c).alias(f"_v_{c}") for c in value_cols],
    )
    if direction == "backward":
        # points sort before queries at equal ts (point at ts qualifies);
        # among equal-ts points the highest tie is seen last -> wins
        order = [F.col("_ts").asc(), F.col("_is_q").asc(), F.col("_tie").asc()]
    else:
        # walk time backwards: last-seen point = smallest ts >= query ts
        order = [F.col("_ts").desc(), F.col("_is_q").asc(), F.col("_tie").asc()]
    w = (
        Window.partitionBy("_k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ["__mts"] + value_cols
    filled = q.unionByName(p).select(
        *left_cols,
        "_is_q",
        F.col("_ts").alias("_qts"),
        *[F.last(f"_v_{c}", ignorenulls=True).over(w).alias(f"_f_{c}") for c in carried],
    )
    out_vals = []
    for c in value_cols:
        v = F.col(f"_f_{c}")
        if tolerance_seconds is not None:
            # Leading TIMESTAMP cast makes the distance NTZ-proof (a
            # direct double cast on TIMESTAMP_NTZ throws); on numeric
            # epoch-seconds columns the round-trip is value-preserving.
            dist = F.abs(
                F.col("_qts").cast("timestamp").cast("double")
                - F.col("_f___mts").cast("timestamp").cast("double")
            )
            v = F.when(dist <= tolerance_seconds, v)
        out_vals.append(v.alias(f"{c}_asof"))
    return (
        filled.filter(F.col("_is_q") == 1)
        .select(*left_cols, *out_vals)
    )
