"""Core relational operators: aggregation, joins, set ops, as-of.

Each query is the DataFrame-API plan (Catalyst picks the physical
strategy) plus an equivalent ANSI-SQL oracle.  Scale notes live on the
queries where the plan shape matters: broadcast hints on dimension
joins, partial aggregation, tie-broken top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .registry import register, table

# --- canonicalization helpers (see registry.py docstring) -------------

def dsum(col: Column) -> Column:
    """Order-independent sum of a double column: exact decimal addition,
    result cast back to double."""
    return F.sum(col.cast("decimal(18,4)")).cast("double")


def davg(col: Column) -> Column:
    """Deterministic average: exact decimal sum / count, double division."""
    return dsum(col) / F.count(col)


def dsum_mul(*factors: Column) -> Column:
    """Order-independent sum of a PRODUCT of double columns.

    Each factor is cast to decimal(10,2) BEFORE multiplying: the source
    values are clean 2-dp quantities, so the double->decimal cast is
    unambiguous, and the decimal multiply/sum is exact in both engines.
    (Casting the double *product* to decimal is NOT portable — Spark
    rounds the exact binary expansion, DuckDB rounds a scaled double,
    and they disagree near .00005 boundaries.)
    """
    prod = factors[0].cast("decimal(10,2)")
    for f in factors[1:]:
        prod = prod * f.cast("decimal(10,2)")
    return F.sum(prod).cast("double")


def _DSUM(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE)"


def _DSUM_MUL(*exprs: str) -> str:
    prod = " * ".join(f"CAST({e} AS DECIMAL(10,2))" for e in exprs)
    return f"CAST(SUM({prod}) AS DOUBLE)"


def _DAVG(expr: str) -> str:
    return f"{_DSUM(expr)} / COUNT({expr})"


# ----------------------------------------------------------------------
# Aggregation
# ----------------------------------------------------------------------

@register(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_DSUM('l_quantity')} AS sum_qty,
           {_DSUM('l_extendedprice')} AS sum_base_price,
           {_DSUM_MUL('l_extendedprice', '1 - l_discount')} AS sum_disc_price,
           {_DSUM_MUL('l_extendedprice', '1 - l_discount', '1 + l_tax')} AS sum_charge,
           {_DAVG('l_quantity')} AS avg_qty,
           {_DAVG('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: filtered scan -> hash aggregate with 7 aggs. "
    "Partial aggregation (map-side combine) keeps the shuffle at "
    "|groups| x partitions regardless of input size.",
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    one_m_disc = F.lit(1) - F.col("l_discount")
    one_p_tax = F.lit(1) + F.col("l_tax")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum_mul(price, one_m_disc).alias("sum_disc_price"),
            dsum_mul(price, one_m_disc, one_p_tax).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_global",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           {_DSUM('l_quantity')} AS total_qty,
           CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem
    """,
    doc="Global (no-key) aggregate: single-row result, all-partial "
    "aggregation then a 1-row final merge.",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        dsum(F.col("l_quantity")).alias("total_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           CAST(SUM(DISTINCT l_linenumber) AS BIGINT) AS sum_distinct_line
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Distinct aggregates: Spark expands to a two-phase "
    "(expand + partial + final) plan; DuckDB HUGEINT sum is cast to "
    "Spark's BIGINT width in the oracle.",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.sum_distinct(F.col("l_linenumber").cast("long")).alias("sum_distinct_line"),
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_extendedprice), 6) AS sd_price,
           ROUND(VAR_SAMP(l_discount), 6) AS var_disc,
           ROUND(CORR(l_extendedprice, l_quantity), 6) AS corr_pq,
           ROUND(COVAR_POP(l_extendedprice, l_quantity), 6) AS covar_pq
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Statistical aggregates, rounded to 6 dp (float-unstable under "
    "parallel reduction by nature).",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 6).alias("sd_price"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
        F.round(F.covar_pop("l_extendedprice", "l_quantity"), 6).alias("covar_pq"),
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact percentiles (linear interpolation); approx_percentile is "
    "bound-tested in pytest, never hash-compared.",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.5), 6).alias("median_price"),
        F.round(F.percentile("l_extendedprice", 0.9), 6).alias("p90_price"),
    )


@register(
    "agg_rollup",
    oracle=f"""
    SELECT COALESCE(r_name, 'ALL') AS region,
           COALESCE(n_name, 'ALL') AS nation,
           COUNT(*) AS n_customers,
           {_DSUM('c_acctbal')} AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="Hierarchical rollup over a 3-way dim join; both dims broadcast.",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    joined = c.join(n, c["c_nationkey"] == n["n_nationkey"]).join(
        r, n["n_regionkey"] == r["r_regionkey"]
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), dsum(F.col("c_acctbal")).alias("total_acctbal"))
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_acctbal",
        )
    )


@register(
    "agg_cube",
    oracle=f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n,
           {_DSUM('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE grouping sets (2^2 combinations).",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), dsum(F.col("l_quantity")).alias("sum_qty"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


@register(
    "agg_collect_sorted",
    oracle="""
    SELECT l_returnflag,
           string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
           COUNT(DISTINCT l_linestatus) AS n_statuses
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="collect_set made deterministic: sort_array + array_join "
    "(SURVEY 2.2: collect_list/set need an explicit sort for oracle "
    "parity).",
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias("statuses"),
        F.countDistinct("l_linestatus").alias("n_statuses"),
    )


@register(
    "agg_approx_distinct",
    oracle=None,  # approx: bound-tested in pytest, not hash-compared
    doc="HyperLogLog approx_count_distinct — the scale path for "
    "cardinality at 100 TB (no exact distinct shuffle).",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


@register(
    "agg_approx_percentile",
    oracle=None,  # approx sketch: bound-tested in pytest, not hash-compared
    doc="approx_percentile (t-digest class sketch) next to the exact "
    "value — the scale path for quantiles at 100 TB: the sketch "
    "merges map-side, the exact form needs a full sort per group.",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_median"),
        F.percentile("l_extendedprice", 0.5).alias("exact_median"),
    )


# ----------------------------------------------------------------------
# Joins
# ----------------------------------------------------------------------

@register(
    "join_revenue_per_customer",
    oracle=f"""
    SELECT c_custkey, c_name,
           COUNT(DISTINCT o_orderkey) AS n_orders,
           {_DSUM_MUL('l_extendedprice', '1 - l_discount')} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY c_custkey, c_name
    """,
    doc="Fact-to-fact equi-join (orders x lineitem), pre-aggregated: "
    "lineitem rolls up to per-order revenue BEFORE the join, so (a) "
    "the join input shrinks |lineitem| -> |orders|, (b) the join "
    "reuses the aggregation's hash partitioning on the order key "
    "(only the orders side shuffles), and (c) COUNT(DISTINCT "
    "o_orderkey) degenerates to COUNT(*) — no Expand. Same rows as "
    "the naive join-then-aggregate form (inner join keeps exactly "
    "the orders that have lineitems; decimal sums re-merge exactly). "
    "customer carries NO broadcast hint: it grows with the fact "
    "tables, so the choice is left to AQE, which broadcasts at small "
    "SF and shuffles when customer outgrows the threshold.",
)
def join_revenue_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    per_order = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(10,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(10,2)")
            ).alias("order_rev")
        )
    )
    return (
        o.join(per_order, o["o_orderkey"] == per_order["l_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum("order_rev").cast("double").alias("revenue"),
        )
    )


@register(
    "join_region_revenue",
    oracle=f"""
    SELECT r_name, n_name,
           COUNT(*) AS n_orders,
           {_DSUM('o_totalprice')} AS total_value
    FROM region
    JOIN nation   ON r_regionkey = n_regionkey
    JOIN customer ON n_nationkey = c_nationkey
    JOIN orders   ON c_custkey = o_custkey
    GROUP BY r_name, n_name
    """,
    doc="TPC-H Q5 shape: snowflake dim chain onto the fact table. "
    "region/nation are BOUNDED dims (fixed cardinality at any SF) so "
    "they carry explicit broadcast hints; customer grows with the "
    "facts, so its join strategy is left to AQE.",
)
def join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = F.broadcast(table(spark, sf_dir, "region"))
    n = F.broadcast(table(spark, sf_dir, "nation"))
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_orders"), dsum(F.col("o_totalprice")).alias("total_value"))
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           COUNT(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
    doc="Left outer join keeping order-less customers (COUNT of a "
    "nullable column counts only matches).",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), F.lit(0))
            .cast("double")
            .alias("total_spent"),
        )
    )


@register(
    "join_full_outer",
    oracle="""
    WITH cust_orders AS (
      SELECT o_custkey AS k, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
    ), event_users AS (
      SELECT user_id AS k, COUNT(*) AS n_events FROM events GROUP BY user_id
    )
    SELECT COALESCE(c.k, e.k) AS entity_key,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(n_events, 0) AS n_events
    FROM cust_orders c FULL OUTER JOIN event_users e ON c.k = e.k
    """,
    doc="Full outer join of two pre-aggregated keyed sides (aggregate "
    "BEFORE the join — shrinks both shuffle inputs).",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("n_orders"))
    )
    e = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count("*").alias("n_events"))
    )
    return o.join(e, "k", "full").select(
        F.col("k").alias("entity_key"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
    )


@register(
    "join_right_outer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
                                    AND o_totalprice > 400000
    """,
    doc="Right outer join: every customer survives, order columns NULL "
    "where the (filtered) probe side has no match. The non-key "
    "predicate belongs in the JOIN condition, not WHERE — in WHERE it "
    "would silently turn the join inner.",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(
        c,
        (o["o_custkey"] == c["c_custkey"]) & (o["o_totalprice"] > 400000),
        "right",
    ).select("c_custkey", "c_name", "o_orderkey")


@register(
    "join_merge_hint",
    oracle="""
    SELECT n_name, COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="Explicit sort-merge-join hint: overrides the planner's "
    "broadcast choice (the knob for when a 'small' side is too big to "
    "broadcast in practice — e.g. executor memory pressure — but "
    "statistics say otherwise). Same rows as the unhinted plan.",
)
def join_merge_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation").hint("merge")
    return (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
    doc="Left semi join (EXISTS): no fan-out, no duplicate rows — "
    "cheaper than inner join + distinct.",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="Left anti join (NOT EXISTS) — the reference's "
    "skipped-directories pattern (R25, analyzer.rs:255-263).",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
    doc="Explicit cartesian product (5 x 25) — only ever for tiny dims.",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region").select("r_name")
    n = table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@register(
    "join_self_nation_pairs",
    oracle="""
    SELECT a.n_name AS nation_a, b.n_name AS nation_b, a.n_regionkey AS regionkey
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_name < b.n_name
    """,
    doc="Self equi-join with an inequality pair condition (unordered "
    "pairs within a region).",
)
def join_self_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_name") < F.col("b.n_name")),
    ).select(
        F.col("a.n_name").alias("nation_a"),
        F.col("b.n_name").alias("nation_b"),
        F.col("a.n_regionkey").alias("regionkey"),
    )


@register(
    "join_range_bands",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('budget', 0.0, 930.0), ('mid', 930.0, 960.0),
             ('premium', 960.0, 990.0), ('luxury', 990.0, 100000.0)
    )
    SELECT band, COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band
    """,
    doc="Non-equi range join against a tiny bands table: broadcast "
    "nested-loop — correct strategy when one side is a handful of rows.",
)
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    from ..session import local_frame

    bands = local_frame(
        p.sparkSession,
        [
            ("budget", 0.0, 930.0),
            ("mid", 930.0, 960.0),
            ("premium", 960.0, 990.0),
            ("luxury", 990.0, 100000.0),
        ],
        "band string, lo double, hi double",
    )
    return (
        p.join(
            F.broadcast(bands),
            (p["p_retailprice"] >= bands["lo"]) & (p["p_retailprice"] < bands["hi"]),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_parts"),
            dsum(F.col("p_retailprice")).alias("total_price"),
        )
    )


@register(
    "join_asof_last_event",
    oracle="""
    SELECT o_orderkey, o_custkey,
           (SELECT MAX(e.ts) FROM events e
             WHERE e.user_id = o_custkey
               AND e.ts <= TIMESTAMP '2024-01-15 00:00:00') AS last_event_ts
    FROM orders
    WHERE o_custkey < 150 AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
    """,
    doc="As-of join (nearest prior event per key at a cutoff): "
    "implemented as filtered aggregate + broadcast join — the "
    "composition form of SURVEY 2.2's as-of row. The general "
    "event-time as-of (per-row cutoffs) is in llm_ops.asof_join().",
)
def join_asof_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_custkey") < 150)
        & (F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp"))
    )
    last_events = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts") <= cutoff)
        .groupBy("user_id")
        .agg(F.max("ts").alias("last_event_ts"))
    )
    return o.join(
        F.broadcast(last_events), o["o_custkey"] == last_events["user_id"], "left"
    ).select("o_orderkey", "o_custkey", "last_event_ts")


# ----------------------------------------------------------------------
# Sort / limit / set operations
# ----------------------------------------------------------------------

@register(
    "sort_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
    """,
    doc="Global top-k: Spark plans TakeOrderedAndProject — a per-"
    "partition heap + k-row merge, never a full sort. Ties broken by "
    "the unique key.",
)
def sort_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@register(
    "sort_multikey_nulls",
    oracle="""
    SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
    WHERE c_custkey < 100
    ORDER BY c_mktsegment ASC NULLS FIRST, c_acctbal DESC, c_custkey
    """,
    doc="Multi-key global sort with explicit null ordering.",
)
def sort_multikey_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_custkey") < 100)
        .select("c_custkey", "c_acctbal", "c_mktsegment")
        .orderBy(
            F.col("c_mktsegment").asc_nulls_first(),
            F.col("c_acctbal").desc(),
            F.col("c_custkey"),
        )
    )


@register(
    "setop_union",
    oracle="""
    SELECT k, src FROM (
      SELECT DISTINCT c_nationkey AS k, 'customer' AS src FROM customer
      UNION ALL
      SELECT DISTINCT s_nationkey AS k, 'supplier' AS src FROM supplier
    ) t
    """,
    doc="UNION ALL of two distinct-projected sides (unionByName).",
)
def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("k"))
        .distinct()
        .withColumn("src", F.lit("customer"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("k"))
        .distinct()
        .withColumn("src", F.lit("supplier"))
    )
    return c.unionByName(s)


@register(
    "setop_intersect",
    oracle="""
    SELECT c_nationkey AS k FROM customer
    INTERSECT
    SELECT s_nationkey AS k FROM supplier
    """,
    doc="INTERSECT (distinct semantics).",
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersect(s)


@register(
    "setop_except",
    oracle="""
    SELECT p_partkey AS k FROM part
    EXCEPT
    SELECT l_partkey AS k FROM lineitem
    """,
    doc="EXCEPT: parts never ordered (distinct anti set difference).",
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").select(F.col("p_partkey").alias("k"))
    li = table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("k"))
    return p.subtract(li)


@register(
    "setop_intersect_all",
    oracle="""
    SELECT c_nationkey AS k FROM customer
    INTERSECT ALL
    SELECT s_nationkey AS k FROM supplier
    """,
    doc="INTERSECT ALL (multiset semantics: each key appears "
    "min(count_left, count_right) times — duplicates preserved, unlike "
    "setop_intersect's distinct form).",
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersectAll(s)


@register(
    "setop_except_all",
    oracle="""
    SELECT o_custkey AS k FROM orders
    EXCEPT ALL
    SELECT c_custkey AS k FROM customer
    """,
    doc="EXCEPT ALL (multiset difference: count_left - count_right "
    "occurrences survive — here, customers keep n_orders-1 rows).",
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return o.exceptAll(c)


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT)
             AS gid,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="Explicit GROUPING SETS (a strict subset of cube's lattice) "
    "with grouping_id disambiguating real NULL keys from rolled-up "
    "rows. Spark plans one Expand + one aggregate — the input is read "
    "once, not once per set.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
               COUNT(*) AS n
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "dedup_dropduplicates_subset",
    oracle="""
    SELECT o_custkey, o_orderkey AS first_orderkey, o_totalprice AS first_totalprice
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders) t
    WHERE rn = 1
    """,
    doc="Deterministic dropDuplicates-on-subset: row_number over an "
    "explicit survivor order (SURVEY 2.2 — never rely on "
    "dropDuplicates' arbitrary survivor).",
)
def dedup_dropduplicates_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.col("o_totalprice").alias("first_totalprice"),
        )
    )


@register(
    "agg_salted_skew",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n, {_DSUM('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Salted two-phase aggregation (operators.skew.salted_aggregate)"
    ": 3 hot keys spread over 16 sub-keys in phase 1, merged in phase "
    "2. The oracle is the PLAIN group-by — salting must be invisible "
    "in the result (exact decimal sums make the re-merge associative).",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_aggregate

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        F.col("l_quantity").cast("decimal(18,4)").alias("qty_dec"),
    )
    out = salted_aggregate(
        li,
        keys=["l_returnflag"],
        aggs={"n": ("count", "l_orderkey"), "sum_qty_dec": ("sum", "qty_dec")},
        salt_from="l_orderkey",
        buckets=16,
    )
    return out.select(
        "l_returnflag", "n", F.col("sum_qty_dec").cast("double").alias("sum_qty")
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN 1 END), 0) AS BIGINT)
             AS status_F,
           CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O' THEN 1 END), 0) AS BIGINT)
             AS status_O
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Pivot (long -> wide): groupBy().pivot() with EXPLICIT pivot "
    "values — at scale the values list must be supplied, or Spark "
    "first runs a blocking distinct scan to discover it.",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
        .select(
            "l_returnflag",
            F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
            F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        )
    )
