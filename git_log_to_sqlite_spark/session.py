"""SparkSession factory with oracle-parity and scale-aware defaults.

Encodes SURVEY.md section 4.2's "physical-execution decisions to encode in
config, not code":

* ``spark.sql.session.timeZone=UTC`` — DuckDB timestamps are UTC-naive;
  pinning the session TZ makes timestamp values hash-comparable.
* AQE on (runtime shuffle coalescing + skew-join splitting) — at 100 TB
  the static partition count is always wrong somewhere; AQE re-plans at
  each exchange from observed sizes.
* ``spark.sql.shuffle.partitions`` sized to local cores for tests; on a
  real cluster this is overridden (AQE coalescing makes the initial
  number a ceiling, not a target).
* Arrow enabled so Pandas-UDF operators (near-dup, multimodal) use
  vectorized batch transfer instead of per-row pickling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "git_log_to_sqlite_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the session used by tests, bench, and the driver.

    ``cpus`` controls local-mode threads; ``shuffle_partitions`` defaults
    to the same number — at local scale each shuffle partition should map
    to one core, while at cluster scale AQE coalesces from a higher
    initial count.
    """
    cpus = str(cpus or _DEFAULT_CPUS)
    shuffle = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Whole-stage-codegen compile cache (static conf; JVM-wide,
        # same knob on driver and executors).  The default 100 entries
        # cannot hold even ONE pass of the 15-query bench suite — the
        # LSH-family plans alone emit hundreds of generated-source
        # fragments — so in any session that cycles through the corpus
        # (bench passes, the 126-query gate, a serving deployment
        # dispatching a query mix) every revisit re-runs Janino over
        # the full plan.  Measured (tools/codegen_cache_ab_r17.py,
        # sf0.1, local[32], cold-cache protocol): suite pass after one
        # full cycle 19.28 s -> 12.55 s (-35%), first-cycle pass
        # 92 -> 31 s.  4096 covers the whole registry with headroom;
        # entries are (source, compiled-class) pairs so the bound is
        # a few hundred MB against the 16 g driver heap.  Caches
        # COMPILED CODE keyed by generated source — results and plans
        # are unaffected.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec warns "No Partition Defined for Window operation" on
    # every empty-partition window — including this repo's deliberately
    # global ones, each of which runs over a BOUNDED frame (a
    # #partitions-row offsets table, a df histogram, a dimension table)
    # with the boundedness argument documented at the site. A
    # partitionBy(lit(0)) decoy does NOT silence it: Spark >= 3.5's
    # EliminateWindowPartitions rule folds literal partition keys away,
    # restoring the empty spec at the physical node. So suppress the
    # logger itself. Trade-off: a genuinely data-sized empty-spec
    # window would also log nothing — that class of mistake is guarded
    # by plan-shape tests (tests/test_plans.py) instead of log grep.
    # The suppression is JVM-global and permanent, so embedding
    # applications that share the session and want the warning for
    # THEIR plans can opt out: SPARK_GRAFT_KEEP_WINDOW_WARN=1
    # ("", "0", and "false" count as unset, so wrapper scripts that
    # always export the var with a 0/1 value behave as written).
    if os.environ.get("SPARK_GRAFT_KEEP_WINDOW_WARN", "").lower() in ("", "0", "false"):
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    return spark


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES):
    """Load the driver's parquet tables as DataFrames keyed by name.

    Plain ``spark.read.parquet`` — Catalyst pushes filters/projections
    into the scan, so no eager caching here; callers that reuse a table
    across many queries (bench) may ``.cache()`` selectively.
    """
    return {name: spark.read.parquet(f"{sf_dir}/{name}.parquet") for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register the driver tables as temp views for ``spark.sql`` use."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


def local_frame(spark: SparkSession, rows, schema):
    """Bounded driver-side state as a JVM LocalRelation via the ARROW
    local path: a pandas input converts driver-side to Arrow batches,
    so the frame executes with no pickled partitions and no Python
    workers.  The tuple-list ``createDataFrame`` form instead spreads
    the rows over defaultParallelism pickled partitions, and every
    EXECUTION that consumes them (a broadcast build, a model-state
    write) pays a Python-worker round-trip for a handful of rows —
    measured twice on this box: the round-13 centroid write (8 rows:
    0.57-1.7 s tuple-list vs 0.25-0.31 s Arrow) and the round-14
    broadcast-dim probe (4-row bands join at sf0.01: 0.401 s vs
    0.212 s min-of-5, BASELINE.md).  Use for every small in-process
    frame on a timed, gated or user-facing path — dims, model state,
    the CLI's directory listing and dump results; plain tuple-list
    remains fine for test fixtures.

    ``rows`` is a list of tuples in ``schema`` column order; ``schema``
    is a DDL string or a StructType.  The explicit schema keeps types
    identical to the tuple-list form (pandas would otherwise
    widen/narrow dtypes by inference).
    """
    import pandas as pd

    rows = list(rows)
    if not rows:
        # zero-row frames carry no per-row worker cost to save; the
        # tuple-list form also sidesteps pandas' all-object dtype
        # inference on an empty frame
        return spark.createDataFrame([], schema)
    if isinstance(schema, str):
        # real DDL parse, not a comma split: nested comma-bearing types
        # (map<string,int>, struct<a:int,b:int>) would break a naive
        # split, and the active session this helper requires is exactly
        # what fromDDL needs
        from pyspark.sql.types import StructType

        cols = StructType.fromDDL(schema).fieldNames()
    else:
        cols = list(schema.fieldNames())
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)
