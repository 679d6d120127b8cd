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
        # The console progress bar rewrites stderr lines with carriage
        # returns, so it splices into the per-row lines bench.py
        # prints there.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Whole-stage-codegen compile cache (static conf; JVM-wide,
        # same knob on driver and executors).  The default 100 entries
        # cannot hold even ONE pass of the 15-query bench suite — the
        # LSH-family plans alone emit hundreds of generated-source
        # fragments — so in any session that cycles through the corpus
        # (bench passes, the 126-query gate, a serving deployment
        # dispatching a query mix) every revisit re-runs Janino over
        # the full plan.  Measured (codegen-cache A/B, OPTIMIZATION_r17.md;
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
    """Bounded driver-side state as a JVM-parsed ``LocalRelation``: a
    SQL ``VALUES`` inline table with every value cast to its field type.

    The frame executes with no pickled partitions and no Python
    workers, and building it needs neither pandas nor Arrow. The
    tuple-list ``createDataFrame`` form instead spreads the rows over
    defaultParallelism pickled partitions, and every execution that
    consumes them (a broadcast build, a model-state write) pays a
    Python-worker round trip for a handful of rows (BASELINE.md has
    the measurements). Use it for every small in-process frame on a
    timed, gated or user-facing path — dims, model state, the CLI's
    dump results; plain tuple-list remains fine for test fixtures.

    ``rows`` is an iterable of tuples in ``schema`` column order;
    ``schema`` is a DDL string or a StructType. The result has exactly
    that schema, nullability included. Supported field types: string,
    integral, float and double (NaN and ±inf included), and maps and
    structs of these (a struct value is a tuple, a ``Row`` or a dict);
    other types raise ``TypeError``. Map values always come back
    nullable. A None in a non-nullable field raises ``ValueError``, as
    ``createDataFrame`` does. Zero rows fall back to the tuple-list
    form, which has no per-row cost to save.
    """
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = [tuple(r) for r in rows]
    if not rows:
        return spark.createDataFrame([], schema)
    fields = schema.fields
    values = []
    for i, row in enumerate(rows):
        cells = []
        for field, value in zip(fields, row, strict=True):
            if value is None and not field.nullable:
                raise ValueError(f"field {field.name!r} is not nullable, got None")
            cell = _sql_literal(value, field.dataType)
            if i == 0 and field.nullable:
                # An inline-table column is nullable when one of its
                # expressions is: this one is, and it evaluates to ``cell``.
                cell = f"IF(TRUE, {cell}, NULL)"
            cells.append(cell)
        values.append(f"({', '.join(cells)})")
    names = ", ".join(_sql_name(f.name) for f in fields)
    return spark.sql(f"VALUES {', '.join(values)} AS t({names})")


def _sql_name(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def map_lookup(mapping: dict[str, str], key: str) -> str:
    """SQL text looking the string expression ``key`` up in ``mapping``:
    the mapped string, or NULL for a missing or NULL key.

    The map is a literal in the plan, so the lookup needs no join and
    no job to broadcast a build side. Each row scans the map's keys, so
    it suits driver-sized maps (an author map, one name per dumped
    repository), not data-sized ones. Every key and value is escaped
    (``'`` and ``\\`` included)."""
    if not mapping:
        return "CAST(NULL AS STRING)"
    items = ", ".join(
        f"{_sql_string(str(k))}, {_sql_string(str(v))}" for k, v in sorted(mapping.items())
    )
    return f"map({items})[{key}]"


def _sql_string(text: str) -> str:
    # escaped for the default spark.sql.parser.escapedStringLiterals=false
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_type(dtype) -> str:
    """``dtype`` as Spark SQL type text, nested field nullability kept."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StructType):
        inner = ", ".join(
            f"{_sql_name(f.name)}: {_sql_type(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in dtype.fields
        )
        return f"STRUCT<{inner}>"
    if isinstance(dtype, T.MapType):
        return f"MAP<{_sql_type(dtype.keyType)}, {_sql_type(dtype.valueType)}>"
    return dtype.simpleString()


def _sql_literal(value, dtype) -> str:
    """``value`` as a Spark SQL expression of type ``dtype``."""
    from pyspark.sql import types as T

    sql_type = _sql_type(dtype)
    if value is None:
        return f"CAST(NULL AS {sql_type})"
    if isinstance(dtype, T.StringType):
        return _sql_string(str(value))
    if isinstance(dtype, T.IntegralType):
        return f"CAST({int(value)} AS {sql_type})"
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        # str() round-trips a float, and its 'nan', 'inf' and '-inf'
        # are spellings Spark's string-to-double cast accepts
        return f"CAST('{value}' AS {sql_type})"
    if isinstance(dtype, T.MapType):
        items = ", ".join(
            f"{_sql_literal(k, dtype.keyType)}, {_sql_literal(v, dtype.valueType)}"
            for k, v in value.items()
        )
        return f"CAST(map({items}) AS {sql_type})"
    if isinstance(dtype, T.StructType):
        if isinstance(value, dict):
            value = [value.get(f.name) for f in dtype.fields]
        items = ", ".join(
            f"{_sql_string(f.name)}, {_sql_literal(v, f.dataType)}"
            for f, v in zip(dtype.fields, value, strict=True)
        )
        return f"CAST(named_struct({items}) AS {sql_type})"
    raise TypeError(f"local_frame does not support {dtype.simpleString()} fields")
