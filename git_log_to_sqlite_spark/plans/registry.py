"""Query registry + the canonicalization rules that make results
hash-comparable between Spark and DuckDB.

Canonicalization rules (applied inside every query, both engines):

* **Money sums are exact.** Sums over double columns are computed as
  ``SUM(CAST(x AS DECIMAL(18,4)))`` then cast back to DOUBLE — decimal
  addition is associative, so partial aggregation order (Spark's
  map-side combine, DuckDB's parallel groups) cannot change the result.
  A plain double sum over 60k rows can drift in the last bits depending
  on reduction order.
* **Averages are a deterministic division**: exact decimal sum cast to
  double, divided by the count — same IEEE operands on both sides.
* **Ratios/statistics are rounded** (6 dp) — they are float-unstable by
  nature but land far from rounding boundaries at these magnitudes.
* **Every computed column is aliased identically** in the Spark plan
  and the oracle SQL (the driver sorts columns by name before hashing).
* **Integer widths match**: DuckDB's ``year()`` is BIGINT and ``SUM``
  of integers is HUGEINT; the oracle SQL casts them to the width Spark
  produces (INT / BIGINT).
* **Top-k always breaks ties** with a unique key so LIMIT is stable.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..sources.schema_cache import events_schema, read_parquet_cached, with_event_time

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: add a Spark query (and its oracle SQL) to the corpus."""

    def wrap(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or fn.__doc__ or "")
        return fn

    return wrap


def spark_queries() -> dict[str, SparkQuery]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_map() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver table. Plain parquet read — filters/projections
    in the calling query push down into this scan.

    Every read declares its schema from the fingerprint-keyed cache
    (``sources.schema_cache``), so repeated ``table()`` calls — every
    query construction, every bench pass — skip parquet schema
    inference (a measured ~0.19 s listing+footer job per plain
    ``spark.read.parquet`` call, ~6x the explicit-schema read);
    rewritten files re-infer via the fingerprint, unstattable paths
    fall back to plain inference.

    ``events`` declares ``events_schema`` and decodes ``ts`` to
    TIMESTAMP through ``with_event_time``, the same pair the streaming
    replay uses, whatever the producer's physical encoding
    (TIMESTAMP(NANOS), ``timestamp[us]`` with or without a UTC tz):
    upstream writers change encodings over time, and this repo has
    seen both. The caller's session conf is never touched.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        schema = events_schema(spark, path)
        return with_event_time(spark.read.schema(schema).parquet(path), schema)
    return read_parquet_cached(spark, path)
