"""Parquet schema cache (sources/schema_cache.py): hit behavior,
fingerprint invalidation, fallback, and the events schema
(``events_schema``) that reads through it.

The cache exists for a measured reason (see the module docstring):
plain ``spark.read.parquet`` fires a ~0.19 s listing+footer job on
EVERY call; the registry's ``table()`` choke point now serves the
schema from a fingerprint-keyed cache so query re-construction — every
bench pass, every gate run — skips inference entirely.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import Row

from git_log_to_sqlite_spark.plans.registry import table
from git_log_to_sqlite_spark.sources.schema_cache import (
    cached_parquet_schema,
    clear_schema_cache,
)


def _last_job_id(spark) -> int:
    # job ids are sequential; a count of retained jobs stops growing at
    # spark.ui.retainedJobs (1000), the newest id does not
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(), default=-1)


def test_hit_serves_identical_schema_with_zero_jobs(spark, sf_dir):
    clear_schema_cache()
    path = f"{sf_dir}/customer.parquet"
    inferred = spark.read.parquet(path).schema  # ground truth, pays the job
    first = cached_parquet_schema(spark, path)  # may infer (fills cache)
    before = _last_job_id(spark)
    second = cached_parquet_schema(spark, path)
    assert _last_job_id(spark) == before, "cache hit must not fire a Spark job"
    assert first == inferred and second == inferred


def test_table_reconstruction_fires_no_inference_job(spark, sf_dir):
    df1 = table(spark, sf_dir, "customer")  # fills the cache
    before = _last_job_id(spark)
    df2 = table(spark, sf_dir, "customer")
    assert _last_job_id(spark) == before
    assert df2.schema == df1.schema
    # and the declared-schema scan reads the same data
    assert df2.count() == df1.count()


def test_rewritten_file_reinfers_new_schema(spark, tmp_path):
    clear_schema_cache()
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([Row(a=1)]).write.mode("overwrite").parquet(p)
    s1 = cached_parquet_schema(spark, p)
    assert [f.name for f in s1.fields] == ["a"]
    time.sleep(0.01)  # ensure mtime_ns moves even on coarse clocks
    spark.createDataFrame([Row(a=1, b="x")]).write.mode("overwrite").parquet(p)
    s2 = cached_parquet_schema(spark, p)
    assert [f.name for f in s2.fields] == ["a", "b"], (
        "a rewritten file must invalidate the cached schema"
    )


def test_unstattable_path_returns_none(spark, tmp_path):
    assert cached_parquet_schema(spark, str(tmp_path / "missing.parquet")) is None


def test_events_reencode_same_path_stays_correct(spark, tmp_path):
    """``events_schema`` caches the events schema per fingerprint
    (a nanos file's inferred in a private session), and a re-encoded
    file at the SAME path re-fingerprints — so the normalized ts must
    be identical whichever encoding is on disk when it is read."""
    pa = pytest.importorskip("pyarrow")
    import pyarrow.parquet as pq

    sf = str(tmp_path)
    path = os.path.join(sf, "events.parquet")
    micros = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z

    def write(unit):
        arr = pa.array([micros * (1000 if unit == "ns" else 1)], pa.timestamp(unit))
        cols = {
            "event_id": pa.array([1], pa.int64()),
            "user_id": pa.array([1], pa.int64()),
            "ts": arr,
            "event_type": pa.array(["view"], pa.string()),
            "path": pa.array(["/"], pa.string()),
            "value": pa.array([1.0], pa.float64()),
        }
        pq.write_table(pa.table(cols), path)

    write("us")
    t1 = table(spark, sf, "events").select("ts").first()["ts"]
    time.sleep(0.01)
    write("ns")
    t2 = table(spark, sf, "events").select("ts").first()["ts"]
    assert t1 == t2, "re-encoded events at the same path must normalize identically"


def test_first_events_read_infers_once(spark, sf_dir):
    """``events_schema`` infers into the cache and the read declares
    that schema, so the first ``table(..., "events")`` after the cache
    is cleared runs ONE schema-inference job — the private session's —
    not a second for the read's own schema."""
    clear_schema_cache()
    before = _last_job_id(spark)
    df = table(spark, sf_dir, "events")
    assert _last_job_id(spark) - before == 1
    assert dict(df.dtypes)["ts"] == "timestamp"
