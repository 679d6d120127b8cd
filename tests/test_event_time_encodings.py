"""Event-time ingestion must survive upstream parquet-writer changes.

The driver's ``events.parquet`` has already shipped in two physical
encodings across rounds — TIMESTAMP(NANOS) (Spark reads raw bigint
nanos under the legacy conf) and plain ``timestamp[us]`` (Spark reads
TIMESTAMP_NTZ) — and a third (``timestamp[us, tz=UTC]`` -> TIMESTAMP)
is the natural next one.  The round-4 regression (4 queries red, one
silently 1000x off, bench crashed) came from code assuming a single
encoding.  This suite pins the fix: the same logical events land in
ALL THREE encodings, and every event-time query plus the streaming
replay source must produce identical results on each.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from git_log_to_sqlite_spark.plans import REGISTRY
from git_log_to_sqlite_spark.plans.registry import table

BASE = dt.datetime(2024, 3, 1, 12, 0, 0)
# Gaps straddle the 30-minute session boundary and a week boundary so
# sessionize/cohort actually exercise their arithmetic.
_OFFSETS_S = [0, 60, 45 * 60, 46 * 60, 8 * 86400, 8 * 86400 + 10]
_ROWS = [
    {
        "event_id": i + 1,
        "ts": BASE + dt.timedelta(seconds=off + 7 * u),
        "user_id": u,
        "event_type": ["view", "click", "purchase"][i % 3],
        "value": float(i) + 0.25,
        "props": '{"k": %d}' % i,
    }
    for u in (1, 2)
    for i, off in enumerate(_OFFSETS_S)
]

ENCODINGS = {
    "nanos": pa.timestamp("ns"),
    "micros_ntz": pa.timestamp("us"),
    "micros_utc": pa.timestamp("us", tz="UTC"),
}


def _events_table(ts_type):
    return pa.table(
        {
            "event_id": pa.array([r["event_id"] for r in _ROWS], pa.int64()),
            "ts": pa.array([r["ts"] for r in _ROWS], ts_type),
            "user_id": pa.array([r["user_id"] for r in _ROWS], pa.int64()),
            "event_type": pa.array([r["event_type"] for r in _ROWS], pa.string()),
            "value": pa.array([r["value"] for r in _ROWS], pa.float64()),
            "props": pa.array([r["props"] for r in _ROWS], pa.string()),
        }
    )


@pytest.fixture(scope="module")
def encoded_dirs(tmp_path_factory):
    """One sf_dir per physical ts encoding, same logical rows."""
    dirs = {}
    for name, ts_type in ENCODINGS.items():
        d = tmp_path_factory.mktemp(f"enc_{name}")
        pq.write_table(_events_table(ts_type), str(d / "events.parquet"))
        dirs[name] = str(d)
    return dirs


def _canon(df):
    rows = [tuple(r) for r in df.collect()]
    return sorted(rows)


def test_table_normalizes_every_encoding_to_timestamp(spark, encoded_dirs):
    for name, d in encoded_dirs.items():
        df = table(spark, d, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", name
        assert df.count() == len(_ROWS), name


def test_table_wall_clock_identical_across_encodings(spark, encoded_dirs):
    results = {
        name: _canon(table(spark, d, "events").select("event_id", "ts"))
        for name, d in encoded_dirs.items()
    }
    assert results["nanos"] == results["micros_ntz"] == results["micros_utc"]


EVENT_QUERIES = [
    "events_sessionize",
    "events_cohort_retention",
    "events_window_tumbling",
    "events_funnel_depth",
    "events_top_paths",
]


@pytest.mark.parametrize("qname", EVENT_QUERIES)
def test_event_queries_identical_across_encodings(spark, encoded_dirs, qname):
    fn = REGISTRY[qname].fn
    results = {name: _canon(fn(spark, d)) for name, d in encoded_dirs.items()}
    assert results["nanos"] == results["micros_ntz"], qname
    assert results["nanos"] == results["micros_utc"], qname
    # and not vacuously empty
    assert len(results["nanos"]) > 0, qname


def test_asof_tolerance_branch_is_ntz_proof(spark, encoded_dirs):
    """The tolerance bound casts timestamps to a numeric distance; fed a
    TIMESTAMP_NTZ column the old double cast threw DATATYPE_MISMATCH.
    Run the tolerance branch over the raw (un-normalized) NTZ read and
    the normalized TIMESTAMP read and require identical matches."""
    from pyspark.sql import functions as F

    from git_log_to_sqlite_spark.operators.asof import asof_join

    ntz_raw = spark.read.parquet(f"{encoded_dirs['micros_ntz']}/events.parquet")
    assert dict(ntz_raw.dtypes)["ts"] == "timestamp_ntz"
    norm = table(spark, encoded_dirs["micros_ntz"], "events")

    def run(events):
        left = events.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        right = events.filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("vts"), F.col("value").alias("vval"),
            F.col("event_id").alias("vid"),
        )
        out = asof_join(
            left, right, key="user_id", left_ts="ts", right_ts="vts",
            value_cols=["vval"], tie_col="vid", tolerance_seconds=3600.0,
        )
        return sorted(
            (r["event_id"], r["user_id"], r["vval_asof"]) for r in out.collect()
        )

    got_ntz, got_norm = run(ntz_raw), run(norm)
    assert got_ntz == got_norm
    matched = [v for _, _, v in got_norm if v is not None]
    nulled = [v for _, _, v in got_norm if v is None]
    assert matched and nulled  # the bound both keeps and rejects matches


@pytest.mark.parametrize("enc", list(ENCODINGS))
def test_stream_replay_probe_reads_every_encoding(spark, encoded_dirs, enc):
    """The stream must declare the file's own schema per encoding —
    a wrong declaration reads garbage silently (the round-4 failure:
    LongType over micros files = values 1000x off)."""
    from git_log_to_sqlite_spark.streaming.replay import (
        read_events_stream,
        run_to_memory,
        tumbling_counts,
    )

    s = read_events_stream(
        spark, f"{encoded_dirs[enc]}/events.parquet", max_files_per_trigger=1_000_000
    )
    sink = f"enc_probe_{enc}"
    run_to_memory(tumbling_counts(s), sink, output_mode="complete")
    got = _canon(spark.table(sink))
    want = _canon(tumbling_counts(table(spark, encoded_dirs[enc], "events")))
    assert got == want
    assert len(got) > 0


CONF_CASES = [(enc, warm) for enc in ENCODINGS for warm in (False, True)] + [
    ("missing", False),
    ("no_ts", False),
]


@pytest.mark.parametrize("case,warm", CONF_CASES)
def test_events_reads_never_write_caller_conf(
    spark, encoded_dirs, tmp_path, monkeypatch, case, warm
):
    """``table(..., "events")`` and ``read_events_stream`` write nothing
    to the caller's session conf, on a cold or warm schema cache, and
    for a path that does not exist or a file with no ``ts`` column.
    The nanos schema is inferred in a private session, which never
    becomes the active session; the caller's ``nanosAsLong`` stays
    unset while the nanos frame executes, and the frame still decodes
    the right instants."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.conf import RuntimeConfig

    from git_log_to_sqlite_spark.sources.schema_cache import (
        _NANOS_CONF,
        clear_schema_cache,
    )
    from git_log_to_sqlite_spark.streaming.replay import read_events_stream

    sf = encoded_dirs.get(case, str(tmp_path))
    path = f"{sf}/events.parquet"
    if case == "no_ts":
        pq.write_table(pa.table({"event_id": [1, 2]}), path)
    assert spark.conf.get(_NANOS_CONF, None) is None
    clear_schema_cache()
    if warm:
        table(spark, sf, "events")

    caller = spark._jsparkSession.conf()
    writes = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def spy_set(self, key, value):
        writes.append((key, self._jconf.equals(caller)))
        real_set(self, key, value)

    def spy_unset(self, key):
        writes.append((key, self._jconf.equals(caller)))
        real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", spy_set)
    monkeypatch.setattr(RuntimeConfig, "unset", spy_unset)
    if case in ENCODINGS:
        batch = table(spark, sf, "events")
        stream = read_events_stream(spark, path)
        assert stream.isStreaming and dict(stream.dtypes)["ts"] == "timestamp"
        assert spark.conf.get(_NANOS_CONF, None) is None
        got = sorted(r[0] for r in batch.select(F.unix_micros("ts")).collect())
        assert spark.conf.get(_NANOS_CONF, None) is None
        utc = dt.timezone.utc
        want = sorted(
            int(r["ts"].replace(tzinfo=utc).timestamp()) * 1_000_000 for r in _ROWS
        )
        assert got == want
    else:
        with pytest.raises(Exception):
            table(spark, sf, "events")
        with pytest.raises(Exception):
            read_events_stream(spark, path)
    monkeypatch.undo()

    assert not [key for key, on_caller in writes if on_caller]
    # a warm cache writes no conf at all; a miss writes the private one
    assert {key for key, _ in writes} <= ({_NANOS_CONF} if not warm else set())
    assert spark.conf.get(_NANOS_CONF, None) is None
    assert SparkSession.getActiveSession() is spark
    jsession = SparkSession._get_j_spark_session_class(spark._jvm)
    assert jsession.getActiveSession().get().equals(spark._jsparkSession)
    assert jsession.getDefaultSession().get().equals(spark._jsparkSession)


def test_nanos_events_read_leaves_other_nanos_reads_failing(
    spark, encoded_dirs, tmp_path
):
    """A nanos ``events`` read widens no other read: a plain
    ``spark.read.parquet`` of another TIMESTAMP(NANOS) file still fails
    to infer, before and after the events read."""
    from git_log_to_sqlite_spark.sources.schema_cache import clear_schema_cache

    other = str(tmp_path / "other_nanos.parquet")
    pq.write_table(_events_table(pa.timestamp("ns")), other)
    clear_schema_cache()
    events = table(spark, encoded_dirs["nanos"], "events")
    assert events.count() == len(_ROWS)
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        spark.read.parquet(other)


def test_probe_cache_invalidated_on_regeneration(spark, tmp_path):
    """The events schema cache is keyed on a file fingerprint (size +
    mtime), so regenerating the parquet at the SAME path with a
    different ts encoding mid-process must re-infer instead of serving
    the stale schema (which would misdecode every ts by 1000x)."""
    import os

    from git_log_to_sqlite_spark.sources.schema_cache import events_schema

    def ts_dtype(p):
        return events_schema(spark, p)["ts"].dataType.simpleString()

    p = str(tmp_path / "events.parquet")
    pq.write_table(_events_table(pa.timestamp("us")), p)
    assert ts_dtype(p) == "timestamp_ntz"
    assert ts_dtype(p) == "timestamp_ntz"  # cache hit

    pq.write_table(_events_table(pa.timestamp("ns")), p)
    # same row count could mean same size; force a distinct mtime so the
    # fingerprint can't collide even on coarse-grained filesystems
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert ts_dtype(p) == "bigint"  # NOT the stale entry


def test_probe_fingerprint_sees_nested_part_rewrite(tmp_path):
    """Round-7 review fix: the cache fingerprint walks the directory
    RECURSIVELY — a part file rewritten in place inside a partition
    subdirectory (date=.../part-0.parquet) must change the fingerprint
    even though the top-level directory entry's name/size/mtime do not."""
    import os

    from git_log_to_sqlite_spark.sources.schema_cache import _fingerprint

    root = tmp_path / "events.parquet"
    sub = root / "date=2024"
    sub.mkdir(parents=True)
    part = sub / "part-00000.parquet"
    part.write_bytes(b"v1-payload")
    dir_mtime = os.stat(sub).st_mtime_ns
    fp1 = _fingerprint(str(root))
    # In-place rewrite: same name, same SIZE — only the part file's
    # mtime moves. Bump it deterministically with utime (a sleep-based
    # bump flakes on coarse-mtime filesystems).
    part.write_bytes(b"v2-payload")
    pst = os.stat(part)
    os.utime(part, ns=(pst.st_atime_ns, pst.st_mtime_ns + 1_000_000_000))
    os.utime(sub, ns=(dir_mtime, dir_mtime))  # directory looks untouched
    fp2 = _fingerprint(str(root))
    assert fp1 != fp2, "in-place nested rewrite must invalidate the probe cache"
