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
    """The footer probe must declare the matching schema per encoding —
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


def test_nanos_conf_scoped_to_probe(spark, encoded_dirs):
    """The legacy nanosAsLong conf must not leak session-wide from
    probing a non-nanos file (a later batch read of a genuine
    TIMESTAMP(NANOS) column elsewhere would silently come back as
    bigint); for a genuinely nanos-encoded file it MUST stay set,
    because the returned frame still needs it at execution time."""
    from git_log_to_sqlite_spark.sources.schema_cache import (
        _NANOS_CONF,
        clear_schema_cache,
        probe_events_ts,
    )

    clear_schema_cache()  # earlier tests probed these paths already
    spark.conf.unset(_NANOS_CONF)

    got = probe_events_ts(spark, f"{encoded_dirs['micros_ntz']}/events.parquet")[0]
    assert got == "timestamp_ntz"
    assert spark.conf.get(_NANOS_CONF, None) is None  # restored

    got = probe_events_ts(spark, f"{encoded_dirs['micros_utc']}/events.parquet")[0]
    assert got == "timestamp"
    assert spark.conf.get(_NANOS_CONF, None) is None  # restored

    got = probe_events_ts(spark, f"{encoded_dirs['nanos']}/events.parquet")[0]
    assert got == "bigint"
    assert spark.conf.get(_NANOS_CONF) == "true"  # must stay for execution

    # a prior explicit setting is restored verbatim on the non-nanos path
    # (a cache hit here — the path was probed above — must behave the
    # same: no conf mutation)
    spark.conf.set(_NANOS_CONF, "false")
    probe_events_ts(spark, f"{encoded_dirs['micros_ntz']}/events.parquet")
    assert spark.conf.get(_NANOS_CONF) == "false"

    # a cache HIT on a nanos path must re-establish the conf: frames
    # built after the hit still need it at execution time
    spark.conf.unset(_NANOS_CONF)
    got = probe_events_ts(spark, f"{encoded_dirs['nanos']}/events.parquet")[0]
    assert got == "bigint"
    assert spark.conf.get(_NANOS_CONF) == "true"
    spark.conf.unset(_NANOS_CONF)


def test_failed_probe_restores_conf(spark, tmp_path):
    """A probe that THROWS (missing/corrupt path) must restore the
    speculative nanosAsLong conf before re-raising — a failed probe
    leaving it latched is exactly the silent-bigint leak the module
    exists to prevent."""
    from git_log_to_sqlite_spark.sources.schema_cache import (
        _NANOS_CONF,
        probe_events_ts,
    )

    spark.conf.unset(_NANOS_CONF)
    with pytest.raises(Exception):
        probe_events_ts(spark, str(tmp_path / "missing.parquet"))
    assert spark.conf.get(_NANOS_CONF, None) is None  # restored (unset)

    spark.conf.set(_NANOS_CONF, "false")
    with pytest.raises(Exception):
        probe_events_ts(spark, str(tmp_path / "missing.parquet"))
    assert spark.conf.get(_NANOS_CONF) == "false"  # restored verbatim
    spark.conf.unset(_NANOS_CONF)


def test_warm_non_nanos_probe_writes_no_conf(spark, encoded_dirs, monkeypatch):
    """A cache hit on a non-nanos file writes the nanosAsLong conf not
    at all. Queries share one session across threads: a hit that set
    and restored the conf could interleave with another probe's pair
    and leave it latched for the session."""
    from pyspark.sql.conf import RuntimeConfig

    from git_log_to_sqlite_spark.sources.schema_cache import (
        _NANOS_CONF,
        probe_events_ts,
    )

    path = f"{encoded_dirs['micros_utc']}/events.parquet"
    probe_events_ts(spark, path)  # warm
    spark.conf.set(_NANOS_CONF, "false")  # neither unset nor the probe's "true"
    writes = []
    monkeypatch.setattr(RuntimeConfig, "set", lambda self, k, v: writes.append(("set", k, v)))
    monkeypatch.setattr(RuntimeConfig, "unset", lambda self, k: writes.append(("unset", k)))
    assert probe_events_ts(spark, path)[0] == "timestamp"
    monkeypatch.undo()
    assert writes == []
    assert spark.conf.get(_NANOS_CONF) == "false"
    spark.conf.unset(_NANOS_CONF)


def test_probe_without_ts_column_restores_conf(spark, tmp_path):
    """A file with no ``ts`` column fails the probe after the read; the
    speculative conf is restored all the same."""
    from git_log_to_sqlite_spark.sources.schema_cache import (
        _NANOS_CONF,
        clear_schema_cache,
        probe_events_ts,
    )

    p = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"event_id": [1, 2]}), p)
    clear_schema_cache()
    spark.conf.unset(_NANOS_CONF)
    with pytest.raises(KeyError):
        probe_events_ts(spark, p)
    assert spark.conf.get(_NANOS_CONF, None) is None


def test_probe_cache_invalidated_on_regeneration(spark, tmp_path):
    """The probe cache is keyed on a file fingerprint (size + mtime),
    so regenerating the parquet at the SAME path with a different ts
    encoding mid-process must re-probe instead of serving the stale
    dtype (which would misdecode every ts by 1000x)."""
    import os

    from git_log_to_sqlite_spark.sources.schema_cache import (
        _NANOS_CONF,
        probe_events_ts,
    )

    p = str(tmp_path / "events.parquet")
    pq.write_table(_events_table(pa.timestamp("us")), p)
    assert probe_events_ts(spark, p)[0] == "timestamp_ntz"
    assert probe_events_ts(spark, p)[0] == "timestamp_ntz"  # cache hit

    pq.write_table(_events_table(pa.timestamp("ns")), p)
    # same row count could mean same size; force a distinct mtime so the
    # fingerprint can't collide even on coarse-grained filesystems
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert probe_events_ts(spark, p)[0] == "bigint"  # NOT the stale entry
    spark.conf.unset(_NANOS_CONF)


def test_latched_nanos_conf_is_session_wide(spark, encoded_dirs, tmp_path):
    """The single-nanos-table assumption, pinned as a negative test:
    once a nanos events probe latches the conf (required at execution
    time of the returned frames), a RAW read of any other
    TIMESTAMP(NANOS) parquet in the same session comes back bigint —
    intended here because events is this engine's only nanos candidate
    and all event reads flow through the table() choke point, but a
    deployment adding a second nanos table must normalize it through
    that choke point too (see probe_events_ts docstring)."""
    from git_log_to_sqlite_spark.sources.schema_cache import (
        _NANOS_CONF,
        probe_events_ts,
    )

    assert probe_events_ts(spark, f"{encoded_dirs['nanos']}/events.parquet")[0] == "bigint"
    assert spark.conf.get(_NANOS_CONF) == "true"  # latched

    other = str(tmp_path / "other_nanos.parquet")
    pq.write_table(_events_table(pa.timestamp("ns")), other)
    assert dict(spark.read.parquet(other).dtypes)["ts"] == "bigint"
    spark.conf.unset(_NANOS_CONF)


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
