"""Source-format coverage (SURVEY.md section 2.2 "Sources / sinks"):
CSV / JSON / text scans with DECLARED schemas round-trip the same rows
as the parquet scan. Schemas are always supplied — inference is a
correctness hazard (silent type drift) and a performance hazard (an
extra full read) at scale."""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import functions as F

from git_log_to_sqlite_spark.plans.registry import table

REPO_ROOT = Path(__file__).resolve().parents[1]

CUSTOMER_SCHEMA = (
    "c_custkey bigint, c_name string, c_nationkey bigint,"
    " c_acctbal double, c_mktsegment string"
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_csv_scan_schema_supplied(spark, oracle_sf_dir, tmp_path):
    pq = table(spark, oracle_sf_dir, "customer")
    path = str(tmp_path / "customer_csv")
    pq.write.option("header", True).mode("overwrite").csv(path)
    got = spark.read.schema(CUSTOMER_SCHEMA).option("header", True).csv(path)
    assert _rows(got) == _rows(pq)


def test_json_scan_schema_supplied(spark, oracle_sf_dir, tmp_path):
    pq = table(spark, oracle_sf_dir, "nation")
    path = str(tmp_path / "nation_json")
    pq.write.mode("overwrite").json(path)
    got = spark.read.schema(pq.schema).json(path)
    assert _rows(got) == _rows(pq)


def test_json_corrupt_records_are_isolated(spark, tmp_path):
    """PERMISSIVE mode routes malformed rows to _corrupt_record instead
    of failing the job — the reference's R8/R27 error-containment
    pattern (drop bad units, keep going) at the source layer."""
    p = tmp_path / "mixed.json"
    p.write_text('{"a": 1}\n{"a": 2}\nnot-json\n{"a": 3}\n')
    schema = "a bigint, _corrupt_record string"
    df = spark.read.schema(schema).json(str(p)).cache()
    try:
        good = df.filter(F.col("_corrupt_record").isNull())
        bad = df.filter(F.col("_corrupt_record").isNotNull())
        assert sorted(r["a"] for r in good.collect()) == [1, 2, 3]
        assert bad.count() == 1
    finally:
        df.unpersist()


def test_text_scan_line_per_row(spark, tmp_path):
    p = tmp_path / "lines.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    df = spark.read.text(str(p))
    assert df.columns == ["value"]
    assert sorted(r["value"] for r in df.collect()) == ["alpha", "beta", "gamma"]


def test_csv_pushdown_still_prunes_columns(spark, oracle_sf_dir, tmp_path):
    """Column pruning reaches non-parquet scans too: a 2-column select
    over a 5-column CSV must not carry the rest into the plan."""
    pq = table(spark, oracle_sf_dir, "customer")
    path = str(tmp_path / "customer_csv2")
    pq.write.option("header", True).mode("overwrite").csv(path)
    df = spark.read.schema(CUSTOMER_SCHEMA).option("header", True).csv(path)
    plan = df.select("c_custkey", "c_acctbal")._jdf.queryExecution().executedPlan().toString()
    assert "c_mktsegment" not in plan


# --- gitlog Python Data Source ----------------------------------------


def test_gitlog_datasource_matches_jvm_parser(spark, tmp_path):
    """format('gitlog') must produce the same commits as the JVM-side
    parse_git_log on the same input (modulo the derived commit_ts
    column, which only the JVM parser adds)."""
    import subprocess

    from git_log_to_sqlite_spark.etl import parse_git_log
    from git_log_to_sqlite_spark.sources import register_gitlog_source

    logdir = tmp_path / "gitlogs"
    logdir.mkdir()
    log = subprocess.run(
        [
            "git", "-C", "/root/repo", "log", "--no-merges",
            "--pretty=format:%x01%H%x02%P%x02%an%x02%ae%x02%at%x02%s",
            "--numstat", "-M", "-C",
        ],
        capture_output=True, text=True, check=True,
    ).stdout
    (logdir / "repo.log").write_text(log)

    register_gitlog_source(spark)
    via_ds = spark.read.format("gitlog").load(str(logdir))
    via_jvm = parse_git_log(spark, str(logdir)).drop("commit_ts")

    cols = sorted(via_ds.columns)
    assert cols == sorted(via_jvm.columns)
    a = sorted(tuple(r) for r in via_ds.select(*cols).collect())
    b = sorted(tuple(r) for r in via_jvm.select(*cols).collect())
    assert a == b
    assert len(a) > 0


def test_gitlog_datasource_one_partition_per_file(spark, tmp_path):
    from git_log_to_sqlite_spark.sources import register_gitlog_source

    logdir = tmp_path / "logs"
    logdir.mkdir()
    block = (
        "\x01" + "a" * 40 + "\x02\x02Ann\x02a@x.test\x021700000000\x02msg\n"
        "1\t2\tfile.py\n"
    )
    for name in ("r1.log", "r2.log", "r3.log"):
        (logdir / name).write_text(block)
    register_gitlog_source(spark)
    df = spark.read.format("gitlog").load(str(logdir))
    assert df.rdd.getNumPartitions() == 3
    repos = sorted(r["repository"] for r in df.select("repository").collect())
    assert repos == ["r1", "r2", "r3"]


def test_gitlog_parse_blocks_sentinels():
    """Pure-parser unit checks: zero-OID root, author sentinels,
    binary numstat, rename new-path, merge exclusion."""
    from git_log_to_sqlite_spark.sources.gitlog_source import ZERO_OID, parse_blocks

    text = (
        # root commit, blank author fields, binary file, rename
        "\x01" + "b" * 40 + "\x02\x02\x02\x021700000001\x02\n"
        "-\t-\tassets/logo.png\n"
        "3\t1\tsrc/{old.py => new.py}\n"
        # merge commit -> excluded
        "\x01" + "c" * 40 + "\x02" + "d" * 40 + " " + "e" * 40 +
        "\x02M\x02m@x\x021700000002\x02merge\n"
    )
    rows = list(parse_blocks(text, "r"))
    assert len(rows) == 1
    (h, parent, name, email, msg, epoch, ins, dels, repo, files) = rows[0]
    assert parent == ZERO_OID
    assert name == "(no author name)"
    assert email == "(no author email)"
    assert msg == "(no commit summary)"
    assert (ins, dels) == (3, 1)
    assert files == ["assets/logo.png", "src/new.py"]


def test_orc_sink_and_scan_roundtrip(spark, oracle_sf_dir, tmp_path):
    """ORC is the second columnar format Spark supports natively (no
    extra jars): write orders out, read it back with pushdown, and
    check the scan prunes and filters like the parquet path."""
    from git_log_to_sqlite_spark.plans.registry import table

    path = str(tmp_path / "orders_orc")
    table(spark, oracle_sf_dir, "orders").write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    want = table(spark, oracle_sf_dir, "orders")
    assert back.count() == want.count()
    got = back.filter(F.col("o_orderkey") < 100).select("o_orderkey", "o_totalprice")
    ref = want.filter(F.col("o_orderkey") < 100).select("o_orderkey", "o_totalprice")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    plan_buf = got._jdf.queryExecution().executedPlan().toString()
    assert "orc" in plan_buf.lower()


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """Schema evolution in a parquet lake: an old partition without a
    new column and a new partition with it must read as ONE table under
    mergeSchema, nulls filling the old rows."""
    old = spark.createDataFrame([(1, "a")], "id long, name string")
    new = spark.createDataFrame(
        [(2, "b", 0.9)], "id long, name string, quality double"
    )
    old.write.parquet(str(tmp_path / "t" / "batch=1"))
    new.write.parquet(str(tmp_path / "t" / "batch=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "t"))
    rows = {r["id"]: (r["name"], r["quality"]) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 0.9)}
    assert "quality" in merged.columns and "batch" in merged.columns


def test_local_frame_matches_tuple_list_form(spark):
    """session.local_frame (the SQL VALUES path for bounded dim/model
    frames) must be value- and schema-identical to the tuple-list
    createDataFrame it replaces — including a nested comma-bearing DDL
    type, which a naive comma-split column parse would break on, and
    the zero-row fallback."""
    from git_log_to_sqlite_spark.session import local_frame

    ddl = "k string, v double"
    rows = [("a", 1.5), ("b", -2.0)]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    nested_ddl = "k string, m map<string,int>, s struct<a:int,b:string>"
    nested_rows = [("x", {"p": 1, "q": 2}, (7, "y"))]
    got_n = local_frame(spark, nested_rows, nested_ddl)
    want_n = spark.createDataFrame(nested_rows, nested_ddl)
    assert got_n.schema == want_n.schema
    [gr], [wr] = got_n.collect(), want_n.collect()
    assert (gr["k"], dict(gr["m"]), tuple(gr["s"])) == (
        wr["k"],
        dict(wr["m"]),
        tuple(wr["s"]),
    )

    empty = local_frame(spark, [], ddl)
    assert empty.schema == want.schema and empty.count() == 0

    # SQL-text edge values: quotes, backslashes (a trailing one too),
    # control characters, NULL, NaN and both infinities
    import math

    edge_rows = [
        ("it's", float("nan")),
        ("back\\slash\\", float("inf")),
        ("\\'", float("-inf")),
        ("tab\tnew\nline é", None),
        (None, 1e-300),
    ]
    got_e = local_frame(spark, edge_rows, ddl)
    assert got_e.schema == want.schema
    assert got_e._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    rows_e = got_e.collect()
    assert [r["k"] for r in rows_e] == [k for k, _ in edge_rows]
    assert math.isnan(rows_e[0]["v"])
    assert [r["v"] for r in rows_e[1:]] == [v for _, v in edge_rows[1:]]


def test_write_parquet_bounds_records_per_file(spark, tmp_path):
    """The scale sink's file-sizing knob: max_records_per_file must
    bound every output file (a skewed task otherwise emits one giant
    unsplittable-below-row-group file at fleet scale), the rows must
    round-trip exactly, and the default must keep the unbounded
    one-file-per-task layout."""
    import glob

    import pyarrow.parquet as pq

    from git_log_to_sqlite_spark.etl.writers import write_parquet

    df = spark.range(100).coalesce(1).selectExpr("id", "id * 2 AS v")

    write_parquet(df, str(tmp_path / "bounded"), max_records_per_file=30)
    files = glob.glob(str(tmp_path / "bounded" / "*.parquet"))
    assert len(files) == 4  # ceil(100 / 30) from the single task
    assert all(pq.ParquetFile(f).metadata.num_rows <= 30 for f in files)
    back = spark.read.parquet(str(tmp_path / "bounded"))
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )

    write_parquet(df, str(tmp_path / "default"))
    assert len(glob.glob(str(tmp_path / "default" / "*.parquet"))) == 1

    import pytest

    with pytest.raises(ValueError, match="max_records_per_file"):
        write_parquet(df, str(tmp_path / "bad"), max_records_per_file=0)


def _bench():
    """``bench.py`` at the repo root, imported as a module."""
    import sys

    if str(REPO_ROOT) not in sys.path:
        sys.path.insert(0, str(REPO_ROOT))
    import bench

    return bench


def test_bench_detail_write_never_costs_the_stdout_line(tmp_path):
    """bench._write_detail (the round-14 artifact-of-record guard): a
    happy write round-trips the sidecar and leaves the compact line
    untouched; an unwritable path surfaces as detail_error in the
    compact line instead of raising after minutes of measured work."""
    import json

    _write_detail = _bench()._write_detail

    detail = {"sf": 0.01, "value": 1.23, "runs": {"q": [1.0]}}
    out = {"metric": "m", "value": 1.23}
    ok_path = str(tmp_path / "detail.json")
    _write_detail(detail, ok_path, out)
    assert "detail_error" not in out
    assert json.load(open(ok_path)) == detail

    bad_path = str(tmp_path / "no_such_dir" / "detail.json")
    _write_detail(detail, bad_path, out)
    assert out["detail_error"].startswith("FileNotFoundError")
    assert out["value"] == 1.23  # the compact payload survives

    # a non-JSON-serializable value in the detail (the other way a
    # sidecar write can fail) must degrade the sidecar, not the line
    out2 = {"metric": "m", "value": 4.56}
    _write_detail({"bad": {1, 2}}, str(tmp_path / "d2.json"), out2)
    assert out2["detail_error"].startswith("TypeError")
    assert out2["value"] == 4.56


def test_bench_rows_are_contained(spark, monkeypatch):
    """bench._sample / _bench: a row whose setup or run raises records
    ``_fmt_exc`` under its key, releases its pins and returns None, and
    the next row still runs; a passing row yields ``n`` runs rounded to
    3 decimals. A
    failed extra lands in ``extra_errors`` only: it never sets the
    headline's ``errors`` or ``incomplete``."""
    from git_log_to_sqlite_spark.operators import caching

    bench = _bench()
    boom = RuntimeError("boom\nsecond line")

    def raising():
        caching.pin(spark.range(5))  # a failed run must not leak its pins
        raise boom

    def ok():
        return lambda: spark.range(3)

    errors = {}
    assert bench._sample(spark, lambda: raising, 3, "bad", errors) is None
    assert errors == {"bad": bench._fmt_exc(boom)} == {"bad": "RuntimeError: boom"}
    assert caching.release_caches() == 0
    runs = bench._sample(spark, ok, 2, "ok", errors)
    assert len(runs) == 2 and all(r == round(r, 3) >= 0 for r in runs)
    assert list(errors) == ["bad"]

    monkeypatch.setattr(bench, "_calibrate", lambda spark: [0.1, 0.1, 0.1])
    out, detail = bench._bench(
        spark, 0.001, [("q", ok)],
        [("bad_run", lambda: raising), ("bad_setup", raising), ("fine", ok)],
        {"one_off": 1.5},
    )
    assert "errors" not in out and "incomplete" not in out
    assert detail["extra_errors"] == {
        "bad_run": "RuntimeError: boom", "bad_setup": "RuntimeError: boom"
    }
    assert set(detail["extra"]) == {"one_off", "fine"}
    assert len(detail["extra_runs"]["fine"]) == 3
    assert out["queries"] == {"q": min(detail["runs"]["q"])} and out["value"] > 0
    assert list(detail["runs_pass2"]) == ["q"]

    out, detail = bench._bench(spark, 0.001, [("bad", lambda: raising), ("q", ok)], [], {})
    assert out["errors"] == {"bad": "RuntimeError: boom"} and out["incomplete"] is True
    assert list(out["queries"]) == list(detail["runs"]) == ["q"]
    assert "extra_errors" not in detail


def test_cited_tools_paths_exist():
    """Every ``tools/<file>`` path cited in the package, the tests and
    bench.py names a file that exists, so a deleted probe script cannot
    be cited again as evidence."""
    files = [
        REPO_ROOT / "bench.py",
        *(REPO_ROOT / "git_log_to_sqlite_spark").rglob("*.py"),
        *(REPO_ROOT / "tests").rglob("*.py"),
    ]
    cited = {
        (str(f.relative_to(REPO_ROOT)), m)
        for f in files
        for m in re.findall(r"\btools/[\w.-]*\w", f.read_text(encoding="utf-8"))
    }
    missing = sorted(f"{f}: {m}" for f, m in cited if not (REPO_ROOT / m).is_file())
    assert cited and not missing, missing
