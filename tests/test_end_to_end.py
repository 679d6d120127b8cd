"""End-to-end user journey (SURVEY.md section 7 PR1 minimum slice):
git-log text -> ETL -> partitioned parquet -> analytical query over the
produced tables, checked against DuckDB on the SAME parquet files.

This is the integration seam the unit suites don't cross: the ETL
writer's output is the analytics layer's input, and the oracle runs on
the materialized tables rather than the driver's fixtures.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from git_log_to_sqlite_spark.etl import parse_git_log, run_pipeline
from git_log_to_sqlite_spark.etl.writers import write_parquet

from .fixtures import write_fixture_logs

# The checkout these tests belong to: CLI subprocesses import the
# package from here, whichever directory pytest was started in.
REPO_ROOT = str(Path(__file__).resolve().parents[1])


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    """ETL the fixture logs and land logs/changed_files/repositories as
    parquet — the layout a downstream user queries."""
    tmp = tmp_path_factory.mktemp("e2e")
    logdir = write_fixture_logs(tmp / "logs")
    commits = parse_git_log(spark, str(logdir))
    repos_meta = commits.select(F.col("repository").alias("name")).distinct().withColumn(
        "url", F.lit(None).cast("string")
    )
    res = run_pipeline(spark, commits, repos_meta)
    out = tmp / "wh"
    write_parquet(res.logs, str(out / "logs"))
    write_parquet(res.changed_files, str(out / "changed_files"))
    write_parquet(res.repositories, str(out / "repositories"))
    return str(out)


def test_top_authors_per_repository(spark, warehouse):
    """The PR1 flagship: top-2 authors by commit count per repository,
    window-ranked with deterministic ties — Spark vs DuckDB on the
    parquet the pipeline just wrote."""
    logs = spark.read.parquet(f"{warehouse}/logs")
    repos = spark.read.parquet(f"{warehouse}/repositories")
    w = Window.partitionBy("repository_id").orderBy(
        F.col("n_commits").desc(), F.col("author_name")
    )
    got = (
        logs.groupBy("repository_id", "author_name")
        .agg(F.count("*").alias("n_commits"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .join(F.broadcast(repos), logs["repository_id"] == repos["id"])
        .select("name", "author_name", "n_commits", "rn")
    )
    con = duckdb.connect()
    want = con.execute(
        f"""
        WITH counts AS (
          SELECT repository_id, author_name, COUNT(*) AS n_commits
          FROM read_parquet('{warehouse}/logs/*.parquet')
          GROUP BY repository_id, author_name
        ), ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY repository_id
                                       ORDER BY n_commits DESC, author_name) AS rn
          FROM counts)
        SELECT name, author_name, n_commits, rn
        FROM ranked JOIN read_parquet('{warehouse}/repositories/*.parquet') r
          ON ranked.repository_id = r.id
        WHERE rn <= 2
        """
    ).fetchall()
    assert sorted(tuple(r) for r in got.collect()) == sorted(want)
    assert len(want) > 0


def test_changed_files_analytics_roundtrip(spark, warehouse):
    """Churn per file across the normalized child table equals the
    DuckDB aggregation over the same parquet."""
    cf = spark.read.parquet(f"{warehouse}/changed_files")
    got = sorted(
        tuple(r)
        for r in cf.groupBy("file_path")
        .agg(F.count("*").alias("n_touches"))
        .collect()
    )
    con = duckdb.connect()
    want = sorted(
        con.execute(
            f"""
            SELECT file_path, COUNT(*) AS n_touches
            FROM read_parquet('{warehouse}/changed_files/*.parquet')
            GROUP BY file_path
            """
        ).fetchall()
    )
    assert got == want and len(got) > 0


def _git(cwd, *args):
    import subprocess

    subprocess.run(
        (
            "git",
            "-c",
            "user.name=Fixture Author",
            "-c",
            "user.email=fixture@example.com",
            *args,
        ),
        cwd=cwd,
        check=True,
        capture_output=True,
    )


def test_cli_end_to_end_subprocess(tmp_path):
    """The CLI drop-in journey (analyzer.rs:32-62 argument parity): real
    git repositories under a root → ``python -m git_log_to_sqlite_spark``
    → reference-layout SQLite + main.rs-style report, with the ignore
    list and non-repo skip reporting exercised."""
    import sqlite3
    import subprocess
    import sys

    root = tmp_path / "root"
    for repo, files in (("alpha", ("a.txt", "b.txt")), ("beta", ("x.txt",)), ("ig", ("z",))):
        d = root / repo
        d.mkdir(parents=True)
        _git(d, "init", "-q")
        for i, name in enumerate(files):
            (d / name).write_text(f"content {i}\n")
            _git(d, "add", name)
            _git(d, "commit", "-q", "-m", f"add {name}")
    (root / "not_a_repo").mkdir()  # → skipped report

    (tmp_path / "config.toml").write_text('ignored_repositories = ["ig"]\n')
    db = tmp_path / "out.db"
    proc = subprocess.run(
        (
            sys.executable,
            "-m",
            "git_log_to_sqlite_spark",
            str(root),
            "--recursive",
            "--max-depth",
            "1",
            "--database",
            str(db),
            "--config",
            str(tmp_path / "config.toml"),
            "--num-threads",
            "4",
            "--clear",
        ),
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO_ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = proc.stdout
    assert "# Done in" in out
    assert "# 2 repositories in the table" in out and "alpha, beta" in out
    assert "# 1 ignored repositories" in out and "ig" in out
    assert "not stored for some reason" in out and "not_a_repo" in out

    con = sqlite3.connect(db)
    repos = dict(con.execute("SELECT name, id FROM repositories").fetchall())
    assert set(repos) == {"alpha", "beta"}
    logs = con.execute(
        "SELECT repository_id, COUNT(*) FROM logs GROUP BY repository_id"
    ).fetchall()
    assert dict(logs) == {repos["alpha"]: 2, repos["beta"]: 1}
    n_files = con.execute("SELECT COUNT(*) FROM changed_files").fetchone()[0]
    assert n_files == 3  # one file per fixture commit
    author = con.execute("SELECT DISTINCT author_name FROM logs").fetchall()
    assert author == [("Fixture Author",)]
    con.close()


def test_write_delta_gated_on_optional_dep(spark, tmp_path):
    """write_delta works where delta-spark exists and fails with setup
    guidance (not an opaque ClassNotFound) where it doesn't."""
    import importlib.util

    import pytest

    from git_log_to_sqlite_spark.etl.writers import write_delta

    df = spark.range(3)
    if importlib.util.find_spec("delta") is None:
        with pytest.raises(ModuleNotFoundError, match="delta-spark"):
            write_delta(df, str(tmp_path / "t"))
    else:
        write_delta(df, str(tmp_path / "t"))
        assert spark.read.format("delta").load(str(tmp_path / "t")).count() == 3


def test_cli_duplicate_basename_repos_lose_no_commits(tmp_path):
    """Two scanned directories sharing a basename (root/a/proj and
    root/b/proj) must both be parsed — per-directory dump subfolders
    prevent the flat-file clobbering that silently dropped one repo's
    history; the histories merge under the one name key (the
    reference's own name-keyed repositories semantics)."""
    import sqlite3
    import subprocess
    import sys

    root = tmp_path / "root"
    for parent, n_commits in (("a", 2), ("b", 3)):
        d = root / parent / "proj"
        d.mkdir(parents=True)
        _git(d, "init", "-q")
        for i in range(n_commits):
            (d / f"{parent}{i}.txt").write_text(f"{parent} {i}\n")
            _git(d, "add", f"{parent}{i}.txt")
            _git(d, "commit", "-q", "-m", f"{parent} commit {i}")

    db = tmp_path / "out.db"
    proc = subprocess.run(
        (
            sys.executable, "-m", "git_log_to_sqlite_spark", str(root),
            "--recursive", "--max-depth", "2",
            "--database", str(db), "--num-threads", "4",
        ),
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    con = sqlite3.connect(db)
    assert con.execute("SELECT COUNT(*) FROM repositories").fetchone()[0] == 1
    assert con.execute("SELECT COUNT(*) FROM logs").fetchone()[0] == 5
    con.close()


def _repo_with_commit(path):
    path.mkdir(parents=True)
    _git(path, "init", "-q")
    (path / "f.txt").write_text(f"{path.name}\n")
    _git(path, "add", "f.txt")
    _git(path, "commit", "-q", "-m", "add f.txt")


def _cli(spark, *argv):
    """Run the CLI's ``main`` in this process, on the test session.
    ``-n`` is the session's own shuffle-partition count, so the settings
    the CLI applies leave the shared session as it found them."""
    from git_log_to_sqlite_spark.__main__ import main

    n = spark.conf.get("spark.sql.shuffle.partitions")
    assert main([*argv, "--num-threads", n]) == 0


def test_cli_repo_names_spark_would_skip_or_encode(spark, tmp_path, capsys):
    """Names Spark's file source treats specially — hidden (``.dot``,
    ``_priv``) or URL-encoded by ``input_file_name()`` (``br[1]``) —
    still get their commits, each linked to its repository row."""
    import sqlite3

    names = (".dot", "_priv", "br[1]", "plain")
    for name in names:
        _repo_with_commit(tmp_path / "root" / name)
    db = tmp_path / "out.db"
    _cli(spark, str(tmp_path / "root"), "--recursive", "--database", str(db))

    con = sqlite3.connect(db)
    try:
        rows = con.execute(
            "SELECT r.name, l.repository_id FROM logs l "
            "LEFT JOIN repositories r ON l.repository_id = r.id"
        ).fetchall()
    finally:
        con.close()
    assert len(rows) == len(names)  # one commit per repository
    assert all(repository_id is not None for _, repository_id in rows), rows
    assert sorted(name for name, _ in rows) == sorted(names)
    assert f"# 4 repositories in the table\n\n{', '.join(sorted(names))}\n" in (
        capsys.readouterr().out
    )


def test_cli_root_with_trailing_slashes_is_analyzed_not_skipped(spark, tmp_path, capsys):
    """Non-recursive run on ``proj//``: the root is analyzed and not also
    reported as a skipped directory."""
    _repo_with_commit(tmp_path / "proj")
    _cli(spark, f"{tmp_path / 'proj'}//", "--database", str(tmp_path / "out.db"))
    out = capsys.readouterr().out
    assert "# 1 repositories in the table\n\nproj\n" in out
    assert "not stored" not in out


def test_cli_scan_and_repository_frames_are_local_relations(spark, tmp_path, monkeypatch):
    """Cost guard: the scanned-path and repository frames the CLI hands
    to ``run_pipeline`` are Arrow ``LocalRelation``s — a tuple-list
    frame (``LogicalRDD``) makes every job that reads it start Python
    workers."""
    from git_log_to_sqlite_spark.etl import pipeline

    seen = {}
    real = pipeline.run_pipeline

    def capture(spark_, commits, repos_meta, scanned_dirs=None, config=None):
        seen.update(repos_meta=repos_meta, scanned_dirs=scanned_dirs)
        return real(spark_, commits, repos_meta, scanned_dirs, config)

    monkeypatch.setattr(pipeline, "run_pipeline", capture)
    _repo_with_commit(tmp_path / "root" / "proj")
    (tmp_path / "root" / "not_a_repo").mkdir()
    _cli(spark, str(tmp_path / "root"), "--recursive", "--database", str(tmp_path / "o.db"))
    for name, df in seen.items():
        assert df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation", name
