"""Golden ETL test (SURVEY.md section 5.2.1): fixture git-log text ->
parse -> load -> assert the three output tables row-by-row, including
every reference sentinel."""

from __future__ import annotations

import sqlite3

import pytest
from pyspark.sql import functions as F

from git_log_to_sqlite_spark.config import Config
from git_log_to_sqlite_spark.etl import parse_git_log, run_pipeline
from git_log_to_sqlite_spark.etl.writers import write_sqlite
from git_log_to_sqlite_spark.schemas import (
    NO_AUTHOR_EMAIL,
    NO_AUTHOR_NAME,
    NO_COMMIT_SUMMARY,
    NO_REMOTE_URL,
    ZERO_OID,
)

from . import fixtures as FX


@pytest.fixture(scope="module")
def etl(spark, tmp_path_factory):
    logs_dir = FX.write_fixture_logs(tmp_path_factory.mktemp("golden"))
    commits = parse_git_log(spark, str(logs_dir))
    cfg = Config(
        ignored_repositories=FX.IGNORED_REPOSITORIES, author_map=FX.AUTHOR_MAP
    )
    return run_pipeline(
        spark, commits, FX.REPOS_META, scanned_dirs=FX.SCANNED_DIRS, config=cfg
    )


def _by_hash(rows):
    return {r["commit_hash"]: r for r in rows}


def test_merge_commits_excluded_and_ignored_repo_filtered(etl):
    logs = _by_hash(etl.logs.collect())
    assert FX.H[6] not in logs, "merge commit must be excluded (parent_count<2)"
    assert FX.H[12] not in logs, "ignored repo commits must be filtered"
    assert len(logs) == 10  # 9 alpha - 1 merge + 2 beta


def test_sentinels(etl):
    logs = _by_hash(etl.logs.collect())
    assert logs[FX.H[1]]["parent_hash"] == ZERO_OID  # root commit
    assert logs[FX.H[3]]["author_name"] == NO_AUTHOR_NAME
    assert logs[FX.H[4]]["author_email"] == NO_AUTHOR_EMAIL
    assert logs[FX.H[5]]["message"] == NO_COMMIT_SUMMARY


def test_author_map_override(etl):
    logs = _by_hash(etl.logs.collect())
    # alice@example.com is mapped -> canonical name replaces both spellings
    assert logs[FX.H[1]]["author_name"] == "Alice Canonical"
    assert logs[FX.H[2]]["author_name"] == "Alice Canonical"
    # unmapped email keeps its name
    assert logs[FX.H[10]]["author_name"] == "Eve"


def test_insertions_deletions_and_epoch(etl):
    logs = _by_hash(etl.logs.collect())
    assert (logs[FX.H[1]]["insertions"], logs[FX.H[1]]["deletions"]) == (13, 0)
    # binary file contributes 0/0 but the text file counts
    assert (logs[FX.H[8]]["insertions"], logs[FX.H[8]]["deletions"]) == (4, 1)
    # empty commit -> 0/0 (reference stores (0,0) on diff failure too)
    assert (logs[FX.H[9]]["insertions"], logs[FX.H[9]]["deletions"]) == (0, 0)
    assert logs[FX.H[1]]["commit_epoch"] == 1700000000
    assert logs[FX.H[1]]["commit_ts"].year == 2023


def test_rename_keeps_new_path(etl):
    files = etl.changed_files.collect()
    paths = {r["file_path"] for r in files}
    assert "src/new_name.rs" in paths and "src/old_name.rs" not in paths
    assert "src2/lib.rs" in paths and "lib.rs" not in paths
    assert "assets/logo.png" in paths  # binary file path still recorded
    assert "βeta/ünicode.txt" in paths  # unicode round-trip


def test_rename_spellings_keep_the_new_path(spark):
    """Each numstat path spelling resolves to the new path; only the
    doubled slash an empty brace side leaves is collapsed, so a path
    that is not a rename comes back as printed."""
    from git_log_to_sqlite_spark.etl.gitlog import _rename_new_path

    cases = {
        "src/{old.rs => new.rs}": "src/new.rs",
        "{ => src2}/lib.rs": "src2/lib.rs",
        "a/{b => }/c.txt": "a/c.txt",
        "lib.rs => src2/lib.rs": "src2/lib.rs",
        "plain/file.txt": "plain/file.txt",
        "//": "//",
    }
    rows = spark.createDataFrame([(k,) for k in cases], "p string").selectExpr(
        "p", f"{_rename_new_path('p')} AS new").collect()
    assert {r["p"]: r["new"] for r in rows} == cases


def test_changed_files_ids_deterministic(etl):
    rows = etl.changed_files.orderBy("id").collect()
    ids = [r["id"] for r in rows]
    assert ids == list(range(1, len(rows) + 1))
    # re-ordered by (commit_hash, array position)
    resorted = sorted(rows, key=lambda r: r["id"])
    assert resorted == rows


def test_changed_files_ids_deterministic_sqlite(etl, tmp_path):
    """The SQLite sink's twin: SQLite numbers ``changed_files`` as the
    rows arrive, and gets the pipeline's ids, row for row."""
    db = tmp_path / "ids.sqlite"
    write_sqlite(str(db), etl.repositories, etl.commits)
    con = sqlite3.connect(db)
    try:
        got = con.execute(
            "SELECT id, commit_hash, file_path FROM changed_files ORDER BY id"
        ).fetchall()
    finally:
        con.close()
    want = [tuple(r) for r in etl.changed_files.orderBy("id").collect()]
    assert got == want and len(got) > 0


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_sqlite_sink_ignores_input_order(spark, etl, tmp_path, aqe):
    """The sink's tables do not depend on the order or partitioning its
    commits arrive in: SQLite orders the rows. The golden commits plus
    a copy of two alpha commits under beta (a clone beside its origin),
    shuffled into several partitions, with AQE on and off: the
    ``changed_files`` ids equal ``build_changed_files`` ids of the
    pipeline's one copy per commit row for row on an empty database,
    and continue after the stored maximum on an append without
    ``clear``. The shared commits' rows go to alpha, the name that
    sorts first."""
    from git_log_to_sqlite_spark.etl.pipeline import _first_copy, build_changed_files

    shared = (FX.H[1], FX.H[2])
    copies = etl.commits.filter(F.col("commit_hash").isin(*shared)).withColumn(
        "repository", F.lit("beta")
    )
    assert copies.count() == len(shared)
    commits = etl.commits.unionByName(copies)
    want = [tuple(r) for r in build_changed_files(_first_copy(commits)).orderBy("id").collect()]

    def files(con):
        return con.execute("SELECT id, commit_hash, file_path FROM changed_files ORDER BY id")

    db = str(tmp_path / "order.sqlite")
    before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        write_sqlite(db, etl.repositories, commits.repartition(3))
        con = sqlite3.connect(db)
        try:
            assert files(con).fetchall() == want
            owners = con.execute(
                "SELECT r.name FROM logs l JOIN repositories r ON l.repository_id = r.id"
                " WHERE l.commit_hash IN (?, ?)",
                shared,
            ).fetchall()
            assert owners == [("alpha",), ("alpha",)]
            write_sqlite(db, etl.repositories, commits.repartition(4))
            n = len(want)
            assert files(con).fetchall() == [(i + n, h, p) for i, h, p in want]
            assert con.execute("SELECT count(*) FROM logs").fetchone()[0] == 10
        finally:
            con.close()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before)


def test_fork_tables_equal_between_parquet_and_sqlite_sinks(spark, tmp_path):
    """A commit found in several repositories (a fork beside its origin)
    is one ``logs`` row in the Parquet tables, as in the SQLite sink:
    the copy of the repository whose name sorts first, an unlisted
    repository (NULL id) included, and its files are stored once.
    ``run_pipeline``'s ``logs`` and ``changed_files`` written with
    ``write_parquet`` equal the ``write_sqlite`` tables row for row."""
    from git_log_to_sqlite_spark.etl.writers import write_parquet

    logs_dir = tmp_path / "gitlogs"
    logs_dir.mkdir()
    # "aa-fork" sorts before its origin; "0-unlisted" (not in the
    # dimension) sorts before beta, whose log it copies
    for name, text in (
        ("alpha", FX.ALPHA_LOG),
        ("aa-fork", FX.ALPHA_LOG),
        ("beta", FX.BETA_LOG),
        ("0-unlisted", FX.BETA_LOG),
    ):
        (logs_dir / f"{name}.log").write_text(text, encoding="utf-8")
    res = run_pipeline(
        spark,
        parse_git_log(spark, str(logs_dir)),
        [("alpha", None), ("aa-fork", None), ("beta", None)],
    )
    for table in ("logs", "changed_files"):
        write_parquet(getattr(res, table), str(tmp_path / table))
    logs = spark.read.parquet(str(tmp_path / "logs")).select(
        "commit_hash", "author_name", "author_email", "message", "commit_epoch",
        "insertions", "deletions", "repository_id", "parent_hash",
    )
    files = spark.read.parquet(str(tmp_path / "changed_files"))
    db = str(tmp_path / "fork.sqlite")
    write_sqlite(db, res.repositories, res.commits)
    con = sqlite3.connect(db)
    try:
        want_logs = con.execute("SELECT * FROM logs ORDER BY commit_hash").fetchall()
        want_files = con.execute("SELECT * FROM changed_files ORDER BY id").fetchall()
    finally:
        con.close()
    assert sorted(map(tuple, logs.collect())) == want_logs
    assert sorted(map(tuple, files.select("id", "commit_hash", "file_path").collect())) == (
        want_files
    )
    owner = {h: rid for h, *_, rid, _parent in want_logs}
    assert len(owner) == 10  # 8 alpha and 2 beta commits, each stored once
    assert owner[FX.H[1]] == 1 and owner[FX.H[10]] is None  # aa-fork; 0-unlisted
    keys = [(h, path) for _id, h, path in want_files]
    assert len(set(keys)) == len(keys)


def test_repositories_table(etl):
    repos = {r["name"]: r for r in etl.repositories.collect()}
    assert set(repos) == {"alpha", "beta"}  # ignored-repo excluded
    assert repos["alpha"]["url"] == "https://github.com/owner/alpha.git"
    assert repos["beta"]["url"] == NO_REMOTE_URL
    assert repos["alpha"]["id"] == 1 and repos["beta"]["id"] == 2  # name asc


def test_repository_id_fk(etl):
    logs = etl.logs.collect()
    repos = {r["name"]: r["id"] for r in etl.repositories.collect()}
    alpha_hashes = {FX.H[i] for i in (1, 2, 3, 4, 5, 7, 8, 9)}
    for row in logs:
        expected = repos["alpha"] if row["commit_hash"] in alpha_hashes else repos["beta"]
        assert row["repository_id"] == expected


def test_skipped_and_ignored_side_outputs(etl):
    skipped = {r["path"] for r in etl.skipped.collect()}
    assert skipped == {"/tmp/scan/not-a-repo", "/tmp/scan/ignored-repo"}
    ignored = {r["name"] for r in etl.ignored.collect()}
    assert ignored == {"ignored-repo"}


def test_skipped_basename_ignores_trailing_slash_runs(spark, etl):
    """A scanned path ending in any run of slashes names the repository
    its basename names (``proj//`` is ``proj``), so it is analyzed and
    not also reported as skipped."""
    dirs = ["/tmp/scan/alpha//", "/tmp/scan/beta/", "/tmp/scan/gone//"]
    res = run_pipeline(spark, etl.commits, FX.REPOS_META, scanned_dirs=dirs)
    assert {r["path"] for r in res.skipped.collect()} == {"/tmp/scan/gone//"}


def test_run_pipeline_construction_runs_no_job(spark, tmp_path):
    """Constructing the full load stage is lazy: ``ordered_row_number``
    on the string ``commit_hash`` key, the repositories window and the
    author map run nothing until an action."""
    import time

    logs_dir = FX.write_fixture_logs(tmp_path)
    cfg = Config(ignored_repositories=FX.IGNORED_REPOSITORIES, author_map=FX.AUTHOR_MAP)
    commits = parse_git_log(spark, str(logs_dir))
    tracker = spark.sparkContext._jsc.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    run_pipeline(spark, commits, FX.REPOS_META, scanned_dirs=FX.SCANNED_DIRS, config=cfg)
    time.sleep(0.5)
    assert len(tracker.getJobIdsForGroup(None)) == before


def test_parse_raw_logs_construction_py4j_calls(spark, monkeypatch):
    """Cost guard: building the parse plan is a handful of JVM-side SQL
    parses, not one py4j round trip per Column node (the Column-API form
    made about 2,000 calls).

    Memory commands (``m``) are not counted: they are the finalizers of
    JavaObjects other code left as garbage, and the garbage collector
    runs them whenever it likes, so they made the count vary by
    hundreds between runs."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    from git_log_to_sqlite_spark.etl import parse_raw_logs

    raw = spark.createDataFrame([(FX.ALPHA_LOG, "/logs/alpha.log")], "value string, _file string")
    client = spark.sparkContext._gateway._gateway_client
    send, calls = client.send_command, []

    def counted(command, *args, **kwargs):
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls.append(1)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    parsed = parse_raw_logs(raw)
    monkeypatch.undo()
    assert len(calls) <= 100, len(calls)
    assert parsed.columns[0] == "commit_hash"


def test_sqlite_parity_sink(etl, tmp_path):
    db = tmp_path / "out.sqlite"
    write_sqlite(str(db), etl.repositories, etl.commits)
    con = sqlite3.connect(db)
    try:
        n_logs = con.execute("SELECT count(*) FROM logs").fetchone()[0]
        assert n_logs == 10
        # epoch seconds stored raw, like the reference
        epoch = con.execute(
            "SELECT commit_datetime FROM logs WHERE commit_hash = ?", (FX.H[1],)
        ).fetchone()[0]
        assert epoch == 1700000000
        # idempotent re-write (R19 fixed): no duplicate repositories
        write_sqlite(str(db), etl.repositories, etl.commits)
        n_repos = con.execute("SELECT count(*) FROM repositories").fetchone()[0]
        assert n_repos == 2
    finally:
        con.close()
