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
    repos_meta = [(r[0], None) for r in commits.select("repository").distinct().collect()]
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


def test_cli_duplicate_basename_keeps_the_remote_url(spark, tmp_path):
    """Of two directories sharing a basename, only one with an
    ``origin``: the stored url is that origin, normalized. The dump
    reports a missing remote as None, so the repositories dimension's
    minimum non-null url rule sees the real url instead of the
    ``(no remote url)`` sentinel, which sorts before it."""
    import sqlite3

    _repo_with_commit(tmp_path / "root" / "a" / "proj")
    _git(tmp_path / "root" / "a" / "proj", "remote", "add", "origin",
         "git@github.com:owner/proj.git")
    _repo_with_commit(tmp_path / "root" / "b" / "proj")
    db = tmp_path / "out.db"
    _cli(spark, str(tmp_path / "root"), "-r", "-m", "2", "-d", str(db))
    con = sqlite3.connect(db)
    try:
        rows = con.execute("SELECT name, url FROM repositories").fetchall()
    finally:
        con.close()
    assert rows == [("proj", "https://github.com/owner/proj.git")]


def _repo_with_commit(path):
    path.mkdir(parents=True)
    _git(path, "init", "-q")
    (path / "f.txt").write_text(f"{path.name}\n")
    _git(path, "add", "f.txt")
    _git(path, "commit", "-q", "-m", "add f.txt")


def _cli(spark, *argv):
    """Run the CLI's ``main`` in this process. ``main`` runs on the
    active session, so taking ``spark`` here keeps it the test's
    session."""
    from git_log_to_sqlite_spark.__main__ import main

    assert main(list(argv)) == 0


def test_cli_in_process_leaves_the_session_settings(spark, tmp_path):
    """``main`` run inside a process that already has a session uses
    that session as it finds it: a ``-n`` different from the session's
    partition count and a non-UTC session time zone both survive the
    run, and the stored commit time is still the commit's epoch."""
    import sqlite3
    import subprocess

    repo = tmp_path / "root" / "proj"
    _repo_with_commit(repo)
    epoch = int(
        subprocess.run(
            ("git", "-C", str(repo), "log", "-1", "--format=%at"),
            capture_output=True, text=True, check=True,
        ).stdout
    )
    keys = ("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    db = tmp_path / "out.db"
    try:
        _cli(spark, str(tmp_path / "root"), "-r", "-d", str(db), "-n", "3")
        after = {k: spark.conf.get(k) for k in keys}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert after == {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.session.timeZone": "Asia/Kolkata",
    }
    con = sqlite3.connect(db)
    try:
        rows = con.execute("SELECT commit_datetime FROM logs").fetchall()
    finally:
        con.close()
    assert rows == [(epoch,)]


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


def test_cli_clear_with_nothing_to_store_empties_the_database(spark, tmp_path, capsys):
    """``-c`` over a root holding no git repository still truncates all
    three tables (the reference clears before it scans, analyzer.rs:
    190-194), and the report lists every scanned directory as not
    stored."""
    import re
    import sqlite3

    _repo_with_commit(tmp_path / "root" / "proj")
    db = tmp_path / "out.db"
    _cli(spark, str(tmp_path / "root"), "-r", "-d", str(db))
    tables = ("repositories", "logs", "changed_files")

    def counts():
        con = sqlite3.connect(db)
        try:
            return [con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0] for t in tables]
        finally:
            con.close()

    assert counts() == [1, 1, 1]
    empty = tmp_path / "empty"
    for name in ("b_plain", "a_notes"):
        (empty / name).mkdir(parents=True)
    (empty / "a_notes" / "readme.txt").write_text("not a repository\n")
    capsys.readouterr()
    _cli(spark, str(empty), "-r", "-c", "-d", str(db))
    out = re.sub(r"Done in \d+\.\d seconds", "Done in X seconds", capsys.readouterr().out)

    assert counts() == [0, 0, 0]
    assert out == (
        "# Done in X seconds\n\n"
        "# 0 repositories in the table\n\n\n\n"
        "# 0 ignored repositories:\n\n\n\n"
        "# 2 directories were not stored for some reason. "
        "Maybe empty, or not a git repository?:\n\n"
        f"{empty / 'a_notes'}\n{empty / 'b_plain'}\n"
    )


def test_cli_scan_and_repository_frames_are_local_relations(spark, tmp_path, monkeypatch):
    """Cost guard: the repositories dimension the CLI hands the SQLite
    sink is a ``LocalRelation`` built on the driver, and the commits
    plan reads only the dumps: no ``LogicalRDD`` (a tuple-list frame
    makes every job that reads it start Python workers) and no
    ``Join`` (with AQE on, each broadcast build side runs a job of its
    own). The dump names and the author map are map literals. The
    scanned paths never become a frame: the skipped report is computed
    on the driver."""
    from git_log_to_sqlite_spark.etl import writers

    seen = {}
    real = writers.write_sqlite

    def capture(db_path, repositories, commits, clear=False):
        seen.update(repositories=repositories, commits=commits)
        return real(db_path, repositories, commits, clear=clear)

    def nodes(df):
        out, todo = [], [df._jdf.queryExecution().analyzed()]
        while todo:
            node = todo.pop()
            out.append(node.nodeName())
            it = node.children().iterator()
            while it.hasNext():
                todo.append(it.next())
        return out

    def leaves(df):
        it = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
        names = []
        while it.hasNext():
            names.append(it.next().nodeName())
        return names

    monkeypatch.setattr(writers, "write_sqlite", capture)
    _repo_with_commit(tmp_path / "root" / "proj")
    (tmp_path / "root" / "not_a_repo").mkdir()
    config = tmp_path / "config.toml"
    config.write_text('[author_map]\n"fixture@example.com" = "Canonical"\n')
    _cli(spark, str(tmp_path / "root"), "--recursive", "--database", str(tmp_path / "o.db"),
         "--config", str(config))
    assert set(leaves(seen["repositories"])) == {"LocalRelation"}
    commit_nodes = nodes(seen["commits"])
    assert "LogicalRDD" not in commit_nodes, commit_nodes
    assert not [n for n in commit_nodes if "Join" in n], commit_nodes
    assert leaves(seen["commits"]) == ["LogicalRelation"]  # the dump files


def _gen_module():
    """``perfbench/gen.py``: seeded git repositories with a manifest."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "perfbench_gen", Path(REPO_ROOT) / "perfbench" / "gen.py"
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture(scope="module")
def gen_tree(tmp_path_factory):
    """A small generated tree: 3 repositories of about 30 commits, plus
    the ignored, empty and non-git directories; returns (root, manifest)."""
    root = str(tmp_path_factory.mktemp("gen") / "root")
    return root, _gen_module().git_repos(root, 7, 3, 30)


def _pipeline_tables(spark, root, config_path, tmp_path):
    """The three tables ``run_pipeline`` builds from the CLI's inputs
    (scan, ignore list, dumps), rows ordered by primary key."""
    from git_log_to_sqlite_spark.__main__ import _dump_repo, _named_by_dump
    from git_log_to_sqlite_spark.config import Config
    from git_log_to_sqlite_spark.etl.pipeline import repository_name, scan_directories

    config = Config.load(config_path)
    dump_dir = tmp_path / "dumps"
    dump_dir.mkdir()
    dirs = [
        d for d in scan_directories(root)
        if repository_name(d) not in config.ignored_repositories
    ]
    dumped = [_dump_repo(d, str(dump_dir), i) for i, d in enumerate(dirs)]
    dumps = [(str(i), *r) for i, r in enumerate(dumped) if r is not None]
    commits = _named_by_dump(parse_git_log(spark, str(dump_dir)), dumps)
    res = run_pipeline(spark, commits, [(name, url) for _, name, url in dumps], config=config)
    logs = res.logs.select(
        "commit_hash", "author_name", "author_email", "message", "commit_epoch",
        "insertions", "deletions", "repository_id", "parent_hash",
    )
    return {
        "repositories": sorted(map(tuple, res.repositories.collect())),
        "logs": sorted(map(tuple, logs.collect())),
        "changed_files": sorted(map(tuple, res.changed_files.collect())),
    }


def _sqlite_tables(db):
    import sqlite3

    con = sqlite3.connect(db)
    try:
        return {
            table: con.execute(f"SELECT * FROM {table} ORDER BY {key}").fetchall()
            for table, key in (
                ("repositories", "id"), ("logs", "commit_hash"), ("changed_files", "id")
            )
        }
    finally:
        con.close()


def test_cli_sqlite_tables_equal_pipeline_frames(spark, gen_tree, tmp_path):
    """The CLI's SQLite tables equal ``run_pipeline``'s frames row by
    row, ``changed_files`` ids included (``ordered_row_number`` against
    SQLite's own numbering): on a fresh database, after an append
    without ``--clear`` (ids continue after the stored maximum and the
    re-written commits' old rows go), and after a ``--clear`` rerun."""
    root, manifest = gen_tree
    want = _pipeline_tables(spark, root, manifest["config"], tmp_path)
    assert len(want["logs"]) == manifest["commits"]
    assert len(want["changed_files"]) == manifest["changed_files"]
    db = str(tmp_path / "cli.db")

    def cli(*flags):
        _cli(spark, root, "-r", "-d", db, "-f", manifest["config"], *flags)
        return _sqlite_tables(db)

    assert cli() == want
    n = len(want["changed_files"])
    appended = cli()
    assert appended["repositories"] == want["repositories"]
    assert appended["logs"] == want["logs"]
    assert appended["changed_files"] == [(i + n, h, p) for i, h, p in want["changed_files"]]
    assert cli("--clear") == want


def test_cli_commit_in_two_repositories_keeps_file_ids(spark, tmp_path):
    """A commit found in two scanned repositories (a clone beside its
    origin) is stored once, under the name that sorts first, and so are
    its file rows, with the pipeline's (commit_hash, pos) numbering."""
    import sqlite3

    origin = tmp_path / "root" / "a_origin"
    origin.mkdir(parents=True)
    _git(origin, "init", "-q")
    for i in range(3):
        for name in ("x", "y"):
            (origin / f"{name}{i}.txt").write_text(f"{name} {i}\n")
            _git(origin, "add", f"{name}{i}.txt")
        _git(origin, "commit", "-q", "-m", f"pair {i}")
    clone = tmp_path / "root" / "b_clone"
    _git(tmp_path / "root", "clone", "-q", str(origin), str(clone))
    (clone / "only.txt").write_text("only\n")
    _git(clone, "add", "only.txt")
    _git(clone, "commit", "-q", "-m", "clone only")
    (tmp_path / "config.toml").write_text("")

    want = _pipeline_tables(spark, str(tmp_path / "root"), str(tmp_path / "config.toml"),
                            tmp_path)
    db = tmp_path / "out.db"
    _cli(spark, str(tmp_path / "root"), "-r", "-d", str(db))
    got = _sqlite_tables(db)
    assert len(want["changed_files"]) == 6 + 1
    assert got["changed_files"] == want["changed_files"]
    keys = [(h, path) for _id, h, path in got["changed_files"]]
    assert len(set(keys)) == len(keys)
    con = sqlite3.connect(db)
    try:
        stored = con.execute(
            "SELECT l.message, r.name FROM logs l JOIN repositories r"
            " ON l.repository_id = r.id ORDER BY l.message"
        ).fetchall()
    finally:
        con.close()
    assert stored == [("clone only", "b_clone")] + [
        (f"pair {i}", "a_origin") for i in range(3)
    ]


def test_cli_names_needing_sql_escapes_equal_pipeline_frames(spark, tmp_path):
    """Repository names, a remote URL and an author-map entry holding
    ``'``, ``\\``, ``"``, spaces and non-ASCII letters reach SQLite
    intact: the dump-name and author-map lookups and the repositories
    dimension are SQL literals, and every one of them is escaped. The
    tables equal ``run_pipeline``'s frames row by row."""
    import sqlite3

    root = tmp_path / "root"
    names = ["it's", "back\\slash", 'q"uote \\\' é']
    for name in names:
        _repo_with_commit(root / name)
    _git(root / names[0], "remote", "add", "origin", "git@github.com:o'wner/it's.git")
    config = tmp_path / "config.toml"
    config.write_text('[author_map]\n"fixture@example.com" = "O\'Brien \\\\ Ünal \\""\n')
    want = _pipeline_tables(spark, str(root), str(config), tmp_path)
    db = tmp_path / "out.db"
    _cli(spark, str(root), "-r", "-d", str(db), "-f", str(config))
    got = _sqlite_tables(db)
    assert got == want
    assert sorted(name for _, name, _ in got["repositories"]) == sorted(names)
    assert (2, "it's", "https://github.com/o'wner/it's.git") in got["repositories"]
    con = sqlite3.connect(db)
    try:
        authors = con.execute("SELECT DISTINCT author_name FROM logs").fetchall()
    finally:
        con.close()
    assert authors == [("O'Brien \\ Ünal \"",)]


def test_cli_warm_run_spark_jobs(spark, gen_tree, tmp_path):
    """Cost guard: a warm CLI ingest runs at most 3 Spark jobs: the
    parse's shuffle-map stage and the coalesced result it streams to
    SQLite. It ran 24 when the sink streamed three separately planned
    frames and ``skipped`` was an anti-join, and 8 when the
    repositories dimension was a Spark window, the dump names and the
    author map were broadcast joins and Spark sorted the commits."""
    import time

    root, manifest = gen_tree
    tracker = spark.sparkContext._jsc.statusTracker()
    for run in range(2):
        before = len(tracker.getJobIdsForGroup(None))
        _cli(spark, root, "-r", "-d", str(tmp_path / f"{run}.db"), "-f", manifest["config"])
        time.sleep(0.5)
        jobs = len(tracker.getJobIdsForGroup(None)) - before
    assert jobs <= 3, jobs


def test_cli_second_root_appends_to_existing_database(spark, tmp_path):
    """Two runs without ``--clear`` into one database: the second
    root's repository gets a new id instead of taking over the first
    one's, and every commit keeps its repository and its files.
    Re-running the second root adds nothing."""
    import sqlite3

    for root, name in (("r1", "beta"), ("r2", "alpha")):
        d = tmp_path / root / name
        d.mkdir(parents=True)
        _git(d, "init", "-q")
        for i in range(2):
            (d / f"{name}{i}.txt").write_text(f"{name} {i}\n")
            _git(d, "add", f"{name}{i}.txt")
            _git(d, "commit", "-q", "-m", f"{name} commit {i}")
    db = str(tmp_path / "db.sqlite")

    def state():
        con = sqlite3.connect(db)
        try:
            repos = con.execute("SELECT id, name FROM repositories").fetchall()
            commits = con.execute(
                "SELECT l.message, r.name FROM logs l"
                " JOIN repositories r ON l.repository_id = r.id"
            ).fetchall()
            files = con.execute(
                "SELECT c.file_path, l.message FROM changed_files c"
                " JOIN logs l ON c.commit_hash = l.commit_hash"
            ).fetchall()
            n_files = con.execute("SELECT count(*) FROM changed_files").fetchone()[0]
        finally:
            con.close()
        return sorted(repos), sorted(commits), sorted(files), n_files

    _cli(spark, str(tmp_path / "r1"), "-r", "-d", db)
    _cli(spark, str(tmp_path / "r2"), "-r", "-d", db)
    want = (
        [(1, "beta"), (2, "alpha")],
        sorted((f"{n} commit {i}", n) for n in ("alpha", "beta") for i in range(2)),
        sorted((f"{n}{i}.txt", f"{n} commit {i}") for n in ("alpha", "beta") for i in range(2)),
        4,
    )
    assert state() == want
    _cli(spark, str(tmp_path / "r2"), "-r", "-d", db)
    assert state() == want


def test_cli_non_utf8_commit_keeps_every_repository(spark, tmp_path):
    """A commit whose author and message are Latin-1 bytes (not valid
    UTF-8) must not abort the run: the repository beside it and both
    commits are stored, with each invalid byte read as U+FFFD."""
    import sqlite3
    import subprocess

    latin = tmp_path / "root" / "latin"
    latin.mkdir(parents=True)
    _git(latin, "init", "-q")
    msg = b"caf\xe9 raw\n"
    stream = (
        b"commit refs/heads/main\n"
        b"author Jos\xe9 <jose@example.com> 1700000000 +0000\n"
        b"committer Jos\xe9 <jose@example.com> 1700000000 +0000\n"
        b"data %d\n%s"
        b"M 644 inline f.txt\n"
        b"data 3\nhi\n\n" % (len(msg), msg)
    )
    subprocess.run(
        ("git", "fast-import", "--quiet"), cwd=latin, input=stream,
        check=True, capture_output=True,
    )
    _git(latin, "symbolic-ref", "HEAD", "refs/heads/main")
    _repo_with_commit(tmp_path / "root" / "plain")
    db = tmp_path / "out.db"
    _cli(spark, str(tmp_path / "root"), "--recursive", "--database", str(db))

    con = sqlite3.connect(db)
    try:
        rows = con.execute(
            "SELECT r.name, l.author_name, l.message FROM logs l"
            " JOIN repositories r ON l.repository_id = r.id"
        ).fetchall()
    finally:
        con.close()
    assert sorted(rows) == [
        ("latin", "Jos�", "caf� raw"),
        ("plain", "Fixture Author", "add f.txt"),
    ]


def test_cli_stores_non_ascii_file_paths_unquoted(spark, tmp_path):
    """Non-ASCII file paths land in ``changed_files`` as the names
    themselves, not git's C-quoted octal form; a rename stores the new
    path."""
    import sqlite3

    repo = tmp_path / "root" / "uni"
    repo.mkdir(parents=True)
    _git(repo, "init", "-q")
    for name in ("café.txt", "日本語.txt"):
        (repo / name).write_text(f"{name}\n")
        _git(repo, "add", name)
        _git(repo, "commit", "-q", "-m", f"add {name}")
    _git(repo, "mv", "café.txt", "naïve.txt")
    _git(repo, "commit", "-q", "-m", "rename")
    db = tmp_path / "out.db"
    _cli(spark, str(tmp_path / "root"), "--recursive", "--database", str(db))

    con = sqlite3.connect(db)
    try:
        rows = con.execute(
            "SELECT l.message, c.file_path FROM changed_files c"
            " JOIN logs l ON c.commit_hash = l.commit_hash"
        ).fetchall()
    finally:
        con.close()
    assert sorted(rows) == [
        ("add café.txt", "café.txt"),
        ("add 日本語.txt", "日本語.txt"),
        ("rename", "naïve.txt"),
    ]
