"""Sinks: Parquet (the scale path) and SQLite (reference drop-in parity).

* ``write_parquet`` writes any frame, typically the ``run_pipeline``
  tables, with ``--clear`` semantics (overwrite).
* ``write_sqlite`` writes the reference's SQLite layout
  (analyzer.rs:149-188) from the repositories dimension and the
  denormalized commits. The commits stream through the driver one
  partition at a time, in no particular order, into SQLite staging
  tables; SQLite's own sorter then orders them and assigns the
  ``changed_files`` ids. Neither the driver nor Spark ever holds the
  full table, and Spark sorts nothing.
* ``clear_sqlite`` truncates the SQLite tables without writing.
"""

from __future__ import annotations

import itertools
import sqlite3
from contextlib import closing, contextmanager
from typing import Iterable, Iterator

from pyspark.sql import DataFrame

# Commits staged into SQLite per executemany (write_sqlite's memory
# contract).
_BATCH_ROWS = 10_000

# DDL mirrors analyzer.rs:149-188 (reference), with the R19 fix:
# repositories.name is UNIQUE so re-runs are idempotent.
_DDL = (
    """CREATE TABLE IF NOT EXISTS repositories (
        id INTEGER PRIMARY KEY,
        name TEXT NOT NULL UNIQUE,
        url TEXT
    )""",
    """CREATE TABLE IF NOT EXISTS logs (
        commit_hash TEXT PRIMARY KEY,
        author_name TEXT NOT NULL,
        author_email TEXT NOT NULL,
        message TEXT,
        commit_datetime DATETIME NOT NULL,
        insertions INTEGER,
        deletions INTEGER,
        repository_id INTEGER,
        parent_hash TEXT,
        FOREIGN KEY (repository_id) REFERENCES repositories (id)
    )""",
    """CREATE TABLE IF NOT EXISTS changed_files (
        id INTEGER PRIMARY KEY,
        commit_hash TEXT NOT NULL,
        file_path TEXT,
        FOREIGN KEY (commit_hash) REFERENCES logs (commit_hash)
    )""",
)


def write_parquet(
    df: DataFrame,
    path: str,
    max_records_per_file: int | None = None,
) -> None:
    """The scale sink: one unpartitioned Parquet table. ``--clear``
    semantics == mode('overwrite') (analyzer.rs:190-194).

    ``max_records_per_file`` bounds output file size per task (the
    per-write form of ``spark.sql.files.maxRecordsPerFile``): at fleet
    scale a skewed task otherwise emits one giant file that downstream
    scans cannot split below the row-group level, while the default
    (None = Spark's 0) keeps today's one-file-per-task layout. This is
    an upper bound only — tiny-file pressure from over-parallel inputs
    is the caller's repartition/coalesce decision, and compaction for
    an append-cadence table lives with the table (see
    ``operators.IvfIndex.compact``)."""
    writer = df.write.mode("overwrite")
    if max_records_per_file is not None:
        if max_records_per_file < 1:
            raise ValueError(
                f"max_records_per_file must be >= 1, got {max_records_per_file}"
            )
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


@contextmanager
def _connect(db_path: str) -> Iterator[sqlite3.Connection]:
    """A connection to ``db_path`` with the three tables created,
    closed on exit."""
    with closing(sqlite3.connect(db_path)) as con:
        for ddl in _DDL:
            con.execute(ddl)
        yield con


def _truncate(con: sqlite3.Connection) -> None:
    """R23: delete every row of the three tables (analyzer.rs:190-194)."""
    for table in ("changed_files", "logs", "repositories"):
        con.execute(f"DELETE FROM {table}")


def clear_sqlite(db_path: str) -> None:
    """R23 standalone: DDL + truncate the three tables (analyzer.rs:
    190-194). The reference truncates during prepare, BEFORE any repo
    is scanned — so ``--clear`` must purge even when the scan then
    finds nothing to store."""
    with _connect(db_path) as con:
        _truncate(con)
        con.commit()


def write_sqlite(
    db_path: str,
    repositories: DataFrame,
    commits: DataFrame,
    clear: bool = False,
) -> None:
    """Write the reference's SQLite layout (analyzer.rs:149-188) from
    the repositories dimension and the denormalized commits.

    ``repositories`` has (id, name, url) and is collected: it is a
    bounded dimension. ``commits`` is ``EtlResult.commits`` (or the
    CLI's author-mapped parse): one row per commit with its
    ``repository`` name and its ``changed_files`` array.

    Memory contract: ``commits`` is streamed once, in whatever order it
    arrives, through a ``rebalance`` hint and ``toLocalIterator``, so
    the driver holds one partition at a time (with AQE on, partitions
    are coalesced or split to the advisory partition size), plus one
    batch of ``_BATCH_ROWS`` (10,000) commits. Each batch is staged,
    one ``executemany`` per table, into two SQLite ``TEMP`` tables: a
    commit's ``logs`` row and one row per changed file with its array
    position, both under the copy's arrival number. ``logs`` and
    ``changed_files`` are then written with one ``INSERT ... SELECT ...
    ORDER BY`` each: SQLite's sorter, which spills to temporary files,
    orders the rows, so no Spark job samples or sorts the commits.

    A commit found in several scanned repositories is stored once, in
    ``logs`` and ``changed_files`` alike: the copy of the repository
    whose name sorts first, as ``pipeline.run_pipeline`` keeps it.
    ``changed_files.id`` is assigned by SQLite as the rows are inserted,
    in (commit_hash, array position) order: the reference's
    AUTOINCREMENT rule (analyzer.rs:178-188, 305-346), and on an empty
    database the ids ``pipeline.build_changed_files`` assigns. The
    result does not depend on the order or partitioning of
    ``commits``.

    ``commit_datetime`` stores raw epoch seconds — exactly what the
    reference stores into its DATETIME column (repository.rs:178 via
    analyzer.rs:327). The tables change in one transaction, after the
    stream has ended.

    Writing into a populated database without ``clear`` appends, as
    the reference's AUTOINCREMENT ids do: a stored repository name
    keeps its id, new names take ids after the stored maximum (and
    ``logs.repository_id`` follows), new ``changed_files`` ids follow
    the stored maximum, and a re-written commit's earlier
    ``changed_files`` rows are replaced. On an empty database the
    dimension's own ids are written unchanged.
    """
    with _connect(db_path) as con:
        con.execute(
            "CREATE TEMP TABLE log_rows (seq INTEGER PRIMARY KEY, commit_hash,"
            " author_name, author_email, message, commit_epoch, insertions,"
            " deletions, parent_hash, repository, repository_id)"
        )
        con.execute("CREATE TEMP TABLE file_rows (seq, commit_hash, pos, file_path)")
        stored, file_offset = {}, 0
        if not clear:
            stored = dict(con.execute("SELECT name, id FROM repositories"))
            (file_offset,) = con.execute(
                "SELECT coalesce(max(id), 0) FROM changed_files"
            ).fetchone()
        repo_rows = [tuple(r) for r in repositories.select("id", "name", "url").collect()]
        if stored:
            repo_id = _appended_ids(stored, repo_rows)
            repo_rows = [(repo_id[i], name, url) for i, name, url in repo_rows]
        id_of = {name: i for i, name, _url in repo_rows}
        rows = (
            commits.select(*_LOG_COLUMNS, "repository", "changed_files")
            .hint("rebalance")
            .toLocalIterator()
        )
        seq = itertools.count()
        for batch in _batched(rows, _BATCH_ROWS):
            batch = [(next(seq), *r) for r in batch]
            con.executemany(
                "INSERT INTO log_rows VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?)",
                [(*r[:10], id_of.get(r[9])) for r in batch],
            )
            con.executemany(
                "INSERT INTO file_rows VALUES (?, ?, ?, ?)",
                [
                    (r[0], r[1], pos, path)
                    for r in batch
                    for pos, path in enumerate(r[10] or ())
                    if path is not None
                ],
            )
        if clear:
            _truncate(con)
        con.executemany(
            "INSERT OR REPLACE INTO repositories (id, name, url) VALUES (?, ?, ?)",
            repo_rows,
        )
        # The first-sorted repository's copy of each commit wins.
        con.execute(
            "DELETE FROM log_rows WHERE seq NOT IN (SELECT seq FROM"
            " (SELECT seq, row_number() OVER (PARTITION BY commit_hash"
            "  ORDER BY coalesce(repository, ''), seq) AS copy FROM log_rows)"
            " WHERE copy = 1)"
        )
        con.execute(
            "INSERT OR REPLACE INTO logs (commit_hash, author_name, author_email,"
            " message, commit_datetime, insertions, deletions, parent_hash,"
            " repository_id)"
            " SELECT commit_hash, author_name, author_email, message, commit_epoch,"
            " insertions, deletions, parent_hash, repository_id FROM log_rows"
            " ORDER BY commit_hash"
        )
        con.execute(
            "INSERT INTO changed_files (commit_hash, file_path)"
            " SELECT commit_hash, file_path FROM file_rows"
            " WHERE seq IN (SELECT seq FROM log_rows) ORDER BY commit_hash, pos"
        )
        if file_offset:
            # A commit's file list is a function of its hash, so the
            # commits written now are the ones with rows above the offset.
            con.execute(
                "DELETE FROM changed_files WHERE id <= ? AND commit_hash IN"
                " (SELECT commit_hash FROM changed_files WHERE id > ?)",
                (file_offset, file_offset),
            )
        con.commit()


# ``logs`` columns in the commits frame, in staging order
_LOG_COLUMNS = (
    "commit_hash",
    "author_name",
    "author_email",
    "message",
    "commit_epoch",
    "insertions",
    "deletions",
    "parent_hash",
)


def _batched(rows: Iterable, size: int) -> Iterable[list]:
    """``rows`` in lists of at most ``size``."""
    it = iter(rows)
    while batch := list(itertools.islice(it, size)):
        yield batch


def _appended_ids(stored: dict[str, int], rows: list) -> dict[int, int]:
    """Frame repository id -> database id: a stored name keeps its id,
    new names are numbered after the stored maximum in frame-id order."""
    by_name = dict(stored)
    next_id = max(stored.values())
    ids = {}
    for rid, name, _url in sorted(rows, key=lambda r: r[0]):
        if name not in by_name:
            next_id += 1
            by_name[name] = next_id
        ids[rid] = by_name[name]
    return ids
