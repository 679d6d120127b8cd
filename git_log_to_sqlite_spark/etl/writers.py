"""Sinks: Parquet (the scale path) and SQLite (reference drop-in parity).

* ``write_parquet`` / ``write_delta`` write any frame, typically the
  ``run_pipeline`` tables, with ``--clear`` semantics (overwrite).
* ``write_sqlite`` writes the reference's SQLite layout
  (analyzer.rs:149-188) from the repositories dimension and the
  denormalized commits, streamed once in ``commit_hash`` order; SQLite
  assigns the ``changed_files`` ids. The driver holds one partition of
  the sorted commits at a time, never the full table.
* ``clear_sqlite`` truncates the SQLite tables without writing.
"""

from __future__ import annotations

import importlib.util
import itertools
import sqlite3
from typing import Iterable

from pyspark.sql import DataFrame

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
    partition_by: Iterable[str] = (),
    max_records_per_file: int | None = None,
) -> None:
    """The scale sink. ``--clear`` semantics == mode('overwrite')
    (analyzer.rs:190-194).

    ``max_records_per_file`` bounds output file size per task (the
    per-write form of ``spark.sql.files.maxRecordsPerFile``): at fleet
    scale a skewed task otherwise emits one giant file that downstream
    scans cannot split below the row-group level, while the default
    (None = Spark's 0) keeps today's one-file-per-task layout. This is
    an upper bound only — tiny-file pressure from over-parallel inputs
    is the caller's repartition/coalesce decision, and compaction for
    append-cadence stores lives with the store (see
    ``_ParquetStore.compact``)."""
    writer = df.write.mode("overwrite")
    if max_records_per_file is not None:
        if max_records_per_file < 1:
            raise ValueError(
                f"max_records_per_file must be >= 1, got {max_records_per_file}"
            )
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    partition_by = list(partition_by)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_delta(
    df: DataFrame,
    path: str,
    partition_by: Iterable[str] = (),
    mode: str = "overwrite",
) -> None:
    """Delta Lake sink — same layout semantics as :func:`write_parquet`
    plus ACID commits and time travel.

    Gated on the optional ``delta-spark`` package (not baked into this
    container): the session must also be built with
    ``DeltaSparkSessionExtension`` + ``DeltaCatalog`` (see
    ``delta.configure_spark_with_delta_pip`` in the delta-spark docs).
    Raises ``ModuleNotFoundError`` with setup guidance when absent;
    parquet remains the default scale sink.
    """
    if importlib.util.find_spec("delta") is None:
        raise ModuleNotFoundError(
            "delta-spark is not installed; install it and configure the "
            "SparkSession with spark.sql.extensions="
            "io.delta.sql.DeltaSparkSessionExtension and "
            "spark.sql.catalog.spark_catalog="
            "org.apache.spark.sql.delta.catalog.DeltaCatalog to enable "
            "the Delta sink (write_parquet is the default scale sink)"
        )
    writer = df.write.format("delta").mode(mode)
    partition_by = list(partition_by)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def clear_sqlite(db_path: str) -> None:
    """R23 standalone: DDL + truncate the three tables (analyzer.rs:
    190-194). The reference truncates during prepare, BEFORE any repo
    is scanned — so ``--clear`` must purge even when the scan then
    finds nothing to store."""
    con = sqlite3.connect(db_path)
    try:
        for ddl in _DDL:
            con.execute(ddl)
        for table in ("changed_files", "logs", "repositories"):
            con.execute(f"DELETE FROM {table}")
        con.commit()
    finally:
        con.close()


def write_sqlite(
    db_path: str,
    repositories: DataFrame,
    commits: DataFrame,
    clear: bool = False,
    batch_size: int = 10_000,
) -> None:
    """Write the reference's SQLite layout (analyzer.rs:149-188) from
    the repositories dimension and the denormalized commits.

    ``repositories`` has (id, name, url) and is collected: it is a
    bounded dimension. ``commits`` is ``EtlResult.commits`` (or
    ``pipeline.prepare``'s commits): one row per commit with its
    ``repository`` name and its ``changed_files`` array. It is streamed
    once, sorted by ``commit_hash``, through ``toLocalIterator``, so the
    driver holds one partition of the sorted frame at a time (AQE
    coalesces the sort's partitions to the data's size). Each commit
    yields its ``logs`` row, its ``repository_id`` looked up by name in
    the dimension, and its ``changed_files`` rows.

    ``changed_files.id`` is assigned by SQLite as the rows arrive, in
    (commit_hash, array position) order: the reference's AUTOINCREMENT
    rule (analyzer.rs:178-188, 305-346), and on an empty database the
    ids ``pipeline.build_changed_files`` assigns. A commit found in
    several scanned repositories is stored once, under the repository
    whose name sorts first; its file rows are numbered position-major
    across the copies, as ``build_changed_files`` numbers them.

    ``commit_datetime`` stores raw epoch seconds — exactly what the
    reference stores into its DATETIME column (repository.rs:178 via
    analyzer.rs:327). Rows are inserted in batches of ``batch_size``,
    one transaction per batch.

    Writing into a populated database without ``clear`` appends, as
    the reference's AUTOINCREMENT ids do: a stored repository name
    keeps its id, new names take ids after the stored maximum (and
    ``logs.repository_id`` follows), new ``changed_files`` ids follow
    the stored maximum, and a re-written commit's earlier
    ``changed_files`` rows are replaced. On an empty database the
    dimension's own ids are written unchanged.
    """
    con = sqlite3.connect(db_path)
    try:
        for ddl in _DDL:
            con.execute(ddl)
        if clear:  # R23 (analyzer.rs:190-194)
            for table in ("changed_files", "logs", "repositories"):
                con.execute(f"DELETE FROM {table}")
        stored = dict(con.execute("SELECT name, id FROM repositories"))
        (file_offset,) = con.execute(
            "SELECT coalesce(max(id), 0) FROM changed_files"
        ).fetchone()
        repo_rows = [tuple(r) for r in repositories.select("id", "name", "url").collect()]
        if stored:
            repo_id = _appended_ids(stored, repo_rows)
            repo_rows = [(repo_id[i], name, url) for i, name, url in repo_rows]
        con.executemany(
            "INSERT OR REPLACE INTO repositories (id, name, url) VALUES (?, ?, ?)",
            repo_rows,
        )
        id_of = {name: i for i, name, _url in repo_rows}
        rows = (
            commits.select(*_LOG_COLUMNS, "repository", "changed_files")
            .orderBy("commit_hash")
            .toLocalIterator()
        )
        log_batch: list[tuple] = []
        file_batch: list[tuple] = []
        for commit_hash, copies in itertools.groupby(rows, key=lambda r: r[0]):
            copies = sorted(copies, key=lambda r: r["repository"] or "")
            first = copies[0]
            log_batch.append((*first[:7], id_of.get(first["repository"]), first[7]))
            for paths in itertools.zip_longest(*(r["changed_files"] or () for r in copies)):
                file_batch.extend((commit_hash, p) for p in paths if p is not None)
            if len(log_batch) + len(file_batch) >= batch_size:
                _flush(con, log_batch, file_batch)
        _flush(con, log_batch, file_batch)
        if file_offset:
            # A commit's file list is a function of its hash, so the
            # commits written now are the ones with rows above the offset.
            con.execute(
                "DELETE FROM changed_files WHERE id <= ? AND commit_hash IN"
                " (SELECT commit_hash FROM changed_files WHERE id > ?)",
                (file_offset, file_offset),
            )
        con.commit()
    finally:
        con.close()


# ``logs`` columns in the commits frame, with ``repository_id`` going
# between the seventh and the last
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


def _flush(con: sqlite3.Connection, log_rows: list, file_rows: list) -> None:
    """Insert and commit one batch, then empty the lists."""
    con.executemany(
        "INSERT OR REPLACE INTO logs (commit_hash, author_name, author_email,"
        " message, commit_datetime, insertions, deletions, repository_id,"
        " parent_hash) VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)",
        log_rows,
    )
    con.executemany(
        "INSERT INTO changed_files (commit_hash, file_path) VALUES (?, ?)", file_rows
    )
    con.commit()
    log_rows.clear()
    file_rows.clear()


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
