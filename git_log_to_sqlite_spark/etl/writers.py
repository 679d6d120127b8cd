"""Sinks: Parquet (the scale path) and SQLite (reference drop-in parity).

The reference writes SQLite through rusqlite with one transaction per
repository (analyzer.rs:305-346).  At 100 TB the real sink is
partitioned Parquet (or Delta/Iceberg where the jars exist — gated
behind import-try per environment); the SQLite writer exists for
drop-in parity with the reference's output file and streams batches
through ``toLocalIterator`` so the driver never holds the full table.
"""

from __future__ import annotations

import importlib.util
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
    logs: DataFrame,
    changed_files: DataFrame,
    clear: bool = False,
    batch_size: int = 10_000,
) -> None:
    """Drop-in parity sink producing the reference's SQLite layout.

    ``commit_datetime`` stores raw epoch seconds — exactly what the
    reference stores into its DATETIME column (repository.rs:178 via
    analyzer.rs:327).  Batched executemany over ``toLocalIterator``:
    constant driver memory, one transaction per batch (the reference
    batches one transaction per repository, analyzer.rs:305-346).

    Writing into a populated database without ``clear`` appends, as
    the reference's AUTOINCREMENT ids do: a stored repository name
    keeps its id, new names take ids after the stored maximum (and
    ``logs.repository_id`` follows), new ``changed_files`` ids start
    after the stored maximum, and a re-written commit's earlier
    ``changed_files`` rows are replaced.  On an empty database the
    frames' own ids are written unchanged.
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
        repo_rows = repositories.select("id", "name", "url")
        log_rows = logs.select(
            "commit_hash",
            "author_name",
            "author_email",
            "message",
            "commit_epoch",
            "insertions",
            "deletions",
            "repository_id",
            "parent_hash",
        )
        if stored:
            # repositories is a bounded dimension: remap it on the driver
            repo_rows = repo_rows.collect()
            repo_id = _appended_ids(stored, repo_rows)
            repo_rows = [(repo_id[i], name, url) for i, name, url in repo_rows]
            log_rows = (
                (*row[:7], repo_id.get(row[7]), row[8])
                for row in log_rows.toLocalIterator()
            )
        _insert_stream(
            con,
            "INSERT OR REPLACE INTO repositories (id, name, url) VALUES (?, ?, ?)",
            repo_rows,
            batch_size,
        )
        _insert_stream(
            con,
            "INSERT OR REPLACE INTO logs (commit_hash, author_name, author_email,"
            " message, commit_datetime, insertions, deletions, repository_id,"
            " parent_hash) VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?)",
            log_rows,
            batch_size,
        )
        file_rows = changed_files.select("id", "commit_hash", "file_path")
        if file_offset:
            file_rows = (
                (i + file_offset, h, p) for i, h, p in file_rows.toLocalIterator()
            )
        _insert_stream(
            con,
            "INSERT OR REPLACE INTO changed_files (id, commit_hash, file_path)"
            " VALUES (?, ?, ?)",
            file_rows,
            batch_size,
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
    finally:
        con.close()


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


def _insert_stream(
    con: sqlite3.Connection,
    sql: str,
    rows: "DataFrame | Iterable[tuple]",
    batch_size: int,
) -> None:
    if isinstance(rows, DataFrame):
        rows = rows.toLocalIterator()
    batch: list[tuple] = []
    for row in rows:
        batch.append(tuple(row))
        if len(batch) >= batch_size:
            con.executemany(sql, batch)
            con.commit()
            batch.clear()
    if batch:
        con.executemany(sql, batch)
        con.commit()
