"""Load stage: commits DataFrame -> the reference's 3-table star schema.

Spark-native redesign of analyzer.rs:284-351 with the latent bugs fixed
by design (SURVEY.md R19: the reference's ``INSERT OR IGNORE`` on a
non-unique ``repositories.name`` duplicates rows on re-run; we make
``name`` a true key and assign deterministic ids).

Every join here is a broadcast join: repositories and the author map
are small dimensions even at 100 TB of commit data, so the fact table
never shuffles for id resolution (the reference instead ran one
correlated SQLite subquery per row, analyzer.rs:322).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import Config
from ..functions.core import normalize_remote_url
from ..operators.ordered import ordered_row_number


@dataclass
class EtlResult:
    """The pipeline's output tables + side outputs (R5 ignored report,
    R25 skipped-directories anti-join)."""

    repositories: DataFrame
    logs: DataFrame
    changed_files: DataFrame
    commits: DataFrame  # denormalized (changed_files array kept)
    ignored: DataFrame
    skipped: DataFrame


def apply_author_map(commits: DataFrame, config: Config, spark: SparkSession) -> DataFrame:
    """R16: broadcast left join + coalesce override of author_name when
    the email is mapped (repository.rs:163-171)."""
    if not config.author_map:
        return commits
    mapping = F.broadcast(config.author_map_df(spark))
    return (
        commits.join(mapping, "author_email", "left")
        .withColumn(
            "author_name",
            F.coalesce(F.col("mapped_author_name"), F.col("author_name")),
        )
        .drop("mapped_author_name")
    )


def build_repositories(repos_meta: DataFrame) -> DataFrame:
    """R19 (fixed): keyed, deterministic repositories dimension.

    ids via row_number over name asc — reproducible, unlike
    AUTOINCREMENT (analyzer.rs:152). URL normalization per
    repository.rs:187-193.

    The global window here is deliberate: repositories is a bounded
    dimension (one row per scanned repo — thousands at most), not a
    fact table; data-sized id assignment uses
    operators.ordered.ordered_row_number (see build_changed_files).
    (WindowExec's single-partition warning is suppressed at the logger
    in session.get_spark; a lit(0) partition key gets folded away.)
    """
    w = Window.orderBy("name")
    return (
        repos_meta.select("name", "url")
        # Deterministic survivor rule for duplicate-basename repos:
        # the minimum non-null url wins (dropDuplicates would keep an
        # arbitrary row, so re-runs could flip the stored url).
        .groupBy("name")
        .agg(F.min("url").alias("url"))
        .select(
            F.row_number().over(w).cast("long").alias("id"),
            F.col("name"),
            F.expr(normalize_remote_url("url")).alias("url"),
        )
    )


def build_logs(commits: DataFrame, repositories: DataFrame) -> DataFrame:
    """R20/R21: resolve repository_id with a broadcast equi-join
    (replaces the per-row correlated subquery at analyzer.rs:322)."""
    dim = F.broadcast(repositories.select(F.col("id").alias("repository_id"), "name"))
    return commits.join(
        dim, commits["repository"] == dim["name"], "left"
    ).select(
        "commit_hash",
        "author_name",
        "author_email",
        "message",
        "commit_epoch",
        "commit_ts",
        "insertions",
        "deletions",
        "repository_id",
        "parent_hash",
    )


def build_changed_files(commits: DataFrame) -> DataFrame:
    """R22: normalize the changed_files array into child rows
    (analyzer.rs:337-343), with deterministic ids over
    (commit_hash asc, array position) replacing AUTOINCREMENT.

    ``posexplode`` keeps the array position so the id assignment is a
    total order; ids come from operators.ordered.ordered_row_number
    (range-partition + partition-local row_number + broadcast offsets),
    so the assignment parallelizes instead of sorting every row on one
    reducer. At scale the (commit_hash, pos) composite key itself is
    the better foreign key; the surrogate id is an oracle-parity
    feature.
    """
    exploded = commits.select(
        "commit_hash", F.posexplode_outer("changed_files").alias("pos", "file_path")
    ).filter(F.col("file_path").isNotNull())
    numbered = ordered_row_number(exploded, ["commit_hash", "pos"], out_col="id")
    return numbered.select("id", "commit_hash", "file_path")


def build_skipped(scanned_dirs: DataFrame, repositories: DataFrame) -> DataFrame:
    """R25: directories whose basename is not among analyzed repo names
    — left anti-join (analyzer.rs:255-263). The basename ignores any run
    of trailing slashes, the rule the CLI names its dumps by
    (``basename(path.rstrip("/"))``)."""
    names = F.broadcast(repositories.select("name"))
    basename = F.regexp_extract(F.col("path"), r"([^/]+)/*$", 1)
    return (
        scanned_dirs.withColumn("_name", basename)
        .join(names, F.col("_name") == names["name"], "left_anti")
        .select("path")
    )


def run_pipeline(
    spark: SparkSession,
    commits: DataFrame,
    repos_meta: DataFrame,
    scanned_dirs: DataFrame | None = None,
    config: Config | None = None,
) -> EtlResult:
    """Full load stage. ``commits`` is the parse_git_log output;
    ``repos_meta`` has (name, url) — further columns are ignored;
    ``scanned_dirs`` has (path)."""
    config = config or Config()

    # R5: ignored-repositories filter with side collection of matches.
    if config.ignored_repositories:
        ignore = config.ignored_repositories
        ignored = repos_meta.filter(F.col("name").isin(ignore)).select("name")
        repos_meta = repos_meta.filter(~F.col("name").isin(ignore))
        commits = commits.filter(~F.col("repository").isin(ignore))
    else:
        ignored = repos_meta.select("name").limit(0)

    commits = apply_author_map(commits, config, spark)
    repositories = build_repositories(repos_meta)
    logs = build_logs(commits, repositories)
    changed_files = build_changed_files(commits)
    skipped = (
        build_skipped(scanned_dirs, repositories)
        if scanned_dirs is not None
        else spark.createDataFrame([], "path string")
    )
    return EtlResult(
        repositories=repositories,
        logs=logs,
        changed_files=changed_files,
        commits=commits,
        ignored=ignored,
        skipped=skipped,
    )


def scan_directories(root: str, recursive: bool = True, max_depth: int = 1) -> list[str]:
    """R1-R4: enumerate candidate repository directories, sorted.

    A plain in-process filesystem walk, as in the reference
    (analyzer.rs:102-135): repo *contents* are the big data, not the
    directory list, so callers that need it as a DataFrame build one
    with ``session.local_frame``.
    """
    if not recursive:
        return [root]
    dirs = []
    base_depth = root.rstrip("/").count("/")
    for cur, subdirs, _files in os.walk(root):
        depth = cur.rstrip("/").count("/") - base_depth
        subdirs[:] = [d for d in subdirs if d != ".git"]  # R4
        if depth >= max_depth:
            subdirs[:] = []
        if cur != root and depth <= max_depth:  # R2 skip root
            dirs.append(cur)
    return sorted(dirs)
