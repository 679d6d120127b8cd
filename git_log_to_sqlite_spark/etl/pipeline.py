"""Load stage: commits DataFrame -> the reference's 3-table star schema.

Spark-native redesign of analyzer.rs:284-351 with the latent bugs fixed
by design (SURVEY.md R19: the reference's ``INSERT OR IGNORE`` on a
non-unique ``repositories.name`` duplicates rows on re-run; we make
``name`` a true key and assign deterministic ids).

``run_pipeline`` builds every table as lazy frames (constructing them
runs no Spark job), with their ids, for the Parquet sink and the parity
plans. The CLI's SQLite path calls ``apply_author_map`` and
``build_repositories`` itself: the sink derives ``logs`` and
``changed_files`` rows from the commits.

The small inputs stay on the driver. ``repos_meta`` arrives as Python
rows, one per scanned repository, and the repositories dimension, the
ignored names and the skipped directories are built from them in
Python as ``LocalRelation``s: reading them runs no Spark job. The
author map is a SQL map literal in the commits plan, so the fact table
is never joined for it. ``build_logs`` joins the dimension as a
broadcast, so the fact table never shuffles for id resolution (the
reference instead ran one correlated SQLite subquery per row,
analyzer.rs:322). A commit found in several repositories is kept once,
before either fact table is built (``_first_copy``).
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import Config
from ..functions.core import normalize_remote_url
from ..operators.ordered import ordered_row_number
from ..session import local_frame, map_lookup


@dataclass
class EtlResult:
    """The pipeline's output tables + side outputs (R5 ignored report,
    R25 skipped directories)."""

    repositories: DataFrame
    logs: DataFrame
    changed_files: DataFrame
    commits: DataFrame  # denormalized (changed_files array kept)
    ignored: DataFrame
    skipped: DataFrame


def apply_author_map(commits: DataFrame, config: Config) -> DataFrame:
    """R16: override ``author_name`` where the email is mapped
    (repository.rs:163-171), as ``coalesce(map(...)[author_email],
    author_name)`` over a map literal of the config's author map."""
    if not config.author_map:
        return commits
    mapped = map_lookup(config.author_map, "author_email")
    return commits.withColumn(
        "author_name", F.expr(f"coalesce({mapped}, author_name)")
    )


def build_repositories(
    spark: SparkSession, repos_meta: Iterable[tuple[str, str | None]]
) -> DataFrame:
    """R19 (fixed): keyed, deterministic repositories dimension.

    ``repos_meta`` holds one (name, url) row per scanned repository.
    Ids are numbered 1.. in name order, reproducible unlike
    AUTOINCREMENT (analyzer.rs:152). A name found more than once keeps
    its minimum non-null url, a deterministic survivor rule (an
    arbitrary row would let re-runs flip the stored url). URL
    normalization per repository.rs:187-193, as the same SQL text the
    parse uses.

    Built on the driver: the dimension is bounded (one row per scanned
    repository), and as a ``LocalRelation`` with a projection it is
    read without a Spark job.
    """
    urls: dict[str, str | None] = {}
    for name, url in repos_meta:
        old = urls.get(name)
        urls[name] = url if old is None or (url is not None and url < old) else old
    rows = [(i, name, urls[name]) for i, name in enumerate(sorted(urls), 1)]
    return local_frame(spark, rows, "id long NOT NULL, name string, url string").selectExpr(
        "id", "name", f"{normalize_remote_url('url')} AS url"
    )


def _first_copy(commits: DataFrame) -> DataFrame:
    """One row per ``commit_hash``: a commit found in several
    repositories (a fork beside its origin) keeps the copy of the
    repository whose name sorts first, a NULL name first, as
    ``writers.write_sqlite`` does. Its one shuffle is on
    ``commit_hash``."""
    first = Window.partitionBy("commit_hash").orderBy(
        F.coalesce(F.col("repository"), F.lit(""))
    )
    return (
        commits.withColumn("_copy", F.row_number().over(first))
        .filter(F.col("_copy") == 1)
        .drop("_copy")
    )


def build_logs(commits: DataFrame, repositories: DataFrame) -> DataFrame:
    """R20/R21: resolve repository_id with a broadcast equi-join
    (replaces the per-row correlated subquery at analyzer.rs:322).
    ``commits`` holds one row per commit (``_first_copy``); ids are
    numbered in name order, so a fork's commit keeps the minimum
    ``repository_id``."""
    dim = F.broadcast(repositories.select(F.col("id").alias("repository_id"), "name"))
    return commits.join(dim, commits["repository"] == dim["name"], "left").select(
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
    (value buckets + partition-local row_number + broadcast offsets),
    so the assignment parallelizes instead of sorting every row on one
    reducer, and constructing it runs no job. ``writers.write_sqlite``
    assigns the same ids by inserting in this order. At scale the
    (commit_hash, pos) composite key itself is the better foreign key;
    the surrogate id is an oracle-parity feature.
    """
    exploded = commits.select(
        "commit_hash", F.posexplode_outer("changed_files").alias("pos", "file_path")
    ).filter(F.col("file_path").isNotNull())
    numbered = ordered_row_number(exploded, ["commit_hash", "pos"], out_col="id")
    return numbered.select("id", "commit_hash", "file_path")


def repository_name(path: str) -> str:
    """The name a scanned directory's repository is stored under: its
    basename, ignoring any run of trailing slashes (``proj//`` is
    ``proj``). The CLI's ignore list, dump names and skipped report and
    ``run_pipeline``'s skipped report all use this one rule."""
    return os.path.basename(path.rstrip("/"))


def run_pipeline(
    spark: SparkSession,
    commits: DataFrame,
    repos_meta: Iterable[tuple[str, str | None]],
    scanned_dirs: Iterable[str] = (),
    config: Config | None = None,
) -> EtlResult:
    """The full load stage as lazy frames (no Spark job runs).

    ``commits`` is the parse_git_log output; ``repos_meta`` holds
    (name, url) rows, one per scanned repository; ``scanned_dirs`` holds
    the scanned paths. The R5 ignore list drops its names from the
    commits and the dimension, and reports the ones found in
    ``repos_meta`` as ``ignored``. ``skipped`` (R25) holds the scanned
    paths whose ``repository_name`` is not an analyzed name, built on
    the driver. Returns every table with its ids assigned, for the
    Parquet sink and the parity plans; the CLI calls
    ``apply_author_map`` and ``build_repositories`` itself."""
    config = config or Config()
    ignore = set(config.ignored_repositories)
    repos_meta = list(repos_meta)
    ignored = [(name,) for name, _url in repos_meta if name in ignore]
    if ignore:
        repos_meta = [(name, url) for name, url in repos_meta if name not in ignore]
        commits = commits.filter(~F.col("repository").isin(config.ignored_repositories))
    commits = _first_copy(apply_author_map(commits, config))
    repositories = build_repositories(spark, repos_meta)
    names = {name for name, _url in repos_meta}
    skipped = [(path,) for path in scanned_dirs if repository_name(path) not in names]
    return EtlResult(
        repositories=repositories,
        logs=build_logs(commits, repositories),
        changed_files=build_changed_files(commits),
        commits=commits,
        ignored=local_frame(spark, ignored, "name string"),
        skipped=local_frame(spark, skipped, "path string"),
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
