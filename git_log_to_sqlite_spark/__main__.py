"""CLI entry point — drop-in parity with the reference binary.

``python -m git_log_to_sqlite_spark <root> [flags]`` mirrors the
reference's clap surface (/root/reference/src/analyzer.rs:32-62):
positional root directory, ``--recursive``/``--max-depth`` scan
control, ``--database``, ``--config``, ``--clear``, ``--num-threads``;
and prints the end-of-run report of /root/reference/src/main.rs:5-26
(done-in seconds, analyzed repositories, ignored repositories, skipped
directories).

Execution model: the *directory list* is driver-side (as in the
reference, analyzer.rs:102-135); ``git log`` dumps run in a
``--num-threads`` pool (the reference's tokio worker pool,
analyzer.rs:217-235); the parse + load stages are Spark jobs
(etl/gitlog.py JVM parse → etl/pipeline.py), so the heavy lifting
scales out while the per-repo subprocess fan-out matches the
reference's one-task-per-repo model.  ``--num-threads`` also sizes the
local session's cores/shuffle partitions, the closest Spark analogue
of the reference's worker-thread knob.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

# git log dump format: \x01-separated records, \x02-separated header
# fields — exactly what etl.gitlog.parse_git_log consumes.  ``-M -C``
# turns on rename/copy detection so numstat emits the brace/arrow
# rename forms the parser resolves to the NEW path
# (repository.rs:149-152 parity).
_GIT_LOG_ARGS = (
    "log",
    "--pretty=format:%x01%H%x02%P%x02%an%x02%ae%x02%at%x02%s",
    "--numstat",
    "-M",
    "-C",
)
_NO_REMOTE = "(no remote url)"  # repository.rs:192 sentinel


def _parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        prog="git_log_to_sqlite_spark",
        description="Analyze git repositories under ROOT into a SQLite "
        "database (Spark-native re-implementation of git-log-to-sqlite).",
    )
    ap.add_argument("root", help="Path to the root directory to scan")
    ap.add_argument(
        "-r",
        "--recursive",
        action="store_true",
        help="Recursively scan the root directory",
    )
    ap.add_argument(
        "-m",
        "--max-depth",
        type=int,
        default=1,
        help="Max depth of the recursive scan (default: 1)",
    )
    ap.add_argument(
        "-d",
        "--database",
        default="repositories.db",
        help="Path to the database (default: repositories.db)",
    )
    ap.add_argument(
        "-f",
        "--config",
        default="config.toml",
        help="Path to TOML configuration file (default: config.toml)",
    )
    ap.add_argument(
        "-c",
        "--clear",
        action="store_true",
        help="Delete all records from the database before scanning",
    )
    ap.add_argument(
        "-n",
        "--num-threads",
        type=int,
        default=8,
        help="Number of worker threads (default: 8)",
    )
    return ap.parse_args(argv)


def _dump_repo(directory: str, dump_dir: str, index: int) -> tuple[str, str] | None:
    """Run ``git log`` for one candidate directory into
    ``<dump_dir>/<index>.log``; returns (name, remote_url) or None when
    the directory is not a usable git repository (→ skipped report).

    Dumps are named by scan index, never by repository name: two
    scanned directories can share a basename (root/a/proj and
    root/b/proj) and would clobber one file, Spark skips files whose
    names start with ``.`` or ``_``, and ``input_file_name()`` is
    URL-encoded. The caller maps each index back to its name, so
    same-named directories still merge under one name key downstream —
    the reference's own name-keyed behavior — and every commit is
    parsed.
    """
    name = os.path.basename(directory.rstrip("/"))
    try:
        log = subprocess.run(
            ("git", "-C", directory, *_GIT_LOG_ARGS),
            capture_output=True,
            check=True,
            text=True,
        ).stdout
    except (subprocess.CalledProcessError, OSError):
        return None  # not a git repo / empty — reference skips it too
    if not log.strip():
        return None
    with open(os.path.join(dump_dir, f"{index}.log"), "w", encoding="utf-8") as fh:
        fh.write(log)
    url = subprocess.run(
        ("git", "-C", directory, "config", "--get", "remote.origin.url"),
        capture_output=True,
        text=True,
    ).stdout.strip()
    return name, url or _NO_REMOTE


def _named_by_dump(commits: DataFrame, dumps: DataFrame) -> DataFrame:
    """Replace the parsed ``repository`` (the dump index, taken from the
    file name) with the repository name, keeping the column order."""
    from pyspark.sql import functions as F

    names = F.broadcast(dumps.selectExpr("dump AS repository", "name"))
    return commits.join(names, "repository").selectExpr(
        *("name AS repository" if c == "repository" else c for c in commits.columns)
    )


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv)
    t0 = time.monotonic()

    from .config import Config
    from .etl.gitlog import parse_git_log
    from .etl.pipeline import run_pipeline, scan_directories
    from .etl.writers import write_sqlite
    from .session import get_spark, local_frame

    config = Config.load(args.config)
    spark = get_spark(
        "git_log_to_sqlite_spark",
        cpus=max(args.num_threads, 1),
        extra_conf={"spark.sql.session.timeZone": "UTC"},
    )

    directories = scan_directories(
        args.root, recursive=args.recursive, max_depth=args.max_depth
    )

    # Ignore-list filter at scan time with side collection, matching
    # analyzer.rs:115-126 (recursive branch only, as in the reference;
    # run_pipeline re-applies the same filter defensively downstream).
    ignored: list[str] = []
    if args.recursive and config.ignored_repositories:
        ignore = set(config.ignored_repositories)
        ignored = sorted(
            {os.path.basename(d.rstrip("/")) for d in directories} & ignore
        )
        directories = [
            d for d in directories if os.path.basename(d.rstrip("/")) not in ignore
        ]

    with tempfile.TemporaryDirectory(prefix="gitlog_dump_") as dump_dir:
        with ThreadPoolExecutor(max_workers=max(args.num_threads, 1)) as pool:
            dumped = list(
                pool.map(
                    lambda pair: _dump_repo(pair[1], dump_dir, pair[0]),
                    enumerate(directories),
                )
            )
        dumps = [(str(i), *r) for i, r in enumerate(dumped) if r is not None]

        if not dumps:
            if args.clear:
                # Reference parity: truncation happens during prepare,
                # before scanning (analyzer.rs:190-194) — an empty scan
                # must still purge.
                from .etl.writers import clear_sqlite

                clear_sqlite(args.database)
            print(f"# Done in {time.monotonic() - t0:.1f} seconds\n")
            print("# 0 repositories in the table\n\n\n")
            print(f"# {len(ignored)} ignored repositories:\n\n{', '.join(ignored)}\n")
            if directories:
                print(
                    f"# {len(directories)} directories were not stored for some "
                    "reason. Maybe empty, or not a git repository?:\n"
                )
                print("\n".join(directories))
            return 0

        # Every ignored name was dropped at scan time (or the list is
        # stripped below), so the analyzed names are the dumped ones.
        analyzed = sorted({name for _, name, _ in dumps})
        # The dump results and the path listing are Arrow LocalRelations:
        # the jobs that read them then run without Python workers.
        repos_meta = local_frame(spark, dumps, "dump string, name string, url string")
        scanned = local_frame(spark, [(d,) for d in directories], "path string")
        commits = _named_by_dump(parse_git_log(spark, dump_dir), repos_meta)
        # Reference parity (analyzer.rs:108-131): the ignore list applies
        # only to the recursive scan — a non-recursive run analyzes the
        # root even when its name is listed, so strip the list before the
        # pipeline's defensive re-filter.
        pipeline_config = config
        if not args.recursive and config.ignored_repositories:
            pipeline_config = Config(
                ignored_repositories=[], author_map=config.author_map
            )
        # Persist the parse across the pipeline's consumers: the logs
        # writer, the changed_files writer, and the two-phase id
        # assignment each action the plan, and without the persist each
        # re-reads and re-parses the dumped text (the regex parse is
        # the CPU floor of the cold path — measured at the 64-repo /
        # 25,600-commit scale: 14.6k -> 20.4k commits/s end-to-end).
        # MEMORY_AND_DISK: at corpus scale the parse output spills to
        # local disk — one write + N reads beats N re-parses, and the
        # cache is released as soon as the writes land.
        from pyspark import StorageLevel

        commits = commits.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            result = run_pipeline(spark, commits, repos_meta, scanned, pipeline_config)
            write_sqlite(
                args.database,
                result.repositories,
                result.logs,
                result.changed_files,
                clear=args.clear,
            )
            skipped = sorted(r.path for r in result.skipped.collect())
        finally:
            commits.unpersist()

    # Report format of /root/reference/src/main.rs:7-26.
    print(f"# Done in {time.monotonic() - t0:.1f} seconds\n")
    print(f"# {len(analyzed)} repositories in the table\n\n{', '.join(analyzed)}\n")
    print(f"# {len(ignored)} ignored repositories:\n\n{', '.join(ignored)}\n")
    if skipped:
        print(
            f"# {len(skipped)} directories were not stored for some reason. "
            "Maybe empty, or not a git repository?:\n"
        )
        print("\n".join(skipped))
    return 0


if __name__ == "__main__":
    sys.exit(main())
