"""CLI entry point — drop-in parity with the reference binary.

``python -m git_log_to_sqlite_spark <root> [flags]`` mirrors the
reference's clap surface (analyzer.rs:32-62): positional root
directory, ``--recursive``/``--max-depth`` scan control,
``--database``, ``--config``, ``--clear``, ``--num-threads``. It writes
the reference's SQLite tables and prints the end-of-run report of
main.rs:5-26 (done-in seconds, analyzed repositories, ignored
repositories, skipped directories).

Execution model:

* the directory scan, the ignore list and the skipped report are
  driver-side, as in the reference (analyzer.rs:102-135);
* ``git log`` dumps run in a ``--num-threads`` pool (the reference's
  tokio worker pool, analyzer.rs:217-235);
* the parse (``etl.gitlog``), the dump-to-name mapping and the author
  map (``etl.pipeline.apply_author_map``) are one lazy Spark frame with
  no join: both mappings are SQL map literals. The repositories
  dimension (``etl.pipeline.build_repositories``) is built on the
  driver from the dump results;
* ``etl.writers.write_sqlite`` streams the commits once, unsorted, into
  SQLite, which orders them and numbers ``changed_files``. A warm
  ingest runs two Spark jobs: the parse's shuffle-map stage and the
  coalesced result. The CLI builds no ``logs`` or ``changed_files``
  frame.

``--num-threads`` also sizes the local session's cores and shuffle
partitions, the closest Spark analogue of the reference's
worker-thread knob.
"""

from __future__ import annotations

import argparse
import logging
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


def _dump_repo(
    directory: str, dump_dir: str, index: int
) -> tuple[str, str | None] | None:
    """Run ``git log`` for one candidate directory into
    ``<dump_dir>/<index>.log``; returns (name, remote_url) or None when
    the directory is not a usable git repository (→ skipped report).
    The url is None when there is no ``origin``; the repositories
    dimension stores its sentinel.

    Dumps are named by scan index, never by repository name: two
    scanned directories can share a basename (root/a/proj and
    root/b/proj) and would clobber one file, Spark skips files whose
    names start with ``.`` or ``_``, and ``input_file_name()`` is
    URL-encoded. The caller maps each index back to its name, so
    same-named directories still merge under one name key downstream —
    the reference's own name-keyed behavior — and every commit is
    parsed.

    The log is written as the raw bytes git printed: a name or message
    that is not valid UTF-8 reaches Spark's text reader, which turns
    each invalid byte into U+FFFD, instead of failing the whole run.
    ``core.quotePath=false`` makes ``--numstat`` print non-ASCII paths
    as they are (``café.txt``, not ``"caf\\303\\251.txt"``). Paths
    holding ``"``, ``\\`` or control characters are still C-quoted by
    git, and are stored as git prints them.
    """
    from .etl.pipeline import repository_name

    try:
        log = subprocess.run(
            ("git", "-c", "core.quotePath=false", "-C", directory, *_GIT_LOG_ARGS),
            capture_output=True,
            check=True,
        ).stdout
    except (subprocess.CalledProcessError, OSError):
        return None  # not a git repo / empty — reference skips it too
    if not log.strip():
        return None
    with open(os.path.join(dump_dir, f"{index}.log"), "wb") as fh:
        fh.write(log)
    url = subprocess.run(
        ("git", "-C", directory, "config", "--get", "remote.origin.url"),
        capture_output=True,
        text=True,
        errors="replace",
    ).stdout.strip()
    return repository_name(directory), url or None


def _named_by_dump(
    commits: DataFrame, dumps: list[tuple[str, str, str | None]]
) -> DataFrame:
    """Replace the parsed ``repository`` (the dump index, taken from the
    file name) with the repository name, keeping the column order.
    ``dumps`` holds the (dump, name, url) rows of the dumped
    repositories; the lookup is a map literal, so no join runs."""
    from pyspark.sql import functions as F

    from .session import map_lookup

    names = {dump: name for dump, name, _url in dumps}
    return commits.withColumn("repository", F.expr(map_lookup(names, "repository")))


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv)
    t0 = time.monotonic()

    from .config import Config
    from .etl.gitlog import parse_git_log
    from .etl.pipeline import (
        apply_author_map,
        build_repositories,
        repository_name,
        scan_directories,
    )
    from .etl.writers import write_sqlite
    from .session import get_spark, jvm_archive_state

    config = Config.load(args.config)
    spark = get_spark(
        "git_log_to_sqlite_spark",
        cpus=max(args.num_threads, 1),
        extra_conf={"spark.sql.session.timeZone": "UTC"},
    )
    log = logging.getLogger(__name__)
    if log.isEnabledFor(logging.DEBUG):
        log.debug("driver JVM class-data archive: %s", jvm_archive_state(spark))

    directories = scan_directories(
        args.root, recursive=args.recursive, max_depth=args.max_depth
    )

    # Ignore-list filter at scan time with side collection, matching
    # analyzer.rs:115-126 (recursive branch only, as in the reference:
    # a non-recursive run analyzes the root even when its name is listed).
    ignored: list[str] = []
    if args.recursive and config.ignored_repositories:
        ignore = set(config.ignored_repositories)
        ignored = sorted({repository_name(d) for d in directories} & ignore)
        directories = [d for d in directories if repository_name(d) not in ignore]

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

        # Every ignored name was dropped at scan time, so the analyzed
        # names are the dumped ones, and the skipped directories are the
        # rest (R25, on the driver).
        names = {name for _, name, _ in dumps}
        analyzed = sorted(names)
        skipped = [d for d in directories if repository_name(d) not in names]
        commits = apply_author_map(
            _named_by_dump(parse_git_log(spark, dump_dir), dumps), config
        )
        repositories = build_repositories(spark, [(name, url) for _, name, url in dumps])
        write_sqlite(args.database, repositories, commits, clear=args.clear)

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
