"""git-log text -> commits DataFrame, entirely with JVM-side expressions.

Design (SURVEY.md section 3.2): read one text file per repository with
``wholetext=True`` (one row per file — order-safe by construction, no
cross-partition line-ordering problem), split on the \\x01 record
separator into self-contained commit blocks, ``explode``, then parse
each block with higher-order array functions (``split`` / ``filter`` /
``transform`` / ``aggregate``).  No Python UDFs — the whole parse stays
inside whole-stage codegen.

Scale note: the parallel unit is the repository (file), matching the
reference's one-tokio-task-per-repo model (analyzer.rs:217-235) but
scheduled by Spark.  At 100 TB the corpus is many repos, so
file-granular parallelism saturates the cluster; a single pathological
multi-GB log can be pre-split at \\x01 boundaries upstream if needed.

Reference semantics reproduced (file:line in /root/reference):
  * merge exclusion: parent_count < 2            repository.rs:112
  * first-parent + zero-OID root sentinel        repository.rs:119-127,175
  * author name/email sentinels                  repository.rs:163-166
  * summary-only message + sentinel              repository.rs:179
  * epoch-seconds commit time                    repository.rs:178
  * per-commit insertion/deletion sums           repository.rs:154-156
  * rename => keep NEW path                      repository.rs:149-152
  * binary numstat ("-") counts as 0/0           repository.rs:161 (stats
    failure -> (0,0)); file path still recorded
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.core import (
    commit_summary,
    sql_string,
    with_author_sentinels,
    zero_oid_parent,
)

# One numstat line: "<ins>\t<del>\t<path>" where ins/del are digits or
# "-" for binary files.
_NUMSTAT = sql_string(r"^(\d+|-)\t(\d+|-)\t(.+)$")

RECORD_SEP = "\x01"
FIELD_SEP = "\x02"

_LF = sql_string("\n")
_CRLF = sql_string("\r\n")
_REPO_FROM_FILE = sql_string(r"([^/]+?)(\.(log|txt))?$")
_RENAME_BRACE = sql_string(r"\{[^{}]*? => ([^{}]*?)\}")
_RENAME_TO_EMPTY = sql_string(r"/\{[^{}]*? => \}")


def _numstat_lines(block: str) -> str:
    """All numstat lines of a commit block (skips the header line and
    blank separator lines)."""
    lines = f"split({block}, {_LF})"
    body = f"slice({lines}, 2, greatest(size({lines}) - 1, 0))"
    return f"filter({body}, line -> line RLIKE {_NUMSTAT})"


def _count_from(line: str, group: int) -> str:
    """Numstat count field -> long; binary-file '-' contributes 0."""
    raw = f"regexp_extract({line}, {_NUMSTAT}, {group})"
    return f"CASE WHEN {raw} = '-' THEN 0 ELSE CAST({raw} AS BIGINT) END"


def _sum_counts(numstat: str, group: int) -> str:
    """Per-commit sum of one numstat count field."""
    count = _count_from("line", group)
    return f"aggregate({numstat}, CAST(0 AS BIGINT), (acc, line) -> acc + {count})"


def _rename_new_path(path: str) -> str:
    """Keep the NEW side of a rename, matching the reference's use of
    the delta's new_file path (repository.rs:149-152).

    numstat rename spellings handled:
      * brace form   ``dir/{old.txt => new.txt}/x`` -> ``dir/new.txt/x``
        (an empty new side goes with the slash before it:
        ``a/{b => }/c`` -> ``a/c``)
      * plain form   ``old.txt => new.txt``         -> ``new.txt``

    Any other path is kept as printed.
    """
    emptied = f"regexp_replace({path}, {_RENAME_TO_EMPTY}, '')"
    debraced = f"regexp_replace({emptied}, {_RENAME_BRACE}, '$1')"
    return (
        f"CASE WHEN {debraced} RLIKE ' => ' "
        f"THEN regexp_extract({debraced}, ' => (.*)$', 1) ELSE {debraced} END"
    )


def parse_git_log(spark: SparkSession, path: str) -> DataFrame:
    """Parse ``git log`` text files into the denormalized commits DataFrame.

    ``path`` may be a file, directory, or glob of per-repository log
    files. Returns one row per non-merge commit with the columns
    ``commit_hash``, ``parent_hash``, ``author_name``, ``author_email``,
    ``message``, ``commit_epoch`` (long), ``commit_ts`` (timestamp,
    UTC), ``insertions``, ``deletions`` (long), ``repository`` and
    ``changed_files`` (an array of paths; explode happens in the load
    stage, like the reference's normalization at analyzer.rs:337-343).
    """
    raw = spark.read.text(path, wholetext=True).selectExpr(
        "value", "input_file_name() AS _file"
    )
    return parse_raw_logs(raw)


def read_gitlog_stream(spark: SparkSession, path: str) -> DataFrame:
    """Incremental commit ingestion (SURVEY.md section 1.4 / section 7
    stretch): the file-stream source picks up newly landed per-repo log
    files, at most 4 per trigger, and the SAME JVM-side parse produces
    commit rows — the batch pipeline's transformations apply unchanged
    downstream. The unit of incrementality is the log file (re-dumping
    a repo re-emits its commits; pair with dropDuplicates on
    commit_hash or an idempotent MERGE sink for exactly-once
    tables)."""
    raw = (
        spark.readStream.option("wholetext", "true")
        .option("maxFilesPerTrigger", 4)
        .text(path)
        .selectExpr("value", "input_file_name() AS _file")
    )
    return parse_raw_logs(raw)


def parse_raw_logs(raw: DataFrame) -> DataFrame:
    """Shared batch/stream parse: (value, _file) rows -> commit rows.
    All transformations are stateless SQL expressions, one
    ``selectExpr``/``where`` per stage, so the same plan serves
    ``spark.read`` and ``spark.readStream`` inputs and each stage parses
    JVM-side in one call. ``repository`` is the log file's base name
    without a ``.log``/``.txt`` suffix."""
    blocks = (
        raw.selectExpr(
            f"regexp_extract(_file, {_REPO_FROM_FILE}, 1) AS repository",
            f"explode(split(value, {sql_string(RECORD_SEP)})) AS block",
        )
        .selectExpr("repository", f"regexp_replace(block, {_CRLF}, {_LF}) AS block")
        .where("trim(block) != ''")
    )

    header = f"split(split_part(block, {_LF}, 1), {sql_string(FIELD_SEP)})"
    parsed = blocks.selectExpr(
        "repository",
        f"trim({header}[0]) AS commit_hash",
        f"filter(split(trim({header}[1]), ' '), p -> p != '') AS parents",
        f"{header}[2] AS raw_author_name",
        f"{header}[3] AS raw_author_email",
        f"CAST({header}[4] AS BIGINT) AS commit_epoch",
        f"{header}[5] AS raw_message",
        f"{_numstat_lines('block')} AS numstat",
    ).where(
        # Error-tolerant filters (R8/R10 equivalents): malformed blocks ->
        # dropped, like the reference's filter_map(ok) at repository.rs:109-111.
        "commit_hash RLIKE '^[0-9a-f]{7,40}$' AND commit_epoch IS NOT NULL"
        # Merge exclusion — the tool's defining predicate (repository.rs:112).
        " AND size(parents) < 2"
    )

    author_name, author_email = with_author_sentinels("raw_author_name", "raw_author_email")
    changed_file = _rename_new_path(f"regexp_extract(line, {_NUMSTAT}, 3)")
    return parsed.selectExpr(
        "commit_hash",
        f"{zero_oid_parent('get(parents, 0)')} AS parent_hash",
        f"{author_name} AS author_name",
        f"{author_email} AS author_email",
        f"{commit_summary('raw_message')} AS message",
        "commit_epoch",
        "to_timestamp(from_unixtime(commit_epoch)) AS commit_ts",
        f"{_sum_counts('numstat', 1)} AS insertions",
        f"{_sum_counts('numstat', 2)} AS deletions",
        "repository",
        f"transform(numstat, line -> {changed_file}) AS changed_files",
    )
