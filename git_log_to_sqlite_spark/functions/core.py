"""SQL expressions reproducing the reference's scalar transforms.

Each helper cites the reference behavior it reproduces (file:line
in the reference's sources). Helpers take and return Spark SQL
expression text: a caller embeds them in ``selectExpr``/``where`` (or
``F.expr``), so a whole stage parses JVM-side in one call instead of one
py4j round trip per ``Column`` node. Catalyst folds them into
whole-stage codegen like any other expression.
"""

from __future__ import annotations

from ..schemas import (
    NO_AUTHOR_EMAIL,
    NO_AUTHOR_NAME,
    NO_COMMIT_SUMMARY,
    NO_REMOTE_URL,
    ZERO_OID,
)

_LF = "\n"
_GITHUB_SSH_RE = r"^git@github\.com:"


def sql_string(value: str) -> str:
    """``value`` as a raw Spark SQL string literal (``r'...'``).

    Raw literals reach the function verbatim — regex backslashes and
    control characters included — whatever
    ``spark.sql.parser.escapedStringLiterals`` says. A raw literal
    cannot hold a quote or end in a backslash, so those are refused."""
    if "'" in value or value.endswith("\\"):
        raise ValueError(f"not expressible as a raw SQL literal: {value!r}")
    return f"r'{value}'"


def _sentinel_if_blank(expr: str, sentinel: str) -> str:
    """NULL or empty string -> sentinel (reference substitutes sentinels
    instead of NULL for missing author fields, repository.rs:163-166)."""
    return (
        f"CASE WHEN ({expr}) IS NULL OR trim({expr}) = '' "
        f"THEN {sql_string(sentinel)} ELSE {expr} END"
    )


def with_author_sentinels(name: str, email: str) -> tuple[str, str]:
    """``"(no author name)"`` / ``"(no author email)"`` fallbacks
    (repository.rs:163-166)."""
    return (
        _sentinel_if_blank(name, NO_AUTHOR_NAME),
        _sentinel_if_blank(email, NO_AUTHOR_EMAIL),
    )


def commit_summary(message: str) -> str:
    """Summary-only message: first line, trimmed, with the
    ``"(no commit summary)"`` fallback.

    Matches git2's ``commit.summary()`` semantics used at
    repository.rs:179: the summary is the first paragraph line of the
    message with trailing whitespace trimmed; empty -> sentinel.
    """
    first_line = f"trim(split_part({message}, {sql_string(_LF)}, 1))"
    return (
        f"CASE WHEN ({message}) IS NULL OR {first_line} = '' "
        f"THEN {sql_string(NO_COMMIT_SUMMARY)} ELSE {first_line} END"
    )


def zero_oid_parent(parent_hash: str) -> str:
    """Root commits (no parent) get the 40-zero OID sentinel
    (repository.rs:175)."""
    return (
        f"CASE WHEN ({parent_hash}) IS NULL OR trim({parent_hash}) = '' "
        f"THEN {sql_string(ZERO_OID)} ELSE trim({parent_hash}) END"
    )


def normalize_remote_url(url: str) -> str:
    """Origin remote URL normalization (repository.rs:187-193):
    missing -> ``"(no remote url)"``; literal rewrite
    ``git@github.com:`` -> ``https://github.com/``."""
    filled = (
        f"CASE WHEN ({url}) IS NULL OR trim({url}) = '' "
        f"THEN {sql_string(NO_REMOTE_URL)} ELSE trim({url}) END"
    )
    return (
        f"regexp_replace({filled}, {sql_string(_GITHUB_SSH_RE)}, "
        f"{sql_string('https://github.com/')})"
    )
