"""Scalar expression helpers — all JVM-side SQL expressions.

Every function here returns Spark SQL expression text for
``selectExpr``/``where``/``F.expr``, so it stays inside whole-stage
codegen and parses in one JVM call per stage; no Python UDFs in this
module.
"""

from .core import (
    commit_summary,
    normalize_remote_url,
    sql_string,
    with_author_sentinels,
    zero_oid_parent,
)

__all__ = [
    "commit_summary",
    "normalize_remote_url",
    "sql_string",
    "with_author_sentinels",
    "zero_oid_parent",
]
