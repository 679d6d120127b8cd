"""Pipeline configuration — parity with the reference's TOML config.

The reference (``/root/reference/src/config.rs:6-13``) supports two
optional keys: ``ignored_repositories`` (list of repo names filtered
from the scan, with side-reporting, analyzer.rs:120-126) and
``author_map`` (email -> canonical author name, applied as an override
during extraction, repository.rs:167-171).

Spark mapping (SURVEY.md section 1.2): the author map becomes a SQL
map literal looked up per commit with a coalesce
(``etl.pipeline.apply_author_map``); the ignore list becomes an
``isin`` filter.
"""

from __future__ import annotations

import tomllib
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Config:
    """Mirror of the reference Config struct (config.rs:7-13)."""

    ignored_repositories: list[str] = field(default_factory=list)
    author_map: dict[str, str] = field(default_factory=dict)

    @classmethod
    def load(cls, path: str | Path | None) -> "Config":
        """TOML parse with default-when-absent (analyzer.rs:137-144)."""
        if path is None or not Path(path).exists():
            return cls()
        with open(path, "rb") as fh:
            raw = tomllib.load(fh)
        return cls(
            ignored_repositories=list(raw.get("ignored_repositories") or []),
            author_map=dict(raw.get("author_map") or {}),
        )
