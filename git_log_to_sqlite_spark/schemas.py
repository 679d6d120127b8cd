"""Sentinels of the git star schema.

The reference extractor substitutes these strings instead of NULL
(repository.rs:163-192). They are observable output, reproduced
exactly by ``functions.core`` and checked by the golden ETL tests.
"""

from __future__ import annotations

NO_AUTHOR_NAME = "(no author name)"
NO_AUTHOR_EMAIL = "(no author email)"
NO_COMMIT_SUMMARY = "(no commit summary)"
NO_REMOTE_URL = "(no remote url)"
ZERO_OID = "0" * 40  # root-commit parent sentinel (repository.rs:175)
