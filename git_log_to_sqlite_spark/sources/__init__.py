"""Source-side helpers beyond the built-in readers.

``schema_cache`` serves parquet schemas from a content-fingerprint
cache; the ``events`` table's schema is inferred there once, in a
private session, and declared on every batch and stream read, and its
``ts`` is decoded to TIMESTAMP in one place. The git-log source is
``etl.gitlog``.
"""
