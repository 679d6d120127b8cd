"""Source-side helpers beyond the built-in readers.

``schema_cache`` serves parquet schemas from a content-fingerprint
cache, and reads the ``events`` table's timestamp encoding from the
cached schema. The git-log source is ``etl.gitlog``.
"""
