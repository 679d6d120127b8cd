"""Source-side helpers beyond the built-in readers.

``schema_cache`` serves parquet schemas from a content-fingerprint
cache; ``events_probe`` reads the ``events`` table's timestamp encoding
from its footer. The git-log source is ``etl.gitlog``.
"""
