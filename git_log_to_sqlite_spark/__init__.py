"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference ETL tool ``0x6b/git-log-to-sqlite``.

The reference (657 LoC of Rust) is a fixed-dataflow ETL pipeline:
scan git repositories -> extract per-commit records -> load a 3-table
star schema into SQLite.  This package re-expresses that dataflow
Spark-first (declarative DataFrame plans, Catalyst optimization,
columnar Parquet storage) and adds the full downstream analytical
operator surface (joins, window functions, grouping sets, set ops,
UDFs, streaming) plus LLM-training-data-pipeline operators
(deduplication, similarity search, text analysis, multimodal columns)
designed for 100 TB scale.

Layout:
    session     SparkSession factory with oracle-parity configs
    schemas     the reference's sentinels (author, summary, url, root parent)
    config      author_map / ignored_repositories (reference config.rs)
    etl         git-log text parser, load stage and sinks
    sources     parquet schema cache and footer probes
    functions   scalar expression helpers (sentinels, url rewrite, ...)
    operators   dedup / similarity / text-analysis / as-of / multimodal
    plans       the oracle-testable query corpus (SURVEY.md section 2.2)
    streaming   events replay + windowed streaming aggregations
"""

__version__ = "0.1.0"
