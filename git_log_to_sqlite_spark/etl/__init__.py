"""git-log ETL: Spark-native replacement of the reference pipeline.

The reference extracts commits per repository with libgit2
(repository.rs:100-198) and loads SQLite (analyzer.rs:284-351). Our
source stage is text produced by::

    git log \
      --pretty=format:'%x01%H%x02%P%x02%an%x02%ae%x02%at%x02%s' \
      --numstat -M -C

which carries the same semantics once parsed (the parse filter drops
commits with two or more parents == the parent_count<2 filter at
repository.rs:112; -M -C == find_similar renames/copies at
repository.rs:142-147; numstat sums == diff stats at
repository.rs:154-156).  Parsing is pure Spark SQL expressions —
testable against fixture text with no git binary in the loop.
"""

from .gitlog import parse_git_log, parse_raw_logs, read_gitlog_stream
from .pipeline import EtlResult, run_pipeline

__all__ = ["parse_git_log", "parse_raw_logs", "read_gitlog_stream", "run_pipeline", "EtlResult"]
