"""Answers do not depend on the runtime plan choices:
the 15 headline queries and the 11 consumers of the skew valve return
the same sorted rows under AQE off, no broadcast joins, and a fixed 1
or 7 shuffle partitions with coalescing off as under the default
session conf."""

from __future__ import annotations

from git_log_to_sqlite_spark import plans
from git_log_to_sqlite_spark.operators.caching import release_caches

from .oracle_harness import canonical_rows

# The registry queries that run an operator with ``cap_hot_keys=True``.
VALVE_CONSUMERS = (
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_minhash_groups",
    "dedup_group_assign", "dedup_simhash_pairs", "dedup_substring_spans",
    "dedup_substring_groups", "dedup_incremental_substring",
    "dedup_incremental_lsh", "mm_video_scene_pairs", "mm_audio_segment_pairs",
)

VARIANTS = {
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
    "no_broadcast": {"spark.sql.autoBroadcastJoinThreshold": "-1",
                     "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1"},
    "one_partition": {"spark.sql.shuffle.partitions": "1",
                      "spark.sql.adaptive.coalescePartitions.enabled": "false"},
    "seven_partitions": {"spark.sql.shuffle.partitions": "7",
                         "spark.sql.adaptive.coalescePartitions.enabled": "false"},
}


def _answers(spark, sf_dir: str, names) -> dict[str, list]:
    """Each query's canonical sorted rows, computed with no pinned or
    cached frame left from an earlier run."""
    out = {}
    for name in names:
        df = plans.REGISTRY[name].fn(spark, sf_dir)
        out[name] = canonical_rows(df.columns, df.collect())
        release_caches(blocking=True)
        spark.catalog.clearCache()
    return out


def _apply(spark, conf: dict[str, str | None]) -> None:
    """Set each key of ``conf``, unsetting those whose value is None."""
    for key, value in conf.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def test_answers_hold_under_conf_variants(spark, sf_dir):
    import bench

    names = sorted(set(bench.HEADLINE) | set(VALVE_CONSUMERS))
    assert len(names) == 24  # two headline queries consume the valve
    keys = {key for conf in VARIANTS.values() for key in conf}
    before = {key: spark.conf.get(key, None) for key in keys}
    want = _answers(spark, sf_dir, names)
    diffs = {}
    try:
        for variant, conf in VARIANTS.items():
            _apply(spark, {**before, **conf})
            got = _answers(spark, sf_dir, names)
            diffs[variant] = [n for n in names if got[n] != want[n]]
    finally:
        _apply(spark, before)
    assert {key: spark.conf.get(key, None) for key in keys} == before
    assert diffs == {variant: [] for variant in VARIANTS}
