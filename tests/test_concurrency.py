"""Concurrent query execution on a shared session — the serving shape.

The round-16 probe (OPTIMIZATION_r16.md, BASELINE.md; raw numbers in
tools/concurrency_probe_r16_results.json) measured 15 headline queries
overlapping at 3.96-5.44x on one session with zero row drift. This test pins the CORRECTNESS half of that permanently at
sf0.001: several registry queries submitted from worker threads must
return exactly the rows the sequential pass returns — exercising
thread-safe plan construction, the GIL-released py4j submission path,
and the schema cache's concurrent-read behavior. A second case submits
event and pinned dedup queries on a cold schema cache: the events
schema is inferred concurrently in private sessions, and every
operator pin is still released.
"""

from __future__ import annotations

import threading

from git_log_to_sqlite_spark.operators import caching
from git_log_to_sqlite_spark.plans.registry import REGISTRY
from git_log_to_sqlite_spark.sources.schema_cache import _NANOS_CONF, clear_schema_cache

QUERIES = [
    "agg_pricing_summary",
    "join_region_revenue",
    "win_topk_per_group",
    "dedup_exact",
    "fn_explode",
    "events_window_tumbling",
]

COLD_CACHE_QUERIES = [
    "asof_event_value",
    "events_sessionize",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
]



def _rows(spark, name, sf_dir):
    df = REGISTRY[name].fn(spark, sf_dir)
    return sorted(map(tuple, df.collect()))


def _run_threads(spark, names, sf_dir):
    rows: dict[str, list] = {}
    errors: dict[str, Exception] = {}

    def work(name):
        try:
            rows[name] = _rows(spark, name, sf_dir)
        except Exception as e:  # noqa: BLE001 — surfaced via assert below
            errors[name] = e

    threads = [threading.Thread(target=work, args=(n,)) for n in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, f"concurrent execution raised: {errors}"
    return rows


def test_concurrent_results_match_sequential(spark, sf_dir):
    sequential = {name: _rows(spark, name, sf_dir) for name in QUERIES}

    concurrent = _run_threads(spark, QUERIES, sf_dir)
    for name in QUERIES:
        assert concurrent[name] == sequential[name], (
            f"{name}: concurrent rows differ from sequential"
        )


def test_cold_schema_cache_and_pins_under_concurrency(spark, sf_dir):
    """Event queries on a cold schema cache and pinned dedup queries,
    submitted together: the rows match the sequential pass, every pin
    is released (the session cache is empty afterwards), and the
    caller's conf gains no ``nanosAsLong`` entry."""
    spark.catalog.clearCache()
    sequential = {name: _rows(spark, name, sf_dir) for name in COLD_CACHE_QUERIES}
    caching.release_caches()
    clear_schema_cache()
    concurrent = _run_threads(spark, COLD_CACHE_QUERIES, sf_dir)
    for name in COLD_CACHE_QUERIES:
        assert concurrent[name] == sequential[name], (
            f"{name}: concurrent rows differ from sequential"
        )
    caching.release_caches()
    assert caching._LIVE == []
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert spark.conf.get(_NANOS_CONF, None) is None
