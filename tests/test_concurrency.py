"""Concurrent query execution on a shared session — the serving shape.

The round-16 probe (OPTIMIZATION_r16.md, BASELINE.md; raw numbers in
tools/concurrency_probe_r16_results.json) measured 15 headline queries
overlapping at 3.96-5.44x on one session with zero row drift. This test pins the CORRECTNESS half of that permanently at
sf0.001: several registry queries submitted from worker threads must
return exactly the rows the sequential pass returns — exercising
thread-safe plan construction, the GIL-released py4j submission path,
and the schema cache's concurrent-read behavior.
"""

from __future__ import annotations

import threading

from git_log_to_sqlite_spark.plans.registry import REGISTRY

QUERIES = [
    "agg_pricing_summary",
    "join_region_revenue",
    "win_topk_per_group",
    "dedup_exact",
    "fn_explode",
    "events_window_tumbling",
]


def _rows(spark, name, sf_dir):
    df = REGISTRY[name].fn(spark, sf_dir)
    return sorted(map(tuple, df.collect()))


def test_concurrent_results_match_sequential(spark, sf_dir):
    sequential = {name: _rows(spark, name, sf_dir) for name in QUERIES}

    concurrent: dict[str, list] = {}
    errors: dict[str, Exception] = {}

    def work(name):
        try:
            concurrent[name] = _rows(spark, name, sf_dir)
        except Exception as e:  # noqa: BLE001 — surfaced via assert below
            errors[name] = e

    threads = [threading.Thread(target=work, args=(n,)) for n in QUERIES]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, f"concurrent execution raised: {errors}"
    for name in QUERIES:
        assert concurrent[name] == sequential[name], (
            f"{name}: concurrent rows differ from sequential"
        )
