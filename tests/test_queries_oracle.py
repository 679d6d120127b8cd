"""Operator-vs-oracle suite (SURVEY.md section 5.2.2): every registered
query runs on Spark AND DuckDB at sf0.01; results must match exactly
after canonicalization. This is a stricter local mirror of the
driver's CORRECTNESS gate."""

from __future__ import annotations

from pathlib import Path

import pytest

from git_log_to_sqlite_spark import plans

from .oracle_harness import compare, compare_counted, duck_connection

ORACLE_SPECS = [s for s in plans.REGISTRY.values() if s.oracle]
ROWS_ONLY_SPECS = [s for s in plans.REGISTRY.values() if not s.oracle]

# Oracles that return no rows on the sf0.01 oracle data, so their match
# shows nothing, each with the reason. A query that starts returning
# rows must leave the list.
EMPTY_AT_SF001 = {
    "join_anti": "every customer has an order (one has none only at sf0.1)",
    "setop_except": "every part is ordered, at every test scale",
    "sim_pairs_threshold": "no pair of the first 64 vectors reaches "
    "cosine 0.8, at every test scale",
    "sql_not_exists": "every customer has an order (one has none only at sf0.1)",
    "sql_scalar_subquery": "no order costs more than twice the mean "
    "(two do only at sf0.001)",
}


@pytest.fixture(scope="module")
def duck(oracle_sf_dir):
    con = duck_connection(oracle_sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=lambda s: s.name)
def test_query_matches_oracle(spec, spark, oracle_sf_dir, duck):
    df = spec.fn(spark, oracle_sf_dir)
    ok, msg, n_rows = compare_counted(df, duck, spec.oracle, name=spec.name)
    assert ok, msg
    if Path(oracle_sf_dir).name == "sf0.01":
        assert (n_rows == 0) == (spec.name in EMPTY_AT_SF001), (
            f"{spec.name}: {n_rows} oracle rows; EMPTY_AT_SF001 lists the "
            "queries, and only those, whose oracle returns none"
        )


def test_benchmark_oracle_call_returns_two_values(spark, oracle_sf_dir, duck):
    """``perfbench/run.py`` checks each headline query in its warm-up
    with ``ok, msg = compare(...)`` from ``tests.oracle_harness``, over
    a result it has already collected. The same call, on one headline
    query, must still return exactly those two values."""
    import ast
    from types import SimpleNamespace

    run_py = Path(__file__).resolve().parents[1] / "perfbench" / "run.py"
    calls = [ast.unparse(node) for node in ast.walk(ast.parse(run_py.read_text()))
             if isinstance(node, ast.Assign) and isinstance(node.value, ast.Call)
             and ast.unparse(node.value.func) == "compare"]
    assert calls == ["ok, msg = compare(result, con, plans.REGISTRY[name].oracle, name)"]
    name = "agg_pricing_summary"
    df = plans.REGISTRY[name].fn(spark, oracle_sf_dir)
    rows = df.collect()
    result = SimpleNamespace(columns=df.columns, dtypes=df.dtypes, collect=lambda: rows)
    ok, msg = compare(result, duck, plans.REGISTRY[name].oracle, name)
    assert ok, msg


@pytest.mark.parametrize("spec", ROWS_ONLY_SPECS, ids=lambda s: s.name)
def test_rows_only_queries_run(spec, spark, oracle_sf_dir):
    df = spec.fn(spark, oracle_sf_dir)
    assert df.count() >= 0 and len(df.columns) > 0


def test_approx_count_distinct_bound(spark, oracle_sf_dir):
    """approx_* correctness is a bound, never a hash (SURVEY 2.2)."""
    df = plans.REGISTRY["agg_approx_distinct"].fn(spark, oracle_sf_dir)
    for row in df.collect():
        exact, approx = row["exact_parts"], row["approx_parts"]
        assert abs(approx - exact) / exact < 0.1, row


def test_approx_percentile_bound(spark, oracle_sf_dir):
    """Sketch quantile must land within 2% relative of the exact
    median at this data scale."""
    df = plans.REGISTRY["agg_approx_percentile"].fn(spark, oracle_sf_dir)
    for row in df.collect():
        exact, approx = row["exact_median"], row["approx_median"]
        assert abs(approx - exact) / exact < 0.02, row


def test_stratified_sample_fractions_and_determinism(spark, oracle_sf_dir):
    """Sampling is property-tested: per-stratum rates near the target
    fractions, and the seed makes the row set exactly reproducible."""
    fn = plans.REGISTRY["sample_stratified"].fn
    base = plans.REGISTRY["text_langid"].fn  # any docs query gives totals
    from git_log_to_sqlite_spark.plans.registry import table as t

    totals = {
        r["lang"]: r["n"]
        for r in t(spark, oracle_sf_dir, "documents").groupBy("lang").count()
        .withColumnRenamed("count", "n").collect()
    }
    s1 = fn(spark, oracle_sf_dir)
    got = {
        r["lang"]: r["n"]
        for r in s1.groupBy("lang").count().withColumnRenamed("count", "n").collect()
    }
    want = {"en": 0.5, "es": 0.2, "de": 0.1}
    for lang, frac in want.items():
        if totals.get(lang, 0) >= 50:  # enough mass for a bound
            rate = got.get(lang, 0) / totals[lang]
            assert abs(rate - frac) < 0.15, (lang, rate, frac)
    assert set(got) <= set(want)  # unlisted strata never sampled
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    ids2 = sorted(r["doc_id"] for r in fn(spark, oracle_sf_dir).collect())
    assert ids1 == ids2, "same seed must reproduce the same sample"
