"""Physical-plan shape assertions (.explain checks): these encode the
scale-design decisions so a refactor that silently degrades the plan
(loses a pushdown, drops a broadcast, full-sorts a top-k) fails CI."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from git_log_to_sqlite_spark import plans


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def sf(oracle_sf_dir):
    return oracle_sf_dir


def test_filter_pushdown_into_scan(spark, sf):
    plan = plan_of(plans.REGISTRY["agg_pricing_summary"].fn(spark, sf))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark, sf):
    """A query touching 5 of 11 lineitem columns must not scan the rest."""
    plan = plan_of(plans.REGISTRY["agg_pricing_summary"].fn(spark, sf))
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for needed in ("l_returnflag", "l_linestatus", "l_quantity", "l_shipdate"):
        assert needed in scan_schema
    for pruned in ("l_orderkey", "l_partkey", "l_suppkey", "l_shipdate>"):
        assert pruned not in scan_schema


def test_dim_joins_broadcast(spark, sf):
    """Snowflake dim chain: every dim join must be a broadcast, never a
    shuffle of the fact table. region/nation are hinted (bounded dims);
    customer carries NO hint — the optimizer must still pick broadcast
    from its size statistics at this SF, proving the un-hinted path
    works (and leaving AQE free to shuffle when customer outgrows the
    threshold at real scale)."""
    plan = plan_of(plans.REGISTRY["join_region_revenue"].fn(spark, sf))
    # formatted explain lists each node twice (tree + details); count tree rows
    assert plan.count("BroadcastHashJoin Inner") == 3
    assert "SortMergeJoin" not in plan


def test_topk_avoids_global_sort(spark, sf):
    plan = plan_of(plans.REGISTRY["sort_topk_orders"].fn(spark, sf))
    assert "TakeOrderedAndProject" in plan


def test_partial_aggregation_before_shuffle(spark, sf):
    """Hash aggregate must run partial (map-side) + final — shuffle
    carries |groups| rows per partition, not the input."""
    plan = plan_of(plans.REGISTRY["agg_pricing_summary"].fn(spark, sf))
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_covers_scan_and_agg(spark, sf):
    # AQE's AdaptiveSparkPlan hides codegen subtrees until execution —
    # inspect the statically-planned version
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = plans.REGISTRY["agg_pricing_summary"].fn(spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    out = buf.getvalue()
    assert "WholeStageCodegen subtrees" in out
    assert "Found 0 WholeStageCodegen" not in out


def test_semi_anti_join_planned(spark, sf):
    semi = plan_of(plans.REGISTRY["join_semi"].fn(spark, sf))
    anti = plan_of(plans.REGISTRY["join_anti"].fn(spark, sf))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_asof_join_single_shuffle_no_range_join(spark, sf):
    """The as-of operator must stay a union + window — one exchange on
    the key — and never degrade to a broadcast-nested-loop range join."""
    plan = plan_of(plans.REGISTRY["asof_event_value"].fn(spark, sf))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_minhash_no_cartesian(spark, sf):
    """The band candidate stage must stay an equi-join. The only
    permitted nested-loop nodes are the broadcast of the 1-row derived
    band-size cap (a scalar attach, identified by its _max_df
    condition; the self-join renders one per alias branch) — anything
    else nested-looping here is a real regression."""
    df = plans.REGISTRY["dedup_minhash_lsh"].fn(spark, sf)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    bnlj_ids = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))
    assert len(bnlj_ids) <= 2
    if bnlj_ids:
        executed = df._jdf.queryExecution().executedPlan().toString()
        bnlj = [l for l in executed.splitlines() if "BroadcastNestedLoopJoin" in l]
        assert bnlj and all("_max_df" in l for l in bnlj)


def test_simhash_pairs_no_cartesian(spark, sf):
    """The bit-slice candidate stage must stay an equi-join; the only
    permitted nested-loop nodes are the 1-row band-cap broadcasts
    (one per self-join alias), same contract as the minhash pin."""
    df = plans.REGISTRY["dedup_simhash_pairs"].fn(spark, sf)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    bnlj_ids = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))
    assert len(bnlj_ids) <= 2
    if bnlj_ids:
        executed = df._jdf.queryExecution().executedPlan().toString()
        bnlj = [l for l in executed.splitlines() if "BroadcastNestedLoopJoin" in l]
        assert bnlj and all("_max_df" in l for l in bnlj)
    # the hot-band anti-filter compiled in, below the band join
    blocks = re.split(r"^\((\d+)\) ", plan, flags=re.M)[1:]
    nodes = {int(blocks[i]): blocks[i + 1] for i in range(0, len(blocks), 2)}
    anti = [i for i, b in nodes.items() if "Join type: LeftAnti" in b]
    band_inner = [
        i
        for i, b in nodes.items()
        # the shared _band_pairs stage is the only inner join keyed
        # on band_key (the verify joins key on the ids)
        if "Join type: Inner" in b and "band_key" in b.split("Right keys")[0]
    ]
    assert len(anti) == 2 and band_inner
    assert max(anti) < min(band_inner), (anti, band_inner)


def test_subqueries_decorrelate_to_joins(spark, sf):
    """Correlated subqueries must plan as joins — a per-row subquery
    execution shape (no join node) would be O(n) round trips."""
    exists = plan_of(plans.REGISTRY["sql_correlated_exists"].fn(spark, sf))
    assert "LeftSemi" in exists
    nexists = plan_of(plans.REGISTRY["sql_not_exists"].fn(spark, sf))
    assert "LeftAnti" in nexists
    scalar_agg = plan_of(plans.REGISTRY["sql_correlated_scalar_agg"].fn(spark, sf))
    assert "Join LeftOuter" in scalar_agg or "LeftOuter" in scalar_agg
    assert "HashAggregate" in scalar_agg


def test_partition_pruning_on_partitioned_parquet(spark, sf, tmp_path):
    """The 100 TB layout: fact tables partitioned by a coarse time/key
    column. A filter on the partition column must prune at the FILE
    level (PartitionFilters), never scan-then-filter."""
    from git_log_to_sqlite_spark.plans.registry import table

    path = str(tmp_path / "orders_by_month")
    (
        table(spark, sf, "orders")
        .withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
        .write.partitionBy("order_month")
        .mode("overwrite")
        .parquet(path)
    )
    df = spark.read.parquet(path).filter(F.col("order_month") == "1995-01")
    plan = plan_of(df)
    assert "PartitionFilters: [" in plan
    assert "order_month" in plan.split("PartitionFilters:")[1].splitlines()[0]


def test_bucketed_join_no_shuffle(spark, sf, tmp_path):
    """Co-located large-large join: two tables bucketed on the join key
    sort-merge-join with ZERO exchanges — the shuffle happened once at
    write time and is amortized over every later join."""
    from git_log_to_sqlite_spark.plans.registry import table

    # warehouse.dir is a static conf; managed test tables land in the
    # session default and are dropped (files included) in the finally.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for t, key in [("orders", "o_custkey"), ("customer", "c_custkey")]:
            (
                table(spark, sf, t)
                .write.bucketBy(8, key)
                .sortBy(key)
                .mode("overwrite")
                .saveAsTable(f"b_{t}")
            )
        j = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not re-shuffle"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_pack_shards_no_single_reducer_window(spark, sf):
    """The running token sum must be the two-phase form — a Window
    with an empty partition spec would funnel the corpus through one
    reducer. Round 16: the pid comes from the value-bucketed form
    (broadcast min/max attach over a pinned frame), not a
    localCheckpoint — construction is lazy and the plan stays whole
    for Catalyst."""
    plan = plan_of(plans.REGISTRY["text_pack_shards"].fn(spark, sf))
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l.lower()]
    assert any("__ordered_pid" in s for s in specs)
    assert "existingrdd" not in plan.lower()
    assert "inmemory" in plan.lower()


def test_tfidf_window_is_per_document(spark, sf):
    plan = plan_of(plans.REGISTRY["text_tfidf_topk"].fn(spark, sf))
    # the ranking window partitions by the document id; no global sort
    # of the scored term table
    assert "Window" in plan
    spec = [l for l in plan.splitlines() if "windowspecdefinition" in l.lower()]
    assert spec and "_id" in spec[0]


def test_funnel_single_exchange_stacked_windows(spark, sf):
    """The 3-stage funnel must reuse ONE user_id exchange across all
    three Window nodes (stacked same-spec windows), and the final
    distinct must reuse that partitioning too (its keys are a superset
    of user_id) — a join-per-stage rewrite would shuffle 4x."""
    import re

    plan = plan_of(plans.REGISTRY["events_funnel_depth"].fn(spark, sf))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"\bWindow\b", tree)) == 3
    assert len(re.findall(r"Exchange", tree)) == 1
    assert len(re.findall(r"\bSort\b", tree)) == 1


def test_jaccard_no_cartesian(spark, sf):
    """The inverted-index pair join must never degrade to a cartesian /
    nested-loop shape (the naive all-pairs formulation). The single
    permitted nested-loop node is the broadcast of the 1-row derived
    df-cap (a scalar attach, identified by its _max_df condition) —
    anything else nested-looping here is a real regression."""
    import re

    from git_log_to_sqlite_spark.operators import release_caches

    # pins left live by earlier operator tests substitute into this
    # query's executed plan by sameResult (InMemoryTableScan replaces
    # the cap branch and the BNLJ node disappears) — assert the COLD
    # plan, which is what a fresh pipeline compiles
    release_caches()
    spark.catalog.clearCache()
    df = plans.REGISTRY["dedup_ngram_jaccard"].fn(spark, sf)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    # formatted explain lists each node in the tree and again in the
    # details; count distinct node ids, not occurrences
    bnlj_ids = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))
    assert len(bnlj_ids) <= 1
    if bnlj_ids:
        executed = df._jdf.queryExecution().executedPlan().toString()
        bnlj = [l for l in executed.splitlines() if "BroadcastNestedLoopJoin" in l]
        assert bnlj and all("_max_df" in l for l in bnlj)


def test_weighted_reservoir_no_global_sort(spark, sf):
    """Per-stratum sampling must rank inside lang partitions — a global
    sort of the keyed corpus would bottleneck one reducer."""
    plan = plan_of(plans.REGISTRY["sample_weighted_reservoir"].fn(spark, sf))
    spec = [l for l in plan.splitlines() if "windowspecdefinition" in l.lower()]
    assert spec and "lang" in spec[0]


def test_weighted_reservoir_unstratified_is_top_k(spark, sf):
    """strata_col=None must plan as TakeOrderedAndProject (per-partition
    heaps, k-row merge), never an empty-partition ranking window."""
    from git_log_to_sqlite_spark.operators import weighted_reservoir

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = plan_of(weighted_reservoir(docs, "doc_id", "n_chars", k=10))
    assert "TakeOrderedAndProject" in plan
    assert "windowspecdefinition" not in plan.lower()


def test_chunking_is_shuffle_free(spark, sf):
    """Chunking must stay map-side: sequence -> transform-slice ->
    posexplode inside codegen, zero exchanges in the plan."""
    plan = plan_of(plans.REGISTRY["text_chunk_overlap"].fn(spark, sf))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree
    assert "Generate" in tree  # the posexplode fan-out node


def test_domain_mix_broadcast_rates_and_pruned_scan(spark, sf):
    """The rates dimension must broadcast (never shuffle the corpus for
    a 3-row config table) and the scan must read only the two columns
    the query touches."""
    plan = plan_of(plans.REGISTRY["sample_domain_mix"].fn(spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in scan_schema and "source" in scan_schema
    assert "text" not in scan_schema  # the wide column stays unread


def test_curate_pipeline_two_phase_prefix_sum(spark, sf):
    """The curation pipeline's shard packing must be the two-phase form:
    pid-partitioned local window over the value-bucketed pinned frame
    (round 16 — no checkpoint, construction lazy), never an
    empty-partition data-sized window."""
    plan = plan_of(plans.REGISTRY["pipeline_curate_corpus"].fn(spark, sf))
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l.lower()]
    assert any("__ordered_pid" in s for s in specs)
    assert "existingrdd" not in plan.lower()
    assert "inmemory" in plan.lower()


def test_substring_islands_ride_the_window_exchange(spark, sf):
    """dedup_substring_spans' island aggregate must ride the
    (id_a, id_b, diag) window exchange — grouping on a SUPERSET of the
    window's partition keys needs no re-shuffle — and there must be no
    exchange between the window and that aggregate. Also pins: no
    cartesian product anywhere, and exactly one exchange keyed on the
    pair-diag triple (the islands window) plus one on the bare pair
    (the final aggregate)."""
    import re

    df = plans.REGISTRY["dedup_substring_spans"].fn(spark, sf)
    # the simple-mode physical string inlines hashpartitioning keys
    # (formatted mode hides them in the arguments section)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # normalize expr ids for counting
    norm = re.sub(r"#\d+L?", "", plan)
    tri = len(re.findall(r"Exchange hashpartitioning\(id_a, id_b, diag, ", norm))
    pair = len(re.findall(r"Exchange hashpartitioning\(id_a, id_b, ", norm))
    # `pair` matches the triple's prefix too, so pair-only = pair - tri
    assert tri == 1, f"expected exactly one pair-diag exchange, got {tri}"
    assert pair - tri == 1, (
        f"expected exactly one bare-pair exchange, got {pair - tri}"
    )


def test_gate_prefix_is_hash_checkable_by_construction():
    """Rotation invariants the external 50-query gate depends on:
    every name in the enumeration prefix has a DuckDB oracle (the gate
    hashes values — an oracle-less row renders as an error), and the
    deliberately oracle-less queries sit strictly past the cutoff."""
    names = list(plans.REGISTRY)
    oracles = plans.oracle_map()
    prefix = names[:50]
    assert all(n in oracles for n in prefix), [n for n in prefix if n not in oracles]
    no_oracle = [n for n in names if n not in oracles]
    assert all(names.index(n) >= 50 for n in no_oracle), no_oracle
    # duplicate-free and spark/oracle key consistency
    assert len(names) == len(set(names))
    assert set(oracles) <= set(names)


def test_sessionize_equal_ts_tiebreak(spark, tmp_path):
    """Pinned tie case for events_sessionize: two events with equal
    (user_id, ts) where the first (by event_id) is a session break.
    The lag-gap flag and the running sum must walk the same
    (ts, event_id) total order in BOTH engines, or the break flag could
    be summed before/after its tied neighbor and split sessions
    differently (the latent nondeterminism flagged in round 5)."""
    import datetime as dt

    from .oracle_harness import compare, duck_connection

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    rows = [
        # user 1: break at 10:40 arrives as a TIE (ids 2 and 3)
        (1, t(0), 1, "view", 1.0, "{}"),
        (2, t(40), 1, "click", 2.0, "{}"),
        (3, t(40), 1, "click", 4.0, "{}"),
        # user 2: tie at the very first events of the partition
        (4, t(0), 2, "view", 8.0, "{}"),
        (5, t(0), 2, "view", 16.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf_dir = str(tmp_path / "tie_sf")
    df.coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    spec = plans.REGISTRY["events_sessionize"]
    out = spec.fn(spark, sf_dir)
    got = {
        (r.user_id, r.session_id): (r.n_events, r.session_value)
        for r in out.collect()
    }
    assert got == {
        (1, 1): (1, 1.0),  # the 10:00 view alone
        (1, 2): (2, 6.0),  # both tied 10:40 clicks in ONE session
        (2, 1): (2, 24.0),  # first-row tie never splits
    }

    # and the DuckDB oracle agrees on the tie, value-for-value
    con = duck_connection("/root/testdata/sf0.001")
    con.execute("DROP VIEW events")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    ok, msg = compare(out, con, spec.oracle, "events_sessionize_tie")
    assert ok, msg


def test_cohort_retention_single_data_exchange(spark, sf):
    """The round-6 reshape: first_ts via min().over(partitionBy user_id)
    instead of groupBy+join-back. The plan must contain exactly two
    exchanges — the window's hash(user_id) and the bounded cohort
    rollup over partial counts — and no join; the distinct must reuse
    the window's partitioning (hash on a subset of the grouping keys
    satisfies ClusteredDistribution)."""
    plan = plan_of(plans.REGISTRY["events_cohort_retention"].fn(spark, sf))
    node_lines = [l for l in plan.splitlines() if l.startswith("(")]
    exchanges = [l for l in node_lines if "Exchange" in l]
    assert len(exchanges) == 2, exchanges
    assert not any("Join" in l for l in node_lines), node_lines
    assert sum("Window" in l for l in node_lines) == 1


def test_jaccard_single_corpus_pass_per_branch(spark, sf):
    """Round-7 regression pins for the cap-before-collect shape: the
    per-shingle count table must be persisted and serve BOTH the
    quantile-cap histogram and the hot-set filter (2 InMemoryTableScans)
    and the per-doc sizes projection must be persisted for both pair-
    join sides (2 more) — without the caches each consumer re-scans +
    re-explodes the corpus (0 ReusedExchange even under AQE). Budget:
    3 parquet scans (counts build + postings build + sizes — the
    bounded-aggregate design pays exactly one extra map pass over the
    round-6 shape and in exchange no collect_list buffer can exceed the
    cap), 3 Generates (shingle explode x2 + pair explode). Cold-cache
    plan: entries left by earlier tests change how InMemoryRelation
    substitution renders, so clear first."""
    spark.catalog.clearCache()
    plan = plan_of(plans.REGISTRY["dedup_ngram_jaccard"].fn(spark, sf))
    node_lines = [l for l in plan.splitlines() if l.startswith("(")]
    assert sum("InMemoryTableScan" in l for l in node_lines) >= 4, node_lines
    assert sum("Scan parquet" in l for l in node_lines) <= 3
    assert sum(l.split(None, 1)[1].strip() == "Generate" for l in node_lines) == 3
    # the hot-shingle anti-join must sit BELOW the posting collect_list
    # (that ordering is the whole point: no aggregation buffer ever
    # holds an above-cap posting array)
    assert "LeftAnti" in plan


def test_minhash_band_cap_filters_before_band_join(spark, sf):
    """Round-8 pin for the hot-band valve: the above-cap bucket set
    must anti-filter the bands table BEFORE the band self-join — that
    ordering is the whole point (the join never sees a degenerate key,
    so candidate mass stays bounded by cap x buckets). The bucket
    count table is persisted and serves both the quantile histogram
    and the hot-bucket filter; with the signature cache that is >= 2
    InMemoryTableScans. Both self-join sides consume the SAME
    anti-filtered bands subtree — 2 LeftAnti nodes in the rendered
    plan (one per alias), each sitting below the band equi-join."""
    import re

    spark.catalog.clearCache()
    plan = plan_of(plans.REGISTRY["dedup_minhash_lsh"].fn(spark, sf))
    node_lines = [l for l in plan.splitlines() if l.startswith("(")]
    assert sum("InMemoryTableScan" in l for l in node_lines) >= 2, node_lines
    # formatted-explain detail blocks: "(id) NodeName" followed by the
    # node's attributes (join type, keys)
    blocks = re.split(r"^\((\d+)\) ", plan, flags=re.M)[1:]
    nodes = {int(blocks[i]): blocks[i + 1] for i in range(0, len(blocks), 2)}
    anti = [i for i, b in nodes.items() if "Join type: LeftAnti" in b]
    band_inner = [
        i
        for i, b in nodes.items()
        # the shared _band_pairs stage is the only inner join keyed
        # on band_key (the verify joins key on the ids)
        if "Join type: Inner" in b and "band_key" in b.split("Right keys")[0]
    ]
    assert len(anti) == 2, sorted(nodes)  # one per self-join alias
    assert band_inner, sorted(nodes)
    # operator ids are assigned children-first, so "anti-filter BELOW
    # the band join" = every LeftAnti id precedes the band join's id
    assert max(anti) < min(band_inner), (anti, band_inner)


def test_semantic_dedup_single_ranked_pass(spark, sf):
    """Round-11's ranked-frame pin, now plan-asserted (it was measured
    ~2x wall clock at the time): the scan -> assignment -> cosine ->
    rank tree feeds THREE structurally different consumers (both pair-
    join sides and the annotation spine) whose pruned ReadSchemas
    differ, so ReuseExchange never fires — the pin must serve all
    three (3 InMemoryTableScans), the corpus parquet is scanned at
    most once (inside the cache build), the rank Window executes
    exactly once, and the pair stage is an EQUI join on the cell id
    (rank inequality as residual) — never a cartesian or nested-loop
    (the |cell|^2-bounded-by-k contract). Cold-cache plan, per the
    round-10 order-dependence lesson."""
    spark.catalog.clearCache()
    plan = plan_of(plans.REGISTRY["sem_dedup_assign"].fn(spark, sf))
    node_lines = [l for l in plan.splitlines() if l.startswith("(")]
    assert sum("InMemoryTableScan" in l for l in node_lines) >= 3, node_lines
    assert sum("Scan parquet" in l for l in node_lines) <= 1, node_lines
    assert sum(" Window" in l for l in node_lines) == 1, node_lines
    assert "CartesianProduct" not in plan
    # at most ONE nested-loop join: the 1-row centroid-array attach of
    # the table-form assignment (round 15's quantizer default — the
    # adjudicated broadcast-scalar class), never a pair-stage NL join
    assert sum("BroadcastNestedLoopJoin" in l for l in node_lines) <= 1, node_lines
    # the cell-equi pair join must key on the cell id
    joins = [l for l in node_lines
             if "SortMergeJoin" in l or "ShuffledHashJoin" in l]
    assert joins, node_lines


def test_dsir_single_explode_per_corpus(spark, sf):
    """Round-12 pin for DSIR's declared scale shape: the raw corpus's
    feature bag feeds BOTH the count branch and the per-doc weight sum
    (differing pruned schemas — no ReuseExchange), so without its pin
    the corpus was scanned + exploded + aggregated twice (5 Generate
    nodes; caught by reading this plan). Pinned: exactly one Generate
    per corpus (raw + target), the log-ratio table joins the feature
    bag by BROADCAST (the corpus never shuffles on a feature key),
    the selection compiles to TakeOrderedAndProject (never a global
    sort), and the only nested-loop joins are the two 1-row
    total-mass normalizer crossJoins (the broadcast-scalar plan)."""
    spark.catalog.clearCache()
    plan = plan_of(plans.REGISTRY["sample_dsir"].fn(spark, sf))
    node_lines = [l for l in plan.splitlines() if l.startswith("(")]
    assert sum("Generate" in l for l in node_lines) == 2, node_lines
    assert "TakeOrderedAndProject" in plan
    assert sum("BroadcastHashJoin" in l for l in node_lines) >= 1, node_lines
    assert sum("BroadcastNestedLoopJoin" in l for l in node_lines) <= 2
    assert "CartesianProduct" not in plan


def test_tfidf_single_corpus_pass(spark, sf):
    """tf feeds both docfreq and the join probe side; it must come from
    the cache (InMemoryTableScan), leaving exactly two parquet scans:
    the term explode and the footer-only n_docs count. Cold-cache plan
    (see the jaccard pin above)."""
    spark.catalog.clearCache()
    plan = plan_of(plans.REGISTRY["text_tfidf_topk"].fn(spark, sf))
    node_lines = [l for l in plan.splitlines() if l.startswith("(")]
    assert sum("InMemoryTableScan" in l for l in node_lines) >= 2, node_lines
    assert sum("Scan parquet" in l for l in node_lines) <= 2


def test_repetition_stats_is_shuffle_free(spark, sf):
    """The repetition battery is a pure codegen projection: at 100 TB
    it must run at scan speed as a map-only stage — zero exchanges."""
    plan = plan_of(plans.REGISTRY["text_repetition"].fn(spark, sf))
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree
    assert "ReadSchema" in plan


def test_decontaminate_broadcasts_benchmark_semi_join(spark, sf):
    """The benchmark gram set (small by nature) must broadcast and the
    train gram stream must filter against it map-side: a LEFT SEMI
    BroadcastHashJoin, never a SortMergeJoin of two exploded gram
    streams — the join whose shuffle would carry the whole corpus."""
    plan = plan_of(plans.REGISTRY["dedup_decontaminate"].fn(spark, sf))
    assert "BroadcastHashJoin LeftSemi" in plan
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin LeftSemi" not in tree


def test_token_budget_single_domain_exchange(spark, sf):
    """Budget fill is ONE data-sized shuffle (hash on the domain key)
    feeding the per-domain running-sum window; no join, no global
    sort, no second pass over the corpus."""
    import re

    plan = plan_of(plans.REGISTRY["sample_token_budget"].fn(spark, sf))
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"Exchange", tree)) == 1
    assert "hashpartitioning(source" in plan
    assert len(re.findall(r"\bWindow\b", tree)) == 1


def test_incremental_lsh_no_cartesian_and_cached_signatures(spark, sf):
    """The increment x history candidate stage must be an equi-join on
    (band, band_key) — never a nested-loop/cartesian — and both
    signature tables must come from cache (history signatures stand in
    for the persisted signature table a production ingest maintains,
    so the history text is scanned once, not once per reference). The
    only permitted nested-loop node is the broadcast of the 1-row
    derived history-side band cap (identified by its _max_df
    condition)."""
    df = plans.REGISTRY["dedup_incremental_lsh"].fn(spark, sf)
    plan = plan_of(df)
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    bnlj_ids = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))
    assert len(bnlj_ids) <= 1
    if bnlj_ids:
        executed = df._jdf.queryExecution().executedPlan().toString()
        bnlj = [l for l in executed.splitlines() if "BroadcastNestedLoopJoin" in l]
        assert bnlj and all("_max_df" in l for l in bnlj)
    node_lines = [l for l in plan.splitlines() if l.startswith("(")]
    assert sum("InMemoryTableScan" in l for l in node_lines) >= 2


def test_pretrain_pipeline_plan_shape(spark, sf):
    """Flagship-composite scale pins on the FINAL plan: shard packing
    is the two-phase prefix sum (pid-partitioned local window over the
    round-16 value-bucketed pinned frame — unlike the retired
    localCheckpoint form, the WHOLE pipeline is visible to this
    explain and to Catalyst; stage shapes are additionally pinned by
    test_decontaminate_broadcasts_benchmark_semi_join and
    test_token_budget_single_domain_exchange on the standalone
    queries, which the pipeline builds from the same library code)."""
    plan = plan_of(plans.REGISTRY["pipeline_pretrain_corpus"].fn(spark, sf))
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l.lower()]
    assert any("__ordered_pid" in s for s in specs)
    assert "existingrdd" not in plan.lower()
    assert "inmemory" in plan.lower()
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree


def test_pretrain_decon_branch_matches_quality_based_form(spark, sf):
    """Round 17: the decontamination gram branch reads the RAW corpus
    under the n_chars band instead of the quality frame (one
    interpreted repetition-gate fold per run instead of two). The
    result must equal the round-16 quality-based formulation exactly —
    the subset argument (quality ⊆ n_chars-banded corpus, left_anti
    subtracts only from quality) made executable."""
    from git_log_to_sqlite_spark.operators.dedup import (
        _spread,
        exploded_shingles,
    )
    from git_log_to_sqlite_spark.operators.ordered import ordered_running_sum
    from git_log_to_sqlite_spark.operators.sampling import token_budget_sample
    from git_log_to_sqlite_spark.operators.text import repetition_gate
    from git_log_to_sqlite_spark.plans.llm_ops import pretrain_corpus
    from git_log_to_sqlite_spark.plans.registry import table

    d = table(spark, sf, "documents")
    benchmark = d.filter(F.col("doc_id") % 29 == 0)
    corpus = d.filter(F.col("doc_id") % 29 != 0)
    got = {tuple(r) for r in pretrain_corpus(corpus, benchmark).collect()}

    # inline replica of the ROUND-16 formulation: hit ids from quality
    spread = _spread(corpus)
    quality = spread.filter(
        repetition_gate(F.col("text")) & F.col("n_chars").between(50, 20000)
    ).select("doc_id", "source", "n_chars", "text")
    gram = exploded_shingles("text", 4)
    ev = benchmark.select(gram.alias("gram")).distinct()
    hit_ids = (
        quality.select("doc_id", gram.alias("gram"))
        .join(F.broadcast(ev), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = quality.join(hit_ids, "doc_id", "left_anti")
    surv = (
        clean.groupBy(F.md5("text").alias("_fp"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.expr("min_by(source, doc_id)").alias("source"),
            F.min("n_chars").alias("n_chars"),
        )
        .drop("_fp")
    )
    kept = token_budget_sample(
        surv, "doc_id", "n_chars", 4000, domain_col="source"
    ).select("doc_id", "source", "n_chars")
    packed = ordered_running_sum(kept, ["doc_id"], "n_chars", out_col="cum")
    ref = {
        tuple(r)
        for r in packed.select(
            "doc_id", "source", "n_chars",
            F.floor((F.col("cum") - 1) / 2000).cast("int").alias("shard_id"),
        ).collect()
    }
    assert got == ref and got


def test_pretrain_corpus_token_col_knob(spark, sf):
    """The opt-in ``token_col`` path (round 16): budgeting/packing on a
    precomputed subword-token column must equal the default char path
    run on a corpus whose ``n_chars`` carries those token values —
    same admission set, same shard boundaries — whenever the quality
    gate is unaffected by the swap (all rows inside the [50, 20000]
    n_chars window on BOTH bases, arranged here by scaling the stub
    counts into range).  At the default the knob must change nothing:
    output schema is the pre-knob one (the gate row's shape)."""
    from git_log_to_sqlite_spark.operators import subword_token_counts
    from git_log_to_sqlite_spark.plans.llm_ops import pretrain_corpus
    from git_log_to_sqlite_spark.plans.registry import table

    # only rows already inside the n_chars quality window, so the
    # char-basis swap below cannot flip any gate decision
    docs = (
        table(spark, sf, "documents")
        .filter(F.col("n_chars").between(50, 20000))
        .limit(400)
    )
    benchmark = docs.filter(F.col("doc_id") % 37 == 0).select("text")
    # stub counts scaled to land inside the quality gate's n_chars
    # window, so the char-path reference sees the identical gate
    toks = subword_token_counts(docs, "doc_id", "text").withColumn(
        "subword_tokens", F.col("subword_tokens") + 50
    )
    corpus = docs.join(toks, "doc_id")

    got = pretrain_corpus(
        corpus, benchmark, char_budget_per_source=900, shard_chars=500,
        token_col="subword_tokens",
    )
    assert got.columns == [
        "doc_id", "source", "n_chars", "subword_tokens", "shard_id"
    ]
    ref = pretrain_corpus(
        corpus.drop("n_chars").withColumnRenamed("subword_tokens", "n_chars"),
        benchmark, char_budget_per_source=900, shard_chars=500,
    )
    got_rows = {(r["doc_id"], r["source"], r["subword_tokens"], r["shard_id"])
                for r in got.collect()}
    ref_rows = {(r["doc_id"], r["source"], r["n_chars"], r["shard_id"])
                for r in ref.collect()}
    assert got_rows == ref_rows and got_rows

    # default path: schema unchanged (the gate row's shape)
    base = pretrain_corpus(corpus.drop("subword_tokens"), benchmark)
    assert base.columns == ["doc_id", "source", "n_chars", "shard_id"]
    with pytest.raises(ValueError, match="token_col"):
        pretrain_corpus(docs, benchmark, token_col="not_a_column")
    # a base-schema column as token_col would silently duplicate and
    # die later as an ambiguous reference — must fail fast instead
    with pytest.raises(ValueError, match="collides"):
        pretrain_corpus(docs, benchmark, token_col="n_chars")


def test_weighted_reservoir_map_side_topk_prune(spark, sf):
    """The per-stratum reservoir ranking must carry WindowGroupLimit in
    BOTH positions (map-side partial + final): each map task keeps only
    its local top-k per stratum before the shuffle, so the reducer
    merges P x k candidate rows per stratum instead of the stratum's
    full row set — the property that makes the single window form
    scale-safe without a hand-rolled two-phase top-k."""
    plan = plan_of(plans.REGISTRY["sample_weighted_reservoir"].fn(spark, sf))
    node_lines = [l for l in plan.splitlines() if l.startswith("(")]
    assert sum("WindowGroupLimit" in l for l in node_lines) >= 2, node_lines


def test_video_fingerprint_vote_combines_map_side(spark, sf):
    """The clip majority vote must be a JVM-side hash-aggregate pair
    with MAP-SIDE partial bit sums below the media_id exchange (a
    clip's frames combine within their partition before shuffling —
    one row per clip per partition crosses the wire, the property
    that makes a million-frame clip affordable), never a per-clip
    Python aggregation; the only Python stage is the single
    MapInPandas frame decode."""
    from git_log_to_sqlite_spark.operators import multimodal as mm
    from git_log_to_sqlite_spark.plans.registry import table

    media = mm.as_media(
        table(spark, sf, "documents"), "doc_id", "text", mime="video/raw"
    )
    df = mm.video_fingerprint(media, frame_bytes=64, grid_fn=mm._luma_grid_stub)
    plan = plan_of(df)
    node_lines = [l for l in plan.splitlines() if l.strip().startswith("(")]
    assert sum("MapInPandas" in l for l in node_lines) == 1, node_lines
    assert not any("BatchEvalPython" in l or "ArrowEvalPython" in l
                   for l in node_lines), node_lines
    assert sum("Exchange" in l for l in node_lines) == 1, node_lines
    assert sum("HashAggregate" in l for l in node_lines) == 2, node_lines
    # the partial (map-side) aggregate carries the per-bit sums
    assert "partial_sum" in plan and "shiftright" in plan


def test_incremental_substring_default_plan_broadcasts_small_increment(spark, sf):
    """A daily-sized increment's window table must BROADCAST in the
    default (uncapped) incremental plan: the BroadcastHashJoin
    parallelizes a hot window's d_hist x d_inc product over the history
    side's input splits, where a shuffled join would run it in one
    sort-merge task (measured 1.3-2.7 s vs 36-53 s on the join stage
    at 487M one-key products). A change that silently defeats this
    broadcast — a stray repartition, a projection that breaks size
    estimation — costs 10-50x at scale, so the strategy is pinned
    here."""
    from pyspark.sql import functions as F

    from git_log_to_sqlite_spark.operators import incremental_substring_spans

    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    history = docs.filter(F.col("doc_id") % 7 != 0)
    inc = docs.filter(F.col("doc_id") % 7 == 0).limit(20)
    plan = plan_of(incremental_substring_spans(history, inc, "doc_id", "text"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
