"""Scale smoke (SURVEY.md section 5.2.5): replicate the fact table 16x
and check (a) the heavy plans complete, (b) exact aggregates scale
EXACTLY multiplicatively — decimal sums make 16 copies sum to exactly
16x the base, so any nondeterminism or partial-agg drift at higher
row counts shows up as a value mismatch, not a flake."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from git_log_to_sqlite_spark.plans.registry import table

REPLICAS = 16


@pytest.fixture(scope="module")
def big_lineitem(spark, oracle_sf_dir):
    li = table(spark, oracle_sf_dir, "lineitem")
    copies = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * 10_000_000))
        for i in range(REPLICAS)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def test_aggregate_scales_exactly(spark, oracle_sf_dir, big_lineitem):
    base = (
        table(spark, oracle_sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q"),
        )
    )
    big = big_lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q"),
    )
    b = {r["l_returnflag"]: (r["n"], r["q"]) for r in base.collect()}
    g = {r["l_returnflag"]: (r["n"], r["q"]) for r in big.collect()}
    assert set(b) == set(g)
    for k, (n, q) in b.items():
        assert g[k] == (n * REPLICAS, q * REPLICAS), k


def test_window_topk_stable_under_replication(spark, big_lineitem):
    """Top-k per group on the replicated table completes and every
    group returns exactly k rows (the window plan holds at 16x rows)."""
    from pyspark.sql import Window

    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    top = (
        big_lineitem.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("k"))
    )
    assert all(r["k"] == 10 for r in top.collect())


def test_join_agg_pipeline_at_replicated_scale(spark, oracle_sf_dir, big_lineitem):
    """The pre-aggregate-then-join shape at 16x: per-order rollup of
    ~1M lineitem rows joined back to orders, row count must equal the
    base query's count (replica orderkeys never match real orders
    except replica 0)."""
    o = table(spark, oracle_sf_dir, "orders")
    per_order = big_lineitem.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines")
    )
    joined = o.join(per_order, o["o_orderkey"] == per_order["l_orderkey"])
    base_orders = (
        table(spark, oracle_sf_dir, "lineitem").select("l_orderkey").distinct().count()
    )
    assert joined.count() == base_orders


def test_jaccard_quantile_cap_at_bench_sf(spark):
    """The quantile-derived max_df path at sf0.1 (the bench SF, 10x the
    oracle corpus): the in-plan p92 cap must still produce exactly the
    uncapped >=0.2 pair set while reporting dropped-shingle telemetry —
    the lossless-valve property dedup_ngram_jaccard's docstring claims,
    asserted at the scale the bench measures."""
    import os

    from pyspark.sql import Observation

    from git_log_to_sqlite_spark.operators import ngram_jaccard_pairs

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.2).collect()
    }
    obs = Observation("sf01_cap")
    capped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.2,
            cap_hot_keys=True, observation=obs,
        ).collect()
    }
    assert capped == uncapped and len(uncapped) > 0
    assert obs.get["shingles_dropped"] > 0  # the valve actually engaged


def test_substring_spread_guard_lossless_at_bench_sf(spark):
    """The 10 x p92 window-occurrence spread guard at sf0.1: the gate
    query's cap must reproduce the UNCAPPED pair set (runs and cell
    counts included) on the real corpus — headroom keeps passage
    families (a direct p92 cap measurably sheds 27/246 pairs here)
    while still bounding degenerate windows. The lossless-at-natural-
    scale property substring_span_pairs' docstring claims, asserted at
    the bench SF."""
    import os

    from git_log_to_sqlite_spark.operators import substring_span_pairs
    from git_log_to_sqlite_spark.operators.caching import release_caches

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kw = dict(window=6, min_run_tokens=12)
    uncapped = {
        (r["id_a"], r["id_b"]): (r["longest_run_tokens"], r["n_shared_windows"])
        for r in substring_span_pairs(docs, "doc_id", "text", **kw).collect()
    }
    release_caches()
    capped = {
        (r["id_a"], r["id_b"]): (r["longest_run_tokens"], r["n_shared_windows"])
        for r in substring_span_pairs(
            docs, "doc_id", "text", cap_hot_keys=True, **kw
        ).collect()
    }
    release_caches()
    assert capped == uncapped and len(uncapped) > 0


def test_connected_components_converges_on_wide_graph(spark):
    """5k-node graph mixing 100-node chains (depth stress) with random
    cross links — star contraction must converge inside the round
    budget and label every chain by its minimum node."""
    import random

    from git_log_to_sqlite_spark.operators import connected_components

    rng = random.Random(7)
    edges = []
    for chain in range(50):  # 50 chains x 100 nodes
        base = chain * 100
        edges += [(base + i, base + i + 1) for i in range(99)]
    # extra intra-chain shortcuts (do not merge chains)
    for chain in range(50):
        base = chain * 100
        edges += [
            (base + rng.randrange(100), base + rng.randrange(100))
            for _ in range(20)
        ]
    df = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "src long, dst long"
    )
    comp = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    assert len(comp) == 5000
    assert all(comp[n] == (n // 100) * 100 for n in comp)


def test_multiprobe_recall_at_bench_sf(spark):
    """Multiprobe recall on the REAL embeddings table at the bench SF
    (10x the oracle corpus, near-random vectors — the hard case for
    LSH). The superset guarantee (multi-probe searches every single-
    probe cell plus Hamming-1 neighbors) must hold on any data, and the
    measured recall must clear a floor consistent with the probed
    corpus fraction ((1+P)/2^P = 0.5 at P=3; measured 0.68/0.23
    multi/single on this table)."""
    import os

    from git_log_to_sqlite_spark.operators import (
        brute_force_topk,
        bucketed_ann_topk,
        lsh_bucket,
        multiprobe_ann_topk,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eb = e.withColumn("lsh", lsh_bucket(F.col("embedding"), dims=64, num_planes=3))
    q = eb.filter(F.col("vec_id") < 40)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q, e, "vec_id", "embedding", k=10).collect()
    }
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in bucketed_ann_topk(q, eb, "vec_id", "embedding", "lsh", k=10).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in multiprobe_ann_topk(
            q, e, "vec_id", "embedding", dims=64, num_planes=3, k=10
        ).collect()
    }
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    assert r_multi >= r_single, (r_multi, r_single)
    assert r_multi > 0.45, f"multiprobe recall collapsed: {r_multi:.2f}"

    # K-MEANS-QUANTIZER IVF: fitted Voronoi cells + nearest-m probes
    # must buy at least the sign-LSH multiprobe recall at a comparable
    # scanned fraction (8 cells x 4 probes ~ the (1+3)/2^3 = 0.5
    # multiprobe fraction) — data-adaptive cells are the upgrade from
    # random hyperplanes that makes this the production IVF shape.
    from git_log_to_sqlite_spark.operators import ivf_ann_topk, kmeans

    _, centroids = kmeans(e, "vec_id", "embedding", k=8, max_iter=5)
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_ann_topk(
            q, e, "vec_id", "embedding", centroids, n_probe=4, k=10
        ).collect()
    }
    r_ivf = len(exact & ivf) / len(exact)
    assert r_ivf >= r_multi, (r_ivf, r_multi)


def test_cc_convergence_bound_on_embedding_graph(spark):
    """The log-round convergence bound, extended from synthetic chains
    to the EMBEDDING-similarity graph shape at the bench SF: the full
    sf0.1 cosine>=0.3 pair graph (DuckDB generates the 15k-edge list so
    the test measures components, not pair-gen), checked against an
    exact union-find and the ceil(log2 n)+3 round budget from
    test_graph.py."""
    import math
    import os

    import duckdb

    from git_log_to_sqlite_spark.operators import connected_components

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    edges = duckdb.sql(
        f"""
        SELECT a.vec_id ia, b.vec_id ib
        FROM read_parquet('{sf_dir}/embeddings.parquet') a
        JOIN read_parquet('{sf_dir}/embeddings.parquet') b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.3
        """
    ).fetchall()
    assert len(edges) > 1000  # the graph is non-trivial at this SF

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "src long, dst long")
    stats: dict = {}
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, stats=stats).collect()
    }
    assert got == want
    bound = math.ceil(math.log2(len(want))) + 3
    assert stats["rounds"] <= bound, (stats["rounds"], bound)


def test_jaccard_cap_bounds_stop_shingle_blowup(spark):
    """The OOM-unit scenario cap-before-collect exists for: every doc in
    a 2,000-doc corpus shares one stop-shingle, so the uncapped plan
    would build ONE posting array of all 2,000 ids and explode it into
    ~2M pairs. With the quantile cap, the hot shingle must be
    anti-filtered BEFORE the posting aggregate: the telemetry reports
    the avoided quadratic pair mass, the surviving pair set is exactly
    the rare-shingle (true near-dup) pairs, and the observed runtime
    tracks the bounded candidate mass, not n^2."""
    from pyspark.sql import Observation

    from git_log_to_sqlite_spark.operators import ngram_jaccard_pairs, release_caches

    n = 2000
    # every doc: the same hot trigram + a unique tail; consecutive even/
    # odd docs share their tail trigrams (the planted near-dup pairs)
    rows = [
        (i, f"stop stop stop u{i // 2}a u{i // 2}b u{i // 2}c u{i // 2}d")
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    obs = Observation("stop_shingle")
    got = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.2,
            cap_hot_keys=True, observation=obs,
        ).collect()
    }
    release_caches()
    # the planted pairs survive (carried by their rare tail shingles)
    assert got == {(2 * p, 2 * p + 1) for p in range(n // 2)}
    # the stop shingle was dropped before aggregation, avoiding the
    # quadratic mass: 1 shingle x n(n-1)/2 pairs
    assert obs.get["shingles_dropped"] == 1
    assert obs.get["pairs_avoided"] == n * (n - 1) // 2


def test_minhash_band_cap_bounds_degenerate_key(spark):
    """The LSH analog of the stop-shingle scenario: 2,000 near-empty
    documents with IDENTICAL text all minhash to the same signature,
    so every band holds one bucket of d=2,000 — the band self-join
    would emit 4 x ~2M candidate pairs. The spread-guard cap (10 x
    p92 of the bucket histogram, which the 200 planted d=2 buckets
    anchor at 2 -> cap 20) must anti-filter those buckets BEFORE the
    join: telemetry reports the avoided quadratic mass, the planted
    rare pairs all survive, and no degenerate doc emits a pair (the
    documented trade — pathological boilerplate belongs to exact
    dedup, which groups identical text in one shuffle)."""
    from pyspark.sql import Observation

    from git_log_to_sqlite_spark.operators import minhash_lsh_pairs, release_caches

    n = 2000
    rows = [(i, "boiler plate stub") for i in range(n)]
    rows += [
        (100_000 + 2 * p + s, f"p{p}a p{p}b p{p}c p{p}d")
        for p in range(100)
        for s in (0, 1)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    obs = Observation("degenerate_band")
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", cap_hot_keys=True, observation=obs
        ).collect()
    }
    release_caches()
    assert got == {(100_000 + 2 * p, 100_001 + 2 * p) for p in range(100)}
    # 4 bands x one degenerate bucket each, n(n-1)/2 pairs avoided per
    # bucket (the planted d=2 buckets sit far below the cap)
    assert obs.get["bands_dropped"] == 4
    assert obs.get["pairs_avoided"] == 4 * n * (n - 1) // 2


def test_substring_cap_bounds_degenerate_window(spark):
    """The substring analog of the stop-shingle scenario: 2,000
    documents all containing one IDENTICAL 4-token boilerplate window
    would emit ~2M match cells for that window alone. The 10 x p92
    occurrence spread guard (anchored at 2 by 100 planted twin pairs
    -> cap 20) must anti-filter the degenerate window BEFORE the
    posting collect + pair explode: telemetry reports the avoided
    quadratic mass, the planted twin runs all survive with their
    exact lengths, and no boilerplate-only pair is emitted."""
    from pyspark.sql import Observation

    from git_log_to_sqlite_spark.operators import (
        release_caches,
        substring_span_pairs,
    )

    n = 2000
    # degenerate docs: unique filler around ONE shared 4-token window
    rows = [(i, f"u{i}a u{i}b COMMON BOILER PLATE STUB u{i}c") for i in range(n)]
    # 100 planted twin pairs sharing a full 8-token text (runs of 8)
    rows += [
        (100_000 + 2 * p + s, " ".join(f"p{p}w{j}" for j in range(8)))
        for p in range(100)
        for s in (0, 1)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    obs = Observation("degenerate_window")
    got = {
        (r["id_a"], r["id_b"]): r["longest_run_tokens"]
        for r in substring_span_pairs(
            docs, "doc_id", "text", window=4, min_run_tokens=4,
            cap_hot_keys=True, observation=obs,
        ).collect()
    }
    release_caches()
    assert got == {
        (100_000 + 2 * p, 100_001 + 2 * p): 8 for p in range(100)
    }
    m = obs.get
    assert m["windows_dropped"] == 1
    assert m["pairs_avoided"] == n * (n - 1) // 2


def test_incremental_band_cap_bounds_degenerate_history(spark):
    """Incremental twin: the valve counts HISTORY-side buckets, so a
    degenerate history key (2,000 identical near-empty docs) is
    removed from the probe join outright — an increment doc carrying
    that text matches nothing (is_new=1, the documented trade), while
    an increment near-dup of a NORMAL history doc still resolves."""
    from pyspark.sql import Observation

    from git_log_to_sqlite_spark.operators import (
        incremental_minhash_dedup,
        release_caches,
    )

    n = 2000
    hist_rows = [(i, "boiler plate stub") for i in range(n)]
    hist_rows += [
        (100_000 + 2 * p + s, f"p{p}a p{p}b p{p}c p{p}d")
        for p in range(100)
        for s in (0, 1)
    ]
    history = spark.createDataFrame(hist_rows, "doc_id long, text string")
    increment = spark.createDataFrame(
        [(500_000, "boiler plate stub"), (500_001, "p7a p7b p7c p7d")],
        "doc_id long, text string",
    )
    obs = Observation("degenerate_hist_band")
    out = {
        r["doc_id"]: r
        for r in incremental_minhash_dedup(
            history, increment, "doc_id", "text",
            cap_hot_keys=True, observation=obs,
        ).collect()
    }
    release_caches()
    assert out[500_000]["is_new"] == 1 and out[500_000]["dup_of"] is None
    assert out[500_001]["is_new"] == 0
    assert out[500_001]["dup_of"] == 100_014  # min id of the planted pair
    assert obs.get["bands_dropped"] == 4
    # probe-shape telemetry: history band ROWS removed (sum d per
    # dropped bucket) — candidates avoided would be |inc bucket| x d,
    # unknowable history-side, so the valve reports what it measured
    assert obs.get["rows_dropped"] == 4 * n


def test_incremental_oracle_agrees_without_repeated_history_buckets(
    spark, tmp_path
):
    """Regression for the NULL-cap oracle divergence: a history where
    every band bucket holds exactly ONE doc (all-distinct texts) makes
    the d>=2 histogram empty, so the derived cap is NULL. The Spark
    valve correctly filters nothing (empty hot set); the SQL twin must
    COALESCE the NULL cap to keep candidates too — without it the
    oracle dropped every increment-history match and the engines
    diverged on exactly the corpora with no intra-history collisions."""
    import duckdb

    from git_log_to_sqlite_spark import plans
    from tests.oracle_harness import compare

    # fully token-disjoint texts: no shared shingle, hence no shared
    # minhash input, hence every history band bucket has d=1
    rows = [
        (i, f"w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f")
        for i in range(1, 30)
        if i % 5 != 0
    ]
    # one increment doc copies history doc 7 verbatim -> a real match
    rows += [(5, rows[5][1]), (10, "novel increment text matching nothing here at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sf_dir = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{sf_dir}/documents.parquet/*.parquet')"
    )
    # precondition: the history side really has no repeated bucket
    spec = plans.REGISTRY["dedup_incremental_lsh"]
    out = spec.fn(spark, sf_dir)
    ok, msg = compare(out, con, spec.oracle, name="dedup_incremental_lsh")
    assert ok, msg
    got = {r["doc_id"]: r["is_new"] for r in out.collect()}
    assert got[5] == 0, "the planted history match must survive the NULL cap"
    assert got[10] == 1


def test_decontaminate_scales_multiplicatively(spark, oracle_sf_dir):
    """Replicating the TRAIN side 8x (fresh ids, same text) against a
    FIXED benchmark must reproduce the base annotation on every copy:
    contamination is a per-document property of (doc text, benchmark
    gram set), so nothing about corpus size may change it. This is the
    scale contract of the broadcast-semi design — the benchmark side is
    constant, the train side streams through map-side."""
    from git_log_to_sqlite_spark.operators import decontaminate

    docs = table(spark, oracle_sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 29 == 0)
    train = docs.filter(F.col("doc_id") % 29 != 0)
    base = {
        r["doc_id"]: r["shared_ngrams"]
        for r in decontaminate(train, bench, "doc_id", "text").collect()
    }
    k = 8
    copies = [
        train.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
        for i in range(k)
    ]
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    got = {
        r["doc_id"]: r["shared_ngrams"]
        for r in decontaminate(big, bench, "doc_id", "text").collect()
    }
    assert len(got) == k * len(base)
    for i in range(k):
        for doc_id, shared in base.items():
            assert got[doc_id + i * 1_000_000] == shared, (i, doc_id)


def test_token_budget_domain_isolation_under_replication(spark, oracle_sf_dir):
    """Unioning 8x more rows under NEW domain names must leave the
    original domains' kept set byte-identical: the budget fill is
    per-domain local (one hash partition per domain), so foreign
    domains can never perturb admission order or prefix sums — the
    property that lets a 100-TB corpus add sources without re-sampling
    the old ones."""
    from git_log_to_sqlite_spark.operators import token_budget_sample

    docs = table(spark, oracle_sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    base = {
        (r["doc_id"], r["source"]): r["cum_before"]
        for r in token_budget_sample(
            docs, "doc_id", "n_chars", 2000, domain_col="source"
        ).collect()
    }
    extra = [
        docs.withColumn("source", F.concat(F.col("source"), F.lit(f"_rep{i}")))
        .withColumn("doc_id", F.col("doc_id") + F.lit((i + 1) * 1_000_000))
        for i in range(8)
    ]
    big = docs
    for c in extra:
        big = big.unionByName(c)
    kept_big = token_budget_sample(
        big, "doc_id", "n_chars", 2000, domain_col="source"
    )
    got = {
        (r["doc_id"], r["source"]): r["cum_before"]
        for r in kept_big.filter(~F.col("source").contains("_rep")).collect()
    }
    assert got == base


def test_pretrain_pipeline_invariant_under_exact_replication(spark, oracle_sf_dir):
    """The flagship composite is invariant under exact corpus
    duplication: replicas (same text, disjoint higher doc_ids) must be
    collapsed by the exact-dedup stage to the original min-id
    survivor, and every downstream stage (per-source token-budget mix,
    shard pack) is deterministic over that surviving set — so the 4x
    corpus produces the IDENTICAL shard assignment the 1x corpus does.
    The Observation funnel pins WHERE the collapse happens: every
    pre-dedup stage sees exactly 4x rows (quality and decontamination
    decide per-text, so replicas never flip a decision), the output
    none. This is the dedup-at-scale contract stated on the whole
    pipeline instead of the standalone operator."""
    from git_log_to_sqlite_spark.plans.llm_ops import pretrain_corpus

    d = table(spark, oracle_sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 29 == 0)
    corpus = d.filter(F.col("doc_id") % 29 != 0)
    reps = 4
    copies = [corpus] + [
        corpus.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
        for i in range(1, reps)
    ]
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)

    tel_base, tel_big = {}, {}
    base = sorted(
        tuple(r) for r in pretrain_corpus(corpus, bench, telemetry=tel_base).collect()
    )
    rep = sorted(
        tuple(r) for r in pretrain_corpus(big, bench, telemetry=tel_big).collect()
    )
    assert base == rep
    got_base = {name: obs.get["rows"] for name, obs in tel_base.items()}
    got_big = {name: obs.get["rows"] for name, obs in tel_big.items()}
    for stage in ("input", "post_quality", "post_decontam"):
        assert got_big[stage] == reps * got_base[stage], stage
    assert got_big["post_mix"] == got_base["post_mix"] == len(base) > 0


def test_curate_pipeline_invariant_under_exact_replication(spark, oracle_sf_dir):
    """Same whole-pipeline contract for the curation composite, with a
    sharper read: under 4x exact replication (disjoint ids) the
    survivor set, token counts, and shard assignment must be
    IDENTICAL to the 1x run, while n_copies — the one column that
    counts duplicates — scales by exactly the replication factor on
    every survivor."""
    from git_log_to_sqlite_spark.plans.llm_ops import curate_corpus

    d = table(spark, oracle_sf_dir, "documents")
    reps = 4
    copies = [d] + [
        d.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
        for i in range(1, reps)
    ]
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)

    base = {
        r["doc_id"]: (r["n_tokens"], r["n_copies"], r["shard_id"])
        for r in curate_corpus(d).collect()
    }
    rep = {
        r["doc_id"]: (r["n_tokens"], r["n_copies"], r["shard_id"])
        for r in curate_corpus(big).collect()
    }
    assert set(base) == set(rep) and len(base) > 0
    for doc_id, (n_tokens, n_copies, shard_id) in base.items():
        assert rep[doc_id] == (n_tokens, reps * n_copies, shard_id), doc_id


@pytest.mark.parametrize(
    "name",
    [
        # the queries whose determinism is most at risk from partition
        # layout: md5-coin admission order, unordered-window survivor
        # selection, two-phase prefix sums, banded pair self-joins,
        # connected-components fixpoints, weighted-reservoir ranking
        "sample_token_budget",
        "sample_weighted_reservoir",
        "dedup_exact",
        "dedup_minhash_groups",
        "dedup_substring_groups",
        "text_pack_shards",
        "sem_dedup_assign",
        "sample_dsir",
    ],
)
def test_partition_count_invariance(spark, sf_dir, name):
    """The one-off continuation-session sweep measured ALL 126
    registry queries row-set-identical at shuffle.partitions=7 vs 32
    (the bench/sweep configuration — the pytest session factory
    itself defaults to the CPU count) AND with AQE off (COVERAGE.md).
    This pins the property permanently
    on the eight queries where partition layout could most plausibly
    leak into results: a deployment never runs at the test box's
    partition count, so partition-count-determinism is not
    determinism."""
    from git_log_to_sqlite_spark import plans

    fn = plans.REGISTRY[name].fn
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        base = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == alt and len(base) > 0


@pytest.mark.parametrize(
    "name",
    [
        # every query whose plan crosses the Arrow boundary: the UDF
        # surface demos and the pandas-UDF multimodal hashers — the
        # operators that would break if any of them assumed
        # whole-group or whole-partition Arrow batches
        "udf_pandas_vectorized",
        "udf_map_in_pandas",
        "udf_grouped_agg",
        "mm_image_near_dup",
        "mm_audio_segment_pairs",
        "mm_video_scene_pairs",
    ],
)
def test_arrow_batch_size_invariance(spark, sf_dir, name):
    """Companion to the partition-count pin (the continuation-session
    sweep measured all 126 queries row-set-identical at 16-row vs 10k
    Arrow batches): pandas-UDF operators must be pure per-row/per-group
    functions of their input, never of the batch framing a deployment
    tunes via arrow.maxRecordsPerBatch."""
    from git_log_to_sqlite_spark import plans

    fn = plans.REGISTRY[name].fn
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "10000")
        base = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        spark.conf.set(key, "16")
        alt = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    finally:
        spark.conf.set(key, old)
    assert base == alt and len(base) > 0


def test_subword_seam_arrow_batch_size_invariance(spark, sf_dir):
    """The round-15 tokenizer seam joins the Arrow-boundary pin set:
    subword_token_counts (and hence pack_token_shards through it) must
    be a pure per-text function — identical counts at 16-row vs 10k
    Arrow batches, the framing a deployment tunes."""
    from git_log_to_sqlite_spark.operators import subword_token_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "10000")
        base = sorted(
            tuple(r) for r in subword_token_counts(docs, "doc_id", "text").collect()
        )
        spark.conf.set(key, "16")
        alt = sorted(
            tuple(r) for r in subword_token_counts(docs, "doc_id", "text").collect()
        )
    finally:
        spark.conf.set(key, old)
    assert base == alt and len(base) > 0


@pytest.mark.parametrize(
    "name",
    [
        # the queries whose implicit broadcasts demote FIRST as data
        # grows (the round-15 10x probe measured dedup_minhash_groups'
        # signature-table agreement joins flip BHJ->SMJ at x10; these
        # are the same join family at 1x)
        "dedup_minhash_lsh",
        "dedup_minhash_groups",
        "dedup_ngram_jaccard",
        "join_revenue_per_customer",
    ],
)
def test_forced_smj_invariance(spark, sf_dir, name):
    """Permanent pin for the broadcast-threshold axis (axis 4 of the
    round-14 sweep, measured one-off corpus-wide; the round-15 10x
    distinct-content probe showed it is the axis the dedup joins
    actually exercise as data grows): with implicit broadcasts
    disabled every candidate join runs shuffled (SMJ/SHJ) — exactly
    the day-one 100 TB regime — and the row set must be identical."""
    from git_log_to_sqlite_spark import plans

    fn = plans.REGISTRY[name].fn
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "10485760")
        base = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
        spark.conf.set(key, "-1")
        alt = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    finally:
        spark.conf.set(key, old)
    assert base == alt and len(base) > 0
