"""Operator-library tests: dedup properties, ANN recall, as-of
semantics, multimodal plumbing. Complements the oracle suite (which
checks SQL-expressible value parity) with semantic properties the
oracle can't state."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from git_log_to_sqlite_spark.operators import (
    asof_join,
    brute_force_topk,
    bucketed_ann_topk,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    ordered_row_number,
    ordered_running_sum,
    simhash,
)
from git_log_to_sqlite_spark.operators.multimodal import HAS_PIL, as_media


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different content about spark engines"),
        (5, "the quick brown fox jumps over the lazy dog today"),  # near dup
        (6, "short doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3).collect()
    }
    assert pairs.get((1, 2)) == 1.0  # identical docs
    assert (1, 3) in pairs  # one-word change
    assert not any(4 in p for p in pairs)  # unrelated doc never pairs


def test_ngram_jaccard_valve_drops_hot_shingle_pairs(spark):
    # 20 docs share exactly one hot trigram (d=20); 2 docs are true
    # near-dups through 13 rare trigrams only (d=2 each), which anchor
    # the p92 shingle cap at 2.
    rows = [(i, f"common common common u{i}a u{i}b u{i}c") for i in range(1, 21)]
    twin = " ".join(f"t{j}" for j in range(15))
    rows += [(100, twin), (101, twin)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.1)
    assert len(uncapped.collect()) == 190 + 1  # C(20,2) hot pairs + the twins

    from pyspark.sql import Observation

    obs = Observation("cap_metrics")
    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.1, cap_hot_keys=True, observation=obs
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    assert got == {(100, 101): 1.0}  # hot-shingle pairs gone, rare-shingle pair kept
    metrics = obs.get  # first-action semantics: the collect above
    assert metrics["shingles_dropped"] == 1
    assert metrics["pairs_avoided"] == 190


def test_ngram_jaccard_quantile_cap_derives_from_data(spark):
    """The jaccard valve's cap is the in-plan df-quantile, so a
    hot shingle well past the quantile is dropped without any absolute
    constant. 13 doc-pairs share one unique trigram each (d=2); 6 docs
    share one hot trigram (d=6): the p92 cap lands at 2 and only the
    rare-shingle pairs survive."""
    from pyspark.sql import Observation

    rows = [(i, f"common common common u{i}a u{i}b u{i}c") for i in range(1, 7)]
    rows += [
        (100 + 2 * p + s, f"p{p}a p{p}b p{p}c p{p}d")
        for p in range(13)
        for s in (0, 1)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    obs = Observation("qcap_metrics")
    got = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.1,
            cap_hot_keys=True, observation=obs,
        ).collect()
    }
    # d >= 2 histogram: 13 pair-trigrams x 2 each at d=2, 1 hot at d=6
    # -> ceil(.92 * 27) = 25 <= 26 cum at d=2 -> cap = 2.
    assert got == {(100 + 2 * p, 101 + 2 * p) for p in range(13)}
    assert obs.get["shingles_dropped"] == 1
    assert obs.get["pairs_avoided"] == 15


def test_jaccard_quantile_cap_preserves_pairs(spark, oracle_sf_dir):
    """The headline guarantee behind dedup_ngram_jaccard's cap: at the
    p92 df-quantile the >= threshold pair SET on the real corpus is
    identical to the uncapped pair set (hot shingles only ever carried
    pairs that rare shingles already witness)."""
    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.2).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.2, cap_hot_keys=True
        ).collect()
    }
    assert capped == uncapped and len(uncapped) > 0


def test_minhash_exact_dup_has_full_agreement(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert pairs.get((1, 2)) == 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_band_cap_preserves_pairs(spark, oracle_sf_dir):
    """The headline guarantee behind dedup_minhash_lsh's hot-band
    valve: at 10 x p92 of the bucket-size distribution the pair SET on
    the real corpus is identical to uncapped (natural max / bulk stays
    within one order of magnitude; only DEGENERATE keys land past the
    cap). The same must hold for the incremental operator's
    history-side valve."""
    from git_log_to_sqlite_spark.operators import incremental_minhash_dedup

    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    uncapped = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", cap_hot_keys=True
        ).collect()
    }
    assert capped == uncapped and len(uncapped) > 0
    history = docs.filter(F.col("doc_id") % 5 != 0)
    increment = docs.filter(F.col("doc_id") % 5 == 0)
    inc_un = {
        tuple(r)
        for r in incremental_minhash_dedup(
            history, increment, "doc_id", "text"
        ).collect()
    }
    inc_cap = {
        tuple(r)
        for r in incremental_minhash_dedup(
            history, increment, "doc_id", "text", cap_hot_keys=True
        ).collect()
    }
    assert inc_cap == inc_un and len(inc_un) > 0


def test_band_join_default_plans_are_plain_equi_joins(spark):
    """The shared band join plans as one equi-join on (band, band_key)
    in both its self form (ids renamed, ``id_a < id_b``) and its probe
    form: no explicitly pinned repartition (REPARTITION_BY_NUM — AQE
    never rewrites it), no cartesian, no nested-loop join."""
    import contextlib
    import io

    from git_log_to_sqlite_spark.operators.dedup import _band_pairs

    bands = spark.createDataFrame(
        [(i, 0, "k") for i in range(6)],
        "doc_id long, band int, band_key string",
    )
    bands_p = spark.createDataFrame(
        [(100 + i, 0, "k") for i in range(2)],
        "pid long, band int, band_key string",
    )

    def plan_of(df_):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df_.explain("formatted")
        return buf.getvalue()

    self_pairs = _band_pairs(
        bands.select("band", "band_key", F.col("doc_id").alias("id_a")),
        bands.select("band", "band_key", F.col("doc_id").alias("id_b")),
        ["id_a"],
        ["id_b"],
    ).filter(F.col("id_a") < F.col("id_b"))
    for plan in (
        plan_of(self_pairs),
        plan_of(_band_pairs(bands_p, bands, ["pid"], ["doc_id"])),
    ):
        assert "REPARTITION_BY_NUM" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_minhash_valve_no_hot_buckets_reports_zero(spark):
    """Valve telemetry when the valve does NOT fire must report 0/0,
    not fail: pre-fix, AQE's empty-relation propagation pruned the
    runtime-empty anti-join build side together with its observe node,
    so Observation.get raised from a metrics row that never
    materialized — in BOTH no-fire shapes. Case 1: no repeated band
    buckets at all (token sets fully disjoint across docs, so no two
    signatures can share a band key — the d>=2 histogram is empty and
    the observed sums were additionally SQL NULL). Case 2: repeated
    buckets exist but none lands over the cap."""
    from pyspark.sql import Observation

    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(8))) for i in range(1, 7)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    obs = Observation("novalve")
    got = minhash_lsh_pairs(
        docs, "doc_id", "text", cap_hot_keys=True, observation=obs
    ).collect()
    assert got == []
    assert obs.get == {"bands_dropped": 0, "pairs_avoided": 0}

    # case 2: repeated buckets (the identical pair's d=2 band keys),
    # none past 10 x their own p92
    rows2 = rows + [(100, "same text twins here today"), (101, "same text twins here today")]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    obs2 = Observation("undercap")
    got2 = minhash_lsh_pairs(
        docs2, "doc_id", "text", cap_hot_keys=True, observation=obs2
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in got2} == {(100, 101)}
    assert obs2.get == {"bands_dropped": 0, "pairs_avoided": 0}


def test_valve_telemetry_no_fire_all_operators(spark):
    """Every valve-bearing operator must report 0-metrics (never raise,
    never None) when nothing lands over the cap — jaccard's inline
    valve, simhash's band valve, and the incremental probe valve all
    share the AQE empty-build-side pruning hazard."""
    from pyspark.sql import Observation

    from git_log_to_sqlite_spark.operators import (
        incremental_minhash_dedup,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(8))) for i in range(1, 7)]
    rows += [(100, "same text twins here today"), (101, "same text twins here today")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    obs_j = Observation()
    got = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, cap_hot_keys=True, observation=obs_j
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(100, 101)}
    assert obs_j.get == {"shingles_dropped": 0, "pairs_avoided": 0}

    obs_s = Observation()
    got = simhash_pairs(
        docs, "doc_id", "text", bits=60, bands=4, max_hamming=3,
        cap_hot_keys=True, observation=obs_s,
    ).collect()
    assert (100, 101) in {(r["id_a"], r["id_b"]) for r in got}
    assert obs_s.get == {"bands_dropped": 0, "pairs_avoided": 0}

    obs_i = Observation()
    history = docs.filter(F.col("doc_id") < 100)
    increment = docs.filter(F.col("doc_id") >= 100)
    res = incremental_minhash_dedup(
        history, increment, "doc_id", "text",
        cap_hot_keys=True, observation=obs_i,
    ).collect()
    assert len(res) == 2
    assert obs_i.get == {"bands_dropped": 0, "rows_dropped": 0}


def test_minhash_valve_telemetry_when_firing(spark):
    """The firing case through the self-join shape: a degenerate key
    (many identical docs) must be dropped AND reported — pre-fix the
    duplicated CollectMetrics node (one observed frame on both sides
    of the band self-join) meant Observation.get raised even when the
    valve fired."""
    from pyspark.sql import Observation

    # bulk: 13 twin pairs (d=2 band buckets) anchoring p92 at 2;
    # degenerate: one 40-doc identical-text key landing at d=40 >> 10x2
    rows = [
        (10 * p + s, " ".join(f"p{p}w{j}" for j in range(8)))
        for p in range(13)
        for s in (0, 1)
    ]
    rows += [(1000 + i, "degenerate boilerplate template page") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    obs = Observation()
    got = minhash_lsh_pairs(
        docs, "doc_id", "text", cap_hot_keys=True, observation=obs
    ).collect()
    m = obs.get
    assert m["bands_dropped"] >= 1
    assert m["pairs_avoided"] >= 40 * 39 // 2
    # the degenerate clique's pairs are gone from the output
    assert not any(r["id_a"] >= 1000 for r in got)


def test_minhash_valve_blind_when_degenerate_keys_set_the_quantile(spark):
    """The valve's documented limit, pinned as today's answer: when
    degenerate band keys are more than 1 - VALVE_QUANTILE of the
    distinct repeated keys, they set the quantile themselves, the cap
    rises to their size and nothing is dropped. Here one 30-doc
    identical clique fills 4 band buckets at d=30 and 3 twin pairs fill
    12 at d=2, so 4/16 of the repeated keys are degenerate (> 8%): the
    capped run drops no band and returns the uncapped run's rows. A
    valve change that fires here must update this test on purpose."""
    from pyspark.sql import Observation

    from git_log_to_sqlite_spark.operators import release_caches
    from git_log_to_sqlite_spark.operators.dedup import VALVE_QUANTILE

    rows = [
        (10 * p + s, " ".join(f"p{p}w{j}" for j in range(8)))
        for p in range(3)
        for s in (0, 1)
    ]
    rows += [(1000 + i, "degenerate boilerplate template page") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert 4 / 16 > 1 - VALVE_QUANTILE
    obs = Observation()
    capped = sorted(
        map(tuple, minhash_lsh_pairs(
            docs, "doc_id", "text", cap_hot_keys=True, observation=obs
        ).collect())
    )
    uncapped = sorted(map(tuple, minhash_lsh_pairs(docs, "doc_id", "text").collect()))
    release_caches()
    assert obs.get == {"bands_dropped": 0, "pairs_avoided": 0}
    assert capped == uncapped
    assert len(uncapped) == 3 + 30 * 29 // 2


def test_simhash_duplicate_ids_merge_into_one_signature(spark):
    """``simhash`` groups on the id, so documents sharing an id merge
    without error into ONE signature over both token sets — one row
    per distinct id (the precondition its docstring states: ids must
    be unique). With disjoint token sets the merged signature equals
    the signature of the two texts concatenated."""
    from git_log_to_sqlite_spark.operators import simhash

    dup = spark.createDataFrame(
        [(1, "alpha beta gamma"), (1, "delta epsilon zeta"), (2, "eta theta iota")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash(dup, "doc_id", "text").collect()}
    assert set(got) == {1, 2}
    joined = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    assert got[1] == simhash(joined, "doc_id", "text").first()["simhash"]


def test_simhash_pairs_pigeonhole_exact(spark, oracle_sf_dir):
    """With bands > max_hamming the banding stage is EXACT by
    pigeonhole: the pair set must equal a driver-side brute-force
    Hamming scan over the signatures — on the real corpus."""
    from git_log_to_sqlite_spark.operators import simhash, simhash_pairs

    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    ids = sorted(sigs)
    want = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(
            docs, "doc_id", "text", bands=4, max_hamming=3
        ).collect()
    }
    assert got == want and len(want) > 0


def test_simhash_pairs_validation(spark):
    from git_log_to_sqlite_spark.operators import simhash, simhash_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs, "doc_id", "text", bands=3, max_hamming=3)
    with pytest.raises(ValueError, match="divide evenly"):
        simhash_pairs(docs, "doc_id", "text", bits=32, bands=5, max_hamming=2)
    # > 60 bits would silently band on constant-zero slices (the md5
    # token hash is at most 60 bits) — rejected up front
    with pytest.raises(ValueError, match=r"\[1, 60\]"):
        simhash(docs, "doc_id", "text", bits=64)
    with pytest.raises(ValueError, match=r"\[1, 60\]"):
        simhash_pairs(docs, "doc_id", "text", bits=64, bands=4, max_hamming=3)


def test_simhash_pairs_wide_signatures(spark, oracle_sf_dir):
    """The corpus-scale configuration (bits=60, bands=4 -> 15-bit
    slices, ~32k band keys instead of 256): pigeonhole exactness must
    hold against a brute-force Hamming scan of the 60-bit signatures,
    and all signatures actually use the high bits (no constant-zero
    slice degeneracy)."""
    from git_log_to_sqlite_spark.operators import simhash, simhash_pairs

    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash(docs, "doc_id", "text", bits=60).collect()
    }
    assert any(s >> 32 for s in sigs.values()), "high bits never set"
    ids = sorted(sigs)
    want = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(
            docs, "doc_id", "text", bits=60, bands=4, max_hamming=3
        ).collect()
    }
    assert got == want


def test_spread_skips_shuffle_shaped_plans(spark, oracle_sf_dir):
    """_spread must pass a plan containing exchanges through UNTOUCHED
    (probing it with .rdd would execute the upstream shuffles under
    AQE, and post-shuffle frames are already shuffle.partitions wide),
    while a bare narrow scan still gets the widening repartition."""
    from git_log_to_sqlite_spark.operators.dedup import _spread

    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    agged = docs.groupBy("source").agg(F.count("*").alias("n"))
    assert _spread(agged) is agged
    rep = docs.repartition(2)  # explicit repartition states caller intent
    assert _spread(rep) is rep
    # a single-file scan is narrow -> widened
    out = _spread(docs)
    assert out.rdd.getNumPartitions() >= min(
        spark.sparkContext.defaultParallelism, 2
    )


def test_spread_ignores_marker_words_in_column_names(spark, tmp_path):
    """Marker detection must key on plan NODE names, not substrings of
    the whole plan string: a user column named SortKey / JoinDate (or
    a file path containing a marker word) previously false-positived
    the shuffle probe and silently skipped the widening in exactly the
    single-partition case the guard exists for."""
    from git_log_to_sqlite_spark.operators.dedup import _spread

    p = str(tmp_path / "SortedJoinInput")  # path also carries markers
    spark.createDataFrame(
        [(1, "x", "2024-01-01")], "SortKey long, text string, JoinDate string"
    ).coalesce(1).write.parquet(p)
    scan = spark.read.parquet(p)
    assert scan.rdd.getNumPartitions() == 1
    widened = _spread(scan)
    assert widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert widened.rdd.getNumPartitions() > 1


def test_substring_spans_planted_passages(spark):
    """Hand-computed exact-substring cases: a clean 10-token shared
    passage, a passage split by an interruption (two islands, longest
    = the longer island), and a no-overlap doc that must not pair."""
    from git_log_to_sqlite_spark.operators import substring_span_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG TODAY zeta eta"),
            (2, "one two THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG TODAY three four five six"),
            (3, "completely different text with no shared passage at all here now"),
            (4, "one two THE QUICK BROWN FOX then interrupted JUMPS OVER THE LAZY DOG TODAY"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["longest_run_tokens"], r["n_shared_windows"])
        for r in substring_span_pairs(
            docs, "doc_id", "text", window=4, min_run_tokens=6
        ).collect()
    )
    # 1-2: the 10-token passage = 7 four-token windows, one island.
    # 1-4: runs "THE QUICK BROWN FOX" (4 tokens, 1 window — below
    #      min_run on its own) and "JUMPS OVER THE LAZY DOG TODAY"
    #      (6 tokens, 3 windows): longest 6, cells 1+3=4.
    # 2-4: "one two THE QUICK BROWN FOX" (6 tokens, 3 windows) and the
    #      6-token JUMPS run (3 windows): longest 6, cells 6.
    assert got == [(1, 2, 10, 7), (1, 4, 6, 4), (2, 4, 6, 6)]


def test_substring_spans_match_bruteforce(spark):
    """Property check on a seeded random corpus with planted shared
    passages: (pair set, longest run, match-cell count) must equal a
    brute-force token-level DP over every pair."""
    import random

    from git_log_to_sqlite_spark.operators import substring_span_pairs

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(30)]  # small vocab -> chance runs too
    passages = [
        [rng.choice(vocab) for _ in range(rng.randint(6, 14))] for _ in range(4)
    ]
    texts = {}
    for d in range(1, 13):
        toks = [rng.choice(vocab) for _ in range(rng.randint(8, 25))]
        if d % 3 != 0:  # plant a passage in 2/3 of docs
            p = passages[d % len(passages)]
            at = rng.randint(0, len(toks))
            toks = toks[:at] + p + toks[at:]
        texts[d] = toks
    docs = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in texts.items()], "doc_id long, text string"
    )
    K, MIN_RUN = 3, 5
    got = {
        (r["id_a"], r["id_b"]): (r["longest_run_tokens"], r["n_shared_windows"])
        for r in substring_span_pairs(
            docs, "doc_id", "text", window=K, min_run_tokens=MIN_RUN
        ).collect()
    }

    def brute(a, b):
        best, cells = 0, 0
        dp = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                if a[i - 1] == b[j - 1]:
                    dp[i][j] = dp[i - 1][j - 1] + 1
                    best = max(best, dp[i][j])
        for i in range(len(a) - K + 1):
            for j in range(len(b) - K + 1):
                if a[i:i + K] == b[j:j + K]:
                    cells += 1
        return best, cells

    want = {}
    ids = sorted(texts)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            best, cells = brute(texts[ids[x]], texts[ids[y]])
            if best >= MIN_RUN:
                want[(ids[x], ids[y])] = (best, cells)
    assert got == want and len(want) > 0


def test_substring_spans_cap_lower_bounds(spark):
    """The valve drops boilerplate windows and SPLITS runs containing
    them — reported runs are lower bounds, never inventions. With the
    shared hot window dropped (it appears in every doc), the two
    12-token twin passages split into two sub-runs around it."""
    from git_log_to_sqlite_spark.operators import substring_span_pairs

    hot = "BOILER PLATE HOT WINDOW"  # 4 tokens, one k=4 window when aligned
    rows = [
        (i, f"u{i}a u{i}b {hot} u{i}c u{i}d") for i in range(1, 31)
    ]  # 30 docs all containing the hot window -> df 32 > cap 10 x 2
    rows += [
        (100, f"p1 p2 p3 p4 {hot} q1 q2 q3 q4"),
        (101, f"p1 p2 p3 p4 {hot} q1 q2 q3 q4"),
    ]
    # three more twin pairs: with the 8 non-hot twin windows above,
    # 23 windows at d=2 anchor the p92 occurrence count at 2
    rows += [
        (200 + 2 * p + s, " ".join(f"r{p}w{j}" for j in range(8)))
        for p in range(3)
        for s in (0, 1)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r["id_a"], r["id_b"]): r["longest_run_tokens"]
        for r in substring_span_pairs(
            docs, "doc_id", "text", window=4, min_run_tokens=4
        ).collect()
    }
    assert uncapped[(100, 101)] == 12  # the full twin text
    capped = {
        (r["id_a"], r["id_b"]): r["longest_run_tokens"]
        for r in substring_span_pairs(
            docs, "doc_id", "text", window=4, min_run_tokens=4, cap_hot_keys=True
        ).collect()
    }
    # the windows crossing the boilerplate are rarer (doc-specific
    # neighbours), so only the one fully-boilerplate window exceeds the
    # cap (32 docs carry it). Dropping it splits the twins' 12-token
    # run into two shorter aligned runs; the reported longest is the
    # larger fragment — strictly less than 12, still >= min_run.
    assert (100, 101) in capped
    assert 4 <= capped[(100, 101)] < 12
    # capped output never invents pairs
    assert set(capped) <= set(uncapped)


def test_substring_spans_telemetry(spark):
    """The substring valve joins the shared eager-telemetry contract:
    windows_dropped / pairs_avoided readable immediately, zeros (not
    None / not a raise) when nothing lands over the cap, real counts
    when a degenerate window fires it."""
    from pyspark.sql import Observation

    from git_log_to_sqlite_spark.operators import substring_span_pairs

    # twins with 13 shared windows (d=2): the p92 occurrence count is 2
    twin = " ".join(f"p{j}" for j in range(16))
    rows = [(100, twin), (101, twin)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    obs = Observation()
    got = substring_span_pairs(
        docs, "doc_id", "text", window=4, min_run_tokens=4,
        cap_hot_keys=True, observation=obs,
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(100, 101)}
    assert obs.get == {"windows_dropped": 0, "pairs_avoided": 0}

    # degenerate window shared by 30 docs, cap 10 x 2 -> fires
    rows2 = rows + [(i, f"u{i}a HOT WIN DOW TEXT u{i}b") for i in range(30)]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    obs2 = Observation()
    substring_span_pairs(
        docs2, "doc_id", "text", window=4, min_run_tokens=4,
        cap_hot_keys=True, observation=obs2,
    ).collect()
    assert obs2.get == {"windows_dropped": 1, "pairs_avoided": 30 * 29 // 2}
    with pytest.raises(ValueError, match="observation requires cap_hot_keys"):
        substring_span_pairs(
            docs, "doc_id", "text", window=4, min_run_tokens=4,
            observation=Observation(),
        )


def test_banding_validation_precedes_pins(spark):
    """Invalid banding arguments must fail BEFORE any pin() side
    effect — pre-fix, simhash_pairs pinned the signature frame and
    then raised, leaking a never-materialized registry entry until
    release_caches()."""
    from git_log_to_sqlite_spark.operators import simhash_pairs
    from git_log_to_sqlite_spark.operators.caching import _LIVE, release_caches
    from git_log_to_sqlite_spark.operators.multimodal import image_near_dup_pairs

    release_caches()
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divide evenly"):
        simhash_pairs(docs, "doc_id", "text", bits=32, bands=5)
    assert _LIVE == []
    media = spark.createDataFrame(
        [(1, b"xyz", "image/raw", 3)],
        "media_id long, payload binary, mime_type string, byte_len int",
    )
    with pytest.raises(ValueError, match="must exceed max_hamming"):
        image_near_dup_pairs(media, max_hamming=5, bands=4)
    assert _LIVE == []
    # the cross-modal probe validates frame_bytes before its pins too
    from git_log_to_sqlite_spark.operators import image_in_video_frames

    with pytest.raises(ValueError, match="frame_bytes"):
        image_in_video_frames(media, media, frame_bytes=0)
    assert _LIVE == []


_VALVE_CALLS = {
    "minhash_lsh_pairs": lambda o, d, s, m, obs: o.minhash_lsh_pairs(
        d, "doc_id", "text", observation=obs
    ),
    "ngram_jaccard_pairs": lambda o, d, s, m, obs: o.ngram_jaccard_pairs(
        d, "doc_id", "text", observation=obs
    ),
    "substring_span_pairs": lambda o, d, s, m, obs: o.substring_span_pairs(
        d, "doc_id", "text", observation=obs
    ),
    "incremental_substring_spans": lambda o, d, s, m, obs: (
        o.incremental_substring_spans(d, d, "doc_id", "text", observation=obs)
    ),
    "simhash_pairs": lambda o, d, s, m, obs: o.simhash_pairs(
        d, "doc_id", "text", observation=obs
    ),
    "hamming_pairs": lambda o, d, s, m, obs: o.hamming_pairs(
        s, "doc_id", "sig", bits=32, observation=obs
    ),
    "hamming_probe": lambda o, d, s, m, obs: o.hamming_probe(
        s.withColumnRenamed("doc_id", "pid"), s, "pid", "doc_id", "sig",
        bits=32, observation=obs,
    ),
    "incremental_minhash_dedup": lambda o, d, s, m, obs: (
        o.incremental_minhash_dedup(d, d, "doc_id", "text", observation=obs)
    ),
    "audio_shared_segment_pairs": lambda o, d, s, m, obs: (
        o.audio_shared_segment_pairs(m, observation=obs)
    ),
    "video_shared_scene_pairs": lambda o, d, s, m, obs: (
        o.video_shared_scene_pairs(m, observation=obs)
    ),
}


@pytest.mark.parametrize("name", sorted(_VALVE_CALLS))
def test_observation_without_valve_raises_before_any_pin(spark, name):
    """Every valve-bearing pair operator takes the one ``cap_hot_keys``
    switch (off by default) and no absolute cap, quantile or headroom,
    and an ``observation`` without the switch raises before the
    operator pins anything: a raise after a pin would leak a
    never-materialized cache-registry entry until release_caches()."""
    import inspect

    from pyspark.sql import Observation

    from git_log_to_sqlite_spark import operators
    from git_log_to_sqlite_spark.operators.caching import _LIVE, release_caches

    params = inspect.signature(getattr(operators, name)).parameters
    assert params["cap_hot_keys"].default is False
    removed = {
        "max_band_size", "band_size_quantile", "max_df", "max_df_quantile",
        "quantile_headroom",
    }
    assert removed.isdisjoint(params)
    release_caches()
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    sig = spark.createDataFrame([(1, 5)], "doc_id long, sig long")
    media = spark.createDataFrame(
        [(1, b"xyz", "image/raw", 3)],
        "media_id long, payload binary, mime_type string, byte_len int",
    )
    with pytest.raises(ValueError, match="observation requires cap_hot_keys"):
        _VALVE_CALLS[name](operators, docs, sig, media, Observation())
    assert _LIVE == []


def test_ivf_index_exists_distinguishes_missing_from_broken(spark, tmp_path):
    """exists() maps ONLY a missing path to False; any other failure
    (here: an existing index directory that is not a parquet table,
    standing in for transient IO) propagates — returning False would
    make append()'s guard advise a destructive re-build of a live
    index."""
    from git_log_to_sqlite_spark.operators import IvfIndex

    missing = IvfIndex(spark, str(tmp_path / "nope"))
    assert not missing.exists()
    broken = IvfIndex(spark, str(tmp_path / "broken"))
    (tmp_path / "broken" / "index").mkdir(parents=True)
    with pytest.raises(Exception, match="(?i)unable_to_infer|schema"):
        broken.exists()


def test_incremental_substring_matches_batch_cross_split(spark, oracle_sf_dir):
    """The incremental operator's contract: on the real corpus its
    (inc, hist) pair set with runs and cell counts must equal the
    BATCH operator's pair set restricted to cross-split pairs (both
    uncapped — the batch cap derives from the whole corpus, the
    incremental cap from history only, so equality is the uncapped
    invariant). Increment-internal pairs are deliberately absent."""
    from git_log_to_sqlite_spark.operators import (
        incremental_substring_spans,
        substring_span_pairs,
    )

    d = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    history = d.filter(F.col("doc_id") % 5 != 0)
    increment = d.filter(F.col("doc_id") % 5 == 0)
    batch = {
        (r["id_a"], r["id_b"]): (r["longest_run_tokens"], r["n_shared_windows"])
        for r in substring_span_pairs(
            d, "doc_id", "text", window=6, min_run_tokens=12
        ).collect()
    }
    want = {}
    for (a, b), v in batch.items():
        a_inc, b_inc = a % 5 == 0, b % 5 == 0
        if a_inc != b_inc:  # exactly one endpoint in the increment
            want[(a, b) if a_inc else (b, a)] = v
    got = {
        (r["inc_id"], r["hist_id"]): (
            r["longest_run_tokens"], r["n_shared_windows"]
        )
        for r in incremental_substring_spans(
            history, increment, "doc_id", "text", window=6, min_run_tokens=12
        ).collect()
    }
    assert got == want and len(want) > 0


def test_incremental_substring_history_valve(spark):
    """Degenerate HISTORY boilerplate (one window in 2,000 history
    docs) must be anti-filtered before the probe join: each of the 10
    increment docs carrying it would otherwise match all 2,000.
    Telemetry reports the probe shape (rows_dropped = occurrences),
    and a planted increment-history twin passage still surfaces."""
    from pyspark.sql import Observation

    from git_log_to_sqlite_spark.operators import incremental_substring_spans

    n = 2000
    hist_rows = [(i, f"u{i}a u{i}b COMMON BOILER PLATE STUB u{i}c") for i in range(n)]
    # 20 planted twin PAIRS inside history (d=2 windows) anchor the
    # history p92 at 2 -> cap 20 << the d=2000 boilerplate window
    hist_rows += [
        (50_000 + 2 * p + s, " ".join(f"p{p}w{j}" for j in range(8)))
        for p in range(20)
        for s in (0, 1)
    ]
    inc_rows = [(100_000 + i, f"v{i}x COMMON BOILER PLATE STUB v{i}y") for i in range(10)]
    inc_rows += [(100_500 + p, " ".join(f"p{p}w{j}" for j in range(8))) for p in range(20)]
    history = spark.createDataFrame(hist_rows, "doc_id long, text string")
    increment = spark.createDataFrame(inc_rows, "doc_id long, text string")
    obs = Observation()
    got = {
        (r["inc_id"], r["hist_id"]): r["longest_run_tokens"]
        for r in incremental_substring_spans(
            history, increment, "doc_id", "text", window=4, min_run_tokens=4,
            cap_hot_keys=True, observation=obs,
        ).collect()
    }
    assert got == {
        (100_500 + p, 50_000 + 2 * p + s): 8
        for p in range(20)
        for s in (0, 1)
    }
    m = obs.get
    assert m["windows_dropped"] == 1 and m["rows_dropped"] == n


def test_substring_spans_validation(spark):
    from git_log_to_sqlite_spark.operators import substring_span_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="window must be >= 2"):
        substring_span_pairs(docs, "doc_id", "text", window=1)
    with pytest.raises(ValueError, match="min_run_tokens"):
        substring_span_pairs(docs, "doc_id", "text", window=8, min_run_tokens=4)
    # short docs yield no windows, no crash
    assert (
        substring_span_pairs(docs, "doc_id", "text", window=8, min_run_tokens=8)
        .count()
        == 0
    )


def test_simhash_similar_docs_close(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert sigs[1] == sigs[2]  # identical text -> identical signature
    assert ham(sigs[1], sigs[3]) < ham(sigs[1], sigs[4])  # near-dup closer


def test_simhash_matches_pure_python_reference(spark):
    """The round-17 signature shape (narrow two-aggregate form with
    the redundant token-stream DISTINCT removed — the suite-context
    A/B winner over both the round-16 form and a one-pass 60-buffer
    variant) must compute bit-for-bit the declared md5-majority
    signature — an INDEPENDENT reference, not a retired Spark form, so
    a future reshaping cannot drift both sides together. Covers both
    token-hash widths (32-bit frozen oracle form and the 60-bit
    banding form)."""
    import hashlib

    texts = {
        1: "alpha beta gamma alpha",        # in-doc repeat (dedup'd)
        2: "alpha beta gamma",              # same token SET as doc 1
        3: "delta epsilon zeta eta theta",
        4: "",                              # empty text -> [""] token
    }

    def ref(text: str, bits: int) -> int:
        hex_chars = 8 if bits <= 32 else 15
        tokens = sorted(set(text.split(" ")))
        weights = [0] * bits
        for t in tokens:
            h = int(hashlib.md5(t.encode()).hexdigest()[:hex_chars], 16)
            for i in range(bits):
                weights[i] += 1 if (h >> i) & 1 else -1
        return sum(1 << i for i in range(bits) if weights[i] > 0)

    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    for bits in (32, 60):
        got = {
            r["doc_id"]: r["simhash"]
            for r in simhash(df, "doc_id", "text", bits=bits).collect()
        }
        want = {k: ref(v, bits) for k, v in texts.items()}
        assert got == want, (bits, got, want)
    # shape pin: the round-16 form ran a DISTINCT over the exploded
    # (id, token) stream — the one corpus-sized exchange here, and
    # semantically redundant (array_distinct dedups within the doc,
    # ids separate docs). The final form keeps the two narrow
    # aggregate pairs ((id, i) partials then the signature fold; 4
    # HashAggregate nodes) but must never regrow the distinct's third
    # pair or its exchange.
    plan = simhash(df, "doc_id", "text")._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("HashAggregate") == 4
    assert plan.count("Exchange") <= 2


@pytest.fixture(scope="module")
def clustered_vectors(spark):
    """Planted clusters (the driver's embeddings table is near-random —
    top-10 cosine ~0.3, labels carry no similarity signal — so recall
    must be tested on data where neighbors exist by construction)."""
    import hashlib
    import math

    def unit(seed: str, dims: int = 16) -> list[float]:
        vals = []
        for d in range(dims):
            h = hashlib.md5(f"{seed}:{d}".encode()).hexdigest()
            vals.append((int(h[:8], 16) / 0xFFFFFFFF) * 2 - 1)
        norm = math.sqrt(sum(v * v for v in vals))
        return [v / norm for v in vals]

    rows, vid = [], 0
    for c in range(4):
        center = unit(f"center{c}")
        for i in range(25):
            jitter = unit(f"jit{c}:{i}")
            vec = [cv + 0.15 * jv for cv, jv in zip(center, jitter)]
            rows.append((vid, vec, c))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cluster int"
    )


def test_ann_recall_on_clustered_data(clustered_vectors):
    e = clustered_vectors
    q = e.filter(F.col("vec_id") < 12)
    exact = brute_force_topk(q, e, "vec_id", "embedding", k=5)
    approx = bucketed_ann_topk(q, e, "vec_id", "embedding", "cluster", k=5)
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall > 0.9, f"bucketed ANN recall too low on tight clusters: {recall:.2f}"


def test_ivf_ann_recall_on_clustered_data(clustered_vectors):
    """IVF with a FITTED k-means quantizer on planted tight clusters:
    single-probe recall must be near-exact (each cluster maps onto one
    Voronoi cell), and results must be deterministic across runs."""
    from git_log_to_sqlite_spark.operators import ivf_ann_topk, kmeans

    e = clustered_vectors
    # interleaved init ids: one lowest-k seed per planted cluster (the
    # same init-quality control test_kmeans_recovers_planted_clusters
    # documents — callers order ids to pick seeds)
    fit = e.withColumn("kid", (F.col("vec_id") % 25) * 4 + F.col("cluster"))
    _, centroids = kmeans(fit, "kid", "embedding", k=4, max_iter=10)
    q = e.filter(F.col("vec_id") < 12)
    exact = brute_force_topk(q, e, "vec_id", "embedding", k=5)
    ivf = ivf_ann_topk(q, e, "vec_id", "embedding", centroids, n_probe=1, k=5)
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    iv = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    recall = len(ex & iv) / len(ex)
    assert recall > 0.9, f"IVF single-probe recall on tight clusters: {recall:.2f}"
    again = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_ann_topk(
            q, e, "vec_id", "embedding", centroids, n_probe=1, k=5
        ).collect()
    }
    assert again == iv


def test_ivf_index_persisted_probe(clustered_vectors, tmp_path):
    """The build-once/probe-many deployment: a persisted cell-
    partitioned index must reproduce the in-memory operator exactly,
    and the probe join must DYNAMICALLY PRUNE the partitioned scan
    (the broadcast query side's cell keys reach the file source as a
    dynamic pruning filter), so a batch probing m of k cells reads
    ~m/k of the index."""
    import contextlib
    import io

    from git_log_to_sqlite_spark.operators import IvfIndex, ivf_ann_topk, kmeans

    e = clustered_vectors
    fit = e.withColumn("kid", (F.col("vec_id") % 25) * 4 + F.col("cluster"))
    _, centroids = kmeans(fit, "kid", "embedding", k=4, max_iter=10)

    idx = IvfIndex(e.sparkSession, str(tmp_path / "ivf"))
    corpus_df = fit.select("kid", "embedding").withColumnRenamed("kid", "vec_id")
    # fit_sample_size=None pins the full-corpus distributed Lloyd's —
    # this test's contract is build == the in-memory kmeans fit
    idx.build(corpus_df, k=4, max_iter=10, fit_sample_size=None)
    assert idx.centroids() == centroids  # same deterministic fit

    q = fit.select(F.col("kid").alias("vec_id"), "embedding").filter(
        F.col("vec_id") < 12
    )
    corpus = fit.select(F.col("kid").alias("vec_id"), "embedding")
    mem = {
        tuple(r)
        for r in ivf_ann_topk(
            q, corpus, "vec_id", "embedding", centroids, n_probe=2, k=5
        ).collect()
    }
    probe = idx.probe(q, n_probe=2, k=5)
    assert {tuple(r) for r in probe.collect()} == mem and len(mem) > 0

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    # STATIC partition pruning (round 14): the probed cell set reaches
    # the scan as an IN partition filter. The previous dynamic-pruning
    # assertion held only because this test's probe side carries a
    # Filter — Spark's DPP insertion requires a selective predicate on
    # the build side, so a bare batch (LocalRelation / checkpoint /
    # plain table, the real deployment shape) got NO pruning and read
    # the full index (measured: 64/64 files at 8x replication).
    plan_text = buf.getvalue().lower()
    assert "partitionfilters" in plan_text and "cell" in plan_text
    assert " in (" in plan_text or " in(" in plan_text, (
        "probed cell set must reach the index scan as a static IN "
        "partition filter"
    )


def test_ivf_probe_prunes_unfiltered_batch(clustered_vectors, tmp_path):
    """The deployment-shape pruning guarantee: a probe batch with NO
    filter on it (a bare createDataFrame batch — the case Spark's
    dynamic partition pruning silently skips) must still read only the
    probed cells' files, measured on the scan's own metrics, and
    return exactly the in-memory operator's result."""
    from git_log_to_sqlite_spark.operators import IvfIndex, ivf_ann_topk, kmeans

    e = clustered_vectors
    fit = e.withColumn("kid", (F.col("vec_id") % 25) * 4 + F.col("cluster"))
    _, centroids = kmeans(fit, "kid", "embedding", k=4, max_iter=10)
    idx = IvfIndex(e.sparkSession, str(tmp_path / "ivf"))
    corpus_df = fit.select("kid", "embedding").withColumnRenamed("kid", "vec_id")
    idx.build(corpus_df, k=4, max_iter=10, fit_sample_size=None)

    # bare batch: one query vector, n_probe=1 → exactly one probed cell
    one = corpus_df.limit(1).collect()
    bare = e.sparkSession.createDataFrame(one, corpus_df.schema)
    res = idx.probe(bare, n_probe=1, k=5)
    got = {tuple(r) for r in res.collect()}
    mem = {
        tuple(r)
        for r in ivf_ann_topk(
            bare, corpus_df, "vec_id", "embedding", centroids,
            n_probe=1, k=5,
        ).collect()
    }
    assert got == mem and len(got) > 0

    # measured on the executed scan: only the probed cell's partition
    # was read (cells are near-balanced by construction, so one cell
    # is well under half the index)
    total_rows = corpus_df.count()
    scanned = _index_scan_rows(res)
    assert scanned < total_rows / 2, (
        f"unfiltered probe batch read {scanned} of {total_rows} index "
        "rows — partition pruning did not happen"
    )

    # and it must survive append (the daily-ingest growth path): new
    # files land inside the cell= partitions, so the same bare-batch
    # probe stays pruned — measured again, not inferred from layout
    grown = corpus_df.select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    idx.append(grown)
    res2 = idx.probe(bare, n_probe=1, k=5)
    res2.collect()
    total2 = 2 * total_rows
    scanned2 = _index_scan_rows(res2)
    assert 0 < scanned2 < total2 / 2, (
        f"post-append probe read {scanned2} of {total2} index rows"
    )


def _index_scan_rows(res) -> int:
    """numOutputRows of the largest executed FileSourceScanExec under
    ``res``'s plan (the index scan), walked through AQE wrappers."""
    rows = []

    def walk(node):
        nm = node.getClass().getSimpleName()
        if nm == "FileSourceScanExec":
            opt = node.metrics().get("numOutputRows")
            if not opt.isEmpty():
                rows.append(opt.get().value())
            return
        if nm == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if "QueryStageExec" in nm:
            walk(node.plan())
            return
        if nm == "ReusedExchangeExec":
            walk(node.child())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(res._jdf.queryExecution().executedPlan())
    return max(rows) if rows else 0


def test_kmeans_fit_sample_quality_and_determinism(clustered_vectors, tmp_path):
    """The bounded-sample quantizer fit (IvfIndex.build's default):
    deterministic across runs (md5-total sample order + argmin ties),
    recovers the planted clusters as cleanly as the full fit (every
    planted cluster lands in one Voronoi cell), and the index built
    with it reproduces the in-memory operator under ITS OWN centroids
    — the build == probe consistency the persisted deployment needs."""
    from git_log_to_sqlite_spark.operators import (
        IvfIndex,
        assign_clusters,
        ivf_ann_topk,
        kmeans_fit_sample,
    )

    e = clustered_vectors
    c1 = kmeans_fit_sample(e, "vec_id", "embedding", k=4, max_iter=10,
                           sample_size=64)
    c2 = kmeans_fit_sample(e, "vec_id", "embedding", k=4, max_iter=10,
                           sample_size=64)
    assert c1 == c2 and len(c1) == 4  # deterministic fit

    # quality: every planted cluster lands whole in one distinct cell
    # (clustered_vectors' "cluster" col is the planted label — renamed
    # so assign_clusters' output column can't shadow it)
    assigned2 = assign_clusters(
        e.select("vec_id", F.col("cluster").alias("planted"),
                 F.col("embedding").alias("_v")),
        "_v", c1,
    )
    cells = {}
    for r in assigned2.collect():
        cells.setdefault(r["planted"], set()).add(r["cluster"])
    assert all(len(v) == 1 for v in cells.values())  # one cell per cluster
    assert len({next(iter(v)) for v in cells.values()}) == 4  # distinct cells

    # sampled-fit index == in-memory operator under the same centroids
    idx = IvfIndex(e.sparkSession, str(tmp_path / "ivf_sample"))
    idx.build(e.select("vec_id", "embedding"), k=4, max_iter=10)  # default path
    got_c = idx.centroids()
    q = e.filter(F.col("vec_id") < 12).select("vec_id", "embedding")
    mem = {
        tuple(r)
        for r in ivf_ann_topk(
            q, e.select("vec_id", "embedding"), "vec_id", "embedding",
            got_c, n_probe=2, k=5,
        ).collect()
    }
    got = {tuple(r) for r in idx.probe(q, n_probe=2, k=5).collect()}
    assert got == mem and len(got) > 0

    with pytest.raises(ValueError, match="sample_size"):
        kmeans_fit_sample(e, "vec_id", "embedding", k=8, sample_size=4)
    with pytest.raises(ValueError, match="at least k"):
        kmeans_fit_sample(
            e.filter(F.col("vec_id") < 2), "vec_id", "embedding", k=4
        )


def test_ivf_index_append_grows_without_refit(clustered_vectors, tmp_path):
    """The daily-ingest shape of the persisted index: append() assigns
    new vectors to the EXISTING cells and appends to the partitioned
    parquet — probing the grown index must equal probing an index
    whose build saw everything, because the quantizer (model state) is
    identical and assignment is deterministic. Also: appended mass is
    visible to cell_sizes(), and an un-built path fails fast instead
    of creating an empty-quantizer index."""
    from git_log_to_sqlite_spark.operators import IvfIndex, ivf_ann_topk

    e = clustered_vectors.select("vec_id", "embedding")
    first = e.filter(F.col("vec_id") % 2 == 0)
    second = e.filter(F.col("vec_id") % 2 == 1)

    idx = IvfIndex(e.sparkSession, str(tmp_path / "ivf_grow"))
    idx.build(first, k=4, max_iter=10, fit_sample_size=64)
    cents = idx.centroids()
    q = e.filter(F.col("vec_id") < 12)
    before = {tuple(r) for r in idx.probe(q, n_probe=2, k=5).collect()}
    idx.append(second)
    assert idx.centroids() == cents  # append never touches the quantizer

    # grown index == the in-memory operator over the FULL corpus under
    # the same quantizer (assignment is deterministic, so append(half)
    # is indistinguishable from having indexed everything at build)
    got = {tuple(r) for r in idx.probe(q, n_probe=2, k=5).collect()}
    want = {
        tuple(r)
        for r in ivf_ann_topk(
            q, e, "vec_id", "embedding", cents, n_probe=2, k=5
        ).collect()
    }
    assert got == want and len(got) > 0
    assert got != before  # the appended half participates

    # appended mass visible; totals add up
    sizes = {r["cell"]: r["n_vectors"] for r in idx.cell_sizes().collect()}
    assert sum(sizes.values()) == e.count()

    # compact() keeps the cell layout: cell= directories survive, probes
    # are unchanged, and a later append still reads (a flat rewrite
    # would demote cell to a data column and break that read with
    # conflicting directory structures)
    idx.compact(num_files=2)
    index_dir = tmp_path / "ivf_grow" / "index"
    assert any(p.name.startswith("cell=") for p in index_dir.iterdir())
    assert {tuple(r) for r in idx.probe(q, n_probe=2, k=5).collect()} == got
    idx.append(
        e.filter(F.col("vec_id") < 3).withColumn("vec_id", F.col("vec_id") + 10**6)
    )
    sizes = {r["cell"]: r["n_vectors"] for r in idx.cell_sizes().collect()}
    assert sum(sizes.values()) == e.count() + 3

    # un-built path fails fast
    empty = IvfIndex(e.sparkSession, str(tmp_path / "ivf_nope"))
    assert not empty.exists()
    with pytest.raises(FileNotFoundError, match="build\\(corpus\\)"):
        empty.append(second)


def _ref_semantic_dedup(rows, centroids, threshold):
    """Brute-force reference of SemDeDup's exact rule: nearest-centroid
    assignment (squared euclid, ties to the lower index), rank within
    cell by (centroid_sim ASC, id ASC), drop iff ANY earlier-ranked
    member is >= threshold cosine-similar, blaming the lowest-ranked
    such member."""
    import math

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    cells = {}
    for i, v in rows:
        d = min(
            (sum((x - c) ** 2 for x, c in zip(v, cen)), j)
            for j, cen in enumerate(centroids)
        )[1]
        cells.setdefault(d, []).append((i, v))
    out = {}
    for cell, members in cells.items():
        ranked = sorted(
            members, key=lambda iv: (cos(iv[1], centroids[cell]), iv[0])
        )
        for pos, (i, v) in enumerate(ranked):
            dup_of = None
            for j, w in ranked[:pos]:
                if cos(v, w) >= threshold:
                    dup_of = j
                    break
            out[i] = (cell, dup_of)
    return out


def test_semantic_dedup_matches_brute_force(clustered_vectors):
    """The distributed annotation equals the reference rule on the
    planted-cluster corpus, end to end: same cells, same drop set,
    same blame — and the operator is deterministic across runs."""
    from git_log_to_sqlite_spark.operators import kmeans_fit_sample, semantic_dedup

    e = clustered_vectors.select("vec_id", "embedding")
    cents = kmeans_fit_sample(e, "vec_id", "embedding", k=4, max_iter=10,
                              sample_size=64)
    rows = [(r["vec_id"], list(r["embedding"])) for r in e.collect()]
    want = _ref_semantic_dedup(rows, cents, threshold=0.9)

    got = {
        r["vec_id"]: (r["cell"], r["dup_of"], r["is_kept"])
        for r in semantic_dedup(e, "vec_id", "embedding", cents,
                                threshold=0.9).collect()
    }
    assert len(got) == len(rows)  # annotate-don't-filter: every row survives
    for i, (cell, dup_of) in want.items():
        assert got[i] == (cell, dup_of, int(dup_of is None)), i
    assert any(v[1] is not None for v in got.values())  # corpus has sem-dups

    again = {
        r["vec_id"]: (r["cell"], r["dup_of"], r["is_kept"])
        for r in semantic_dedup(e, "vec_id", "embedding", cents,
                                threshold=0.9).collect()
    }
    assert again == got

    # partitioning-invariant: rank is row_number over (csim, id) and
    # every similarity is a pure per-pair expression, so a different
    # physical layout must not move a single annotation
    shuffled = {
        r["vec_id"]: (r["cell"], r["dup_of"], r["is_kept"])
        for r in semantic_dedup(e.repartition(7), "vec_id", "embedding",
                                cents, threshold=0.9).collect()
    }
    assert shuffled == got


def test_semantic_dedup_chain_and_cell_scope(spark):
    """The paper's exact semantics on a planted 2-D corpus: (a) the
    upper-triangular rule drops a WHOLE chain a~b~c even when a !~ c,
    each member blaming its lowest-RANKED earlier neighbor (c blames
    b, not a — no transitive closure to the root, and b being itself
    dropped does not exempt c); (b) keep order is farthest-from-
    centroid-first (a, the farthest, is the survivor); (c) pairs
    never cross cells — an exact copy of a in the OTHER cell is
    kept (the documented recall limit)."""
    import math

    from git_log_to_sqlite_spark.operators import semantic_dedup

    def at(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    cents = [[1.0, 0.0], [-1.0, 0.0]]
    rows = [
        (1, at(20)),                      # cell 0, rank 1 (farthest)
        (2, at(10)),                      # ~ id 1 (cos10 ~ .985)
        (3, at(0)),                       # ~ id 2, but NOT ~ id 1 (cos20 ~ .94)
        (4, [-v for v in at(20)]),        # cell 1: mirror of id 1, kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["cell"], r["dup_of"], r["is_kept"])
        for r in semantic_dedup(df, "vec_id", "embedding", cents,
                                threshold=0.98).collect()
    }
    assert got[1] == (0, None, 1)
    assert got[2] == (0, 1, 0)
    assert got[3] == (0, 2, 0)  # blames b (nearest earlier), not the root
    assert got[4] == (1, None, 1)  # cross-cell twin survives by design


def test_assign_clusters_table_equals_literal_form(clustered_vectors):
    """The large-k assignment (centroids as a broadcast one-row DATA
    array) must equal the literal-plan form EXACTLY — same distances,
    same (distance, cell) struct tie-break — in both the direct-fold
    and the rounded dot-identity modes; and it must add no shuffle:
    the corpus never moves (the only non-broadcast exchanges are the
    k-row centroid side's SinglePartition collapse into the one-row
    array — O(k), not O(corpus); no hash/range partitioning of the
    corpus appears)."""
    from git_log_to_sqlite_spark.operators import (
        assign_clusters,
        assign_clusters_table,
        kmeans_fit_sample,
    )

    e = clustered_vectors.select("vec_id", "embedding")
    spark = e.sparkSession
    cents = kmeans_fit_sample(e, "vec_id", "embedding", k=4, max_iter=10,
                              sample_size=64)
    cdf = spark.createDataFrame(
        [(j, c) for j, c in enumerate(cents)],
        "cell int, centroid array<double>",
    )
    for rt in (None, 6):
        want = {
            (r["vec_id"], r["cluster"])
            for r in assign_clusters(e, "embedding", cents,
                                     round_to=rt).collect()
        }
        got_df = assign_clusters_table(e, "embedding", cdf, round_to=rt)
        got = {(r["vec_id"], r["cluster"]) for r in got_df.collect()}
        assert got == want and len({c for _, c in got}) == 4

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    corpus_shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
        or "Exchange rangepartitioning" in ln
        or "RoundRobin" in ln
    ]
    assert corpus_shuffles == [], corpus_shuffles


def test_semantic_dedup_table_centroids_equal_literal(clustered_vectors):
    """semantic_dedup with a centroid list (converted to the k-row
    model-state frame) and with a caller's (cell, centroid) DataFrame
    must produce the IDENTICAL annotation, including bit-identical
    centroid_sim, with and without the rounding knobs."""
    from git_log_to_sqlite_spark.operators import (
        kmeans_fit_sample,
        semantic_dedup,
    )

    e = clustered_vectors.select("vec_id", "embedding")
    spark = e.sparkSession
    cents = kmeans_fit_sample(e, "vec_id", "embedding", k=4, max_iter=10,
                              sample_size=64)
    cdf = spark.createDataFrame(
        [(j, c) for j, c in enumerate(cents)],
        "cell int, centroid array<double>",
    )
    for kw in ({}, {"round_to": 6, "dist_round_to": 6}):
        want = {
            tuple(r)
            for r in semantic_dedup(e, "vec_id", "embedding", cents,
                                    threshold=0.9, **kw).collect()
        }
        got = {
            tuple(r)
            for r in semantic_dedup(e, "vec_id", "embedding", cdf,
                                    threshold=0.9, **kw).collect()
        }
        assert got == want and len(got) == e.count()


def test_semantic_dedup_zero_norm_never_dropped(spark):
    """A zero-norm vector (failed encoder, empty input) makes every
    cosine involving it 0/0 = NaN, and Spark compares NaN LARGER than
    any number — unguarded, `sim >= threshold` would mark the zero
    vector a 'duplicate' of an arbitrary cell-mate. The nanvl guard
    must keep zero vectors (never dropped, never blamed, ranked last)
    while leaving real duplicates' annotations untouched."""
    import math

    from git_log_to_sqlite_spark.operators import semantic_dedup

    def at(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    cents = [[1.0, 0.0], [-1.0, 0.0]]
    rows = [
        (1, at(20)),
        (2, at(10)),            # genuine dup of 1 at threshold .98
        (3, [0.0, 0.0]),        # zero norm -> all its cosines NaN
        (4, [0.0, 0.0]),        # second zero vector: also kept (NaN pair)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["dup_of"], r["is_kept"])
        for r in semantic_dedup(df, "vec_id", "embedding", cents,
                                threshold=0.98).collect()
    }
    assert got[1] == (None, 1)
    assert got[2] == (1, 0)        # the real dup still drops
    assert got[3] == (None, 1)     # zero vectors are never semantic dups
    assert got[4] == (None, 1)     # ...even of each other (exact dedup's job)


def test_semantic_dedup_cell_stats_observation(spark):
    """The round-11 scale watch: semantic_dedup was the one pair stage
    without a cell-occupancy observable. Planted mega-cell — six
    vectors crowd cell 0, two sit in cell 1 — and the telemetry must
    report the EXACT candidate mass the upper-triangular join pays
    (sum d(d-1)/2 = 15 + 1), eagerly at operator-call time (readable
    BEFORE the annotation is consumed, the round-9 AQE-loss doctrine),
    while the annotation itself is unchanged by arming the valve
    (annotate-don't-cap: capping would void the paper's drop rule)."""
    import math

    from pyspark.sql import Observation

    from git_log_to_sqlite_spark.operators import semantic_dedup

    def at(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    cents = [[1.0, 0.0], [-1.0, 0.0]]
    rows = [(i, at(i * 3)) for i in range(6)]      # 0..15 deg: cell 0
    rows += [(10, at(180)), (11, at(177))]         # cell 1 pair
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    obs = Observation("semdedup_cells")
    armed = semantic_dedup(df, "vec_id", "embedding", cents,
                           threshold=0.9, observation=obs)
    m = obs.get  # eager: already complete, no action on `armed` yet
    assert m["cells"] == 2
    assert m["max_cell_rows"] == 6
    assert m["pair_mass"] == 15 + 1
    plain = semantic_dedup(df, "vec_id", "embedding", cents, threshold=0.9)
    assert sorted(map(tuple, armed.collect())) == \
        sorted(map(tuple, plain.collect()))

    # the large-k table-centroids path shares the ranked frame, so the
    # same valve must fire with identical metrics there
    cdf = spark.createDataFrame(
        [(j, c) for j, c in enumerate(cents)],
        "cell int, centroid array<double>",
    ).repartition(1)
    obs_t = Observation("semdedup_cells_table")
    semantic_dedup(df, "vec_id", "embedding", cdf,
                   threshold=0.9, observation=obs_t)
    assert obs_t.get == m


def test_semantic_dedup_matches_duckdb_twin(spark, oracle_sf_dir):
    """Cross-engine determinism of the FULL SemDeDup annotation under
    the rounding knobs (round_to=6, dist_round_to=6) with pinned
    centroids — the sim_ann_ivf_assign evidence shape, pre-staging
    this operator's round-12 driver-gate row: cell assignment uses
    the rounded dot-identity distance, both cosines round to 6 dp
    before every comparison and ordering, so DuckDB reproduces cells,
    centroid_sim, the whole drop set, and every blame id exactly.
    Threshold 0.3 because the synthetic embeddings are near-random
    (top cos ~0.3): a semantic threshold would drop nothing and the
    test would pass vacuously — asserted non-vacuous below."""
    import math

    from git_log_to_sqlite_spark.operators import semantic_dedup

    from .oracle_harness import compare, duck_connection

    cent_ids = (3, 11, 19, 27)
    thr = 0.3
    cos6 = (
        "ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
        "  * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)"
    )
    csim6 = (
        "ROUND(list_dot_product(e.embedding::DOUBLE[], c.c)"
        " / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
        "  * sqrt(list_dot_product(c.c, c.c))), 6)"
    )
    sql = f"""
    WITH cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
             embedding::DOUBLE[] AS c
      FROM embeddings WHERE vec_id IN {cent_ids}),
    sqd AS (
      SELECT e.vec_id, c.cell,
             ROUND(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
                   - 2 * list_dot_product(e.embedding::DOUBLE[], c.c)
                   + list_dot_product(c.c, c.c), 6) AS d
      FROM embeddings e CROSS JOIN cents c),
    asg AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rnk
        FROM sqd) t WHERE rnk = 1),
    ranked AS (
      SELECT a.vec_id, a.cell, {csim6} AS csim,
             ROW_NUMBER() OVER (PARTITION BY a.cell
                                ORDER BY {csim6} ASC, a.vec_id ASC) AS rnk
      FROM asg a
      JOIN embeddings e ON e.vec_id = a.vec_id
      JOIN cents c ON c.cell = a.cell),
    drops AS (
      SELECT rb.vec_id, MIN(ra.rnk) AS _r
      FROM ranked ra JOIN ranked rb
        ON ra.cell = rb.cell AND ra.rnk < rb.rnk
      JOIN embeddings a ON a.vec_id = ra.vec_id
      JOIN embeddings b ON b.vec_id = rb.vec_id
      WHERE {cos6} >= {thr}
      GROUP BY rb.vec_id),
    blame AS (
      SELECT d.vec_id, r.vec_id AS dup_of
      FROM drops d JOIN ranked rd ON rd.vec_id = d.vec_id
      JOIN ranked r ON r.cell = rd.cell AND r.rnk = d._r)
    SELECT r.vec_id, r.cell, r.csim AS centroid_sim, b.dup_of,
           CAST(b.dup_of IS NULL AS INT) AS is_kept
    FROM ranked r LEFT JOIN blame b USING (vec_id)
    """
    e = spark.read.parquet(f"{oracle_sf_dir}/embeddings.parquet")
    cent_rows = (
        e.filter(F.col("vec_id").isin(*cent_ids)).orderBy("vec_id").collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in cent_rows]
    df = semantic_dedup(e, "vec_id", "embedding", cents, threshold=thr,
                        round_to=6, dist_round_to=6)
    con = duck_connection(oracle_sf_dir)
    try:
        ok, msg = compare(df, con, sql, name="semantic_dedup_twin")
        assert ok, msg
    finally:
        con.close()
    assert df.filter(F.col("is_kept") == 0).count() > 0  # non-vacuous


def test_ivf_append_rejects_wrong_dim(clustered_vectors, tmp_path):
    """append validates EVERY vector's dimensionality against the
    stored quantizer inside the assignment projection: zip_with pads
    mismatched dims with nulls, so an unchecked wrong-dim vector
    would be cell-assigned by a null-poisoned distance and corrupt
    the index permanently. The guard is per-row (a sampled pre-check
    passes a mixed batch whose FIRST row is fine), and a failed
    append must leave the index untouched — the job aborts before
    the parquet commit."""
    from git_log_to_sqlite_spark.operators import IvfIndex

    e = clustered_vectors.select("vec_id", "embedding")
    spark = e.sparkSession
    idx = IvfIndex(spark, str(tmp_path / "ivf_dim"))
    idx.build(e, k=4, max_iter=5, fit_sample_size=64)
    before = {r["cell"]: r["n_vectors"] for r in idx.cell_sizes().collect()}
    dim = len(idx.centroids()[0])

    # mixed batch: first row valid, second row one dim short — the
    # case a sampled first()-check waves through
    mixed = spark.createDataFrame(
        [
            (100001, [0.5] * dim),
            (100002, [0.5] * (dim - 1)),
        ],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="quantizer dim"):
        idx.append(mixed)
    after = {r["cell"]: r["n_vectors"] for r in idx.cell_sizes().collect()}
    assert after == before  # failed append committed nothing

    # right LENGTH but a NULL element — zip_with would null-poison the
    # distance and array_min would pick a meaningless cell; the guard
    # counts NON-NULL elements, so this must also fail pre-commit
    nullelem = spark.createDataFrame(
        [(100003, [0.5] * (dim - 1) + [None])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="quantizer dim"):
        idx.append(nullelem)
    assert {
        r["cell"]: r["n_vectors"] for r in idx.cell_sizes().collect()
    } == before

    # the valid-only batch still appends
    idx.append(mixed.filter(F.size("embedding") == dim))
    assert sum(
        r["n_vectors"] for r in idx.cell_sizes().collect()
    ) == sum(before.values()) + 1


def test_ann_probe_chunking_is_exact(clustered_vectors, tmp_path):
    """The documented escape hatch of the probe-side broadcast HARD
    CONTRACT (IvfIndex.probe / bucketed_ann_topk force-broadcast the
    query batch, so oversized batches must be chunked): per-query
    top-k is independent across chunks, so chunked probes unioned
    must equal the single-batch probe EXACTLY — for both the
    persisted index and the bucketed operator."""
    from git_log_to_sqlite_spark.operators import IvfIndex, bucketed_ann_topk

    e = clustered_vectors
    idx = IvfIndex(e.sparkSession, str(tmp_path / "ivf_chunk"))
    idx.build(e.select("vec_id", "embedding"), k=4, max_iter=5)
    q = e.filter(F.col("vec_id") < 12).select("vec_id", "embedding")
    whole = {tuple(r) for r in idx.probe(q, n_probe=2, k=5).collect()}
    chunked = set()
    for lo, hi in ((0, 6), (6, 12)):
        part = q.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        chunked |= {tuple(r) for r in idx.probe(part, n_probe=2, k=5).collect()}
    assert chunked == whole and len(whole) > 0

    qb = e.filter(F.col("vec_id") < 12)
    whole_b = {
        tuple(r)
        for r in bucketed_ann_topk(
            qb, e, "vec_id", "embedding", "cluster", k=5
        ).collect()
    }
    chunked_b = set()
    for lo, hi in ((0, 6), (6, 12)):
        part = qb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        chunked_b |= {
            tuple(r)
            for r in bucketed_ann_topk(
                part, e, "vec_id", "embedding", "cluster", k=5
            ).collect()
        }
    assert chunked_b == whole_b and len(whole_b) > 0


def test_lsh_bucket_keeps_clusters_together(clustered_vectors):
    from git_log_to_sqlite_spark.operators import lsh_bucket

    e = clustered_vectors.withColumn(
        "bucket", lsh_bucket(F.col("embedding"), dims=16, num_planes=3)
    )
    rows = e.select("vec_id", "cluster", "bucket").collect()
    from collections import Counter

    # determinism: re-computing assigns identical buckets
    again = {r["vec_id"]: r["bucket"] for r in e.select("vec_id", "bucket").collect()}
    assert all(again[r["vec_id"]] == r["bucket"] for r in rows)

    # a cluster whose center sits near a hyperplane legitimately splits
    # (single-probe LSH), so assert the AVERAGE majority share across
    # clusters beats random bucketing (1/8 per bucket) by a wide margin
    shares = []
    for c in range(4):
        buckets = Counter(r["bucket"] for r in rows if r["cluster"] == c)
        shares.append(buckets.most_common(1)[0][1] / sum(buckets.values()))
    assert sum(shares) / len(shares) > 0.55, shares


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [(1, 100, 10), (1, 250, 11), (2, 50, 12)], "k long, ts long, qid long"
    )
    right = spark.createDataFrame(
        [(1, 100, 1.0, 1), (1, 200, 2.0, 2), (1, 100, 9.0, 3), (2, 60, 3.0, 4)],
        "k long, ts long, v double, tie long",
    )
    out = asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts",
        value_cols=["v"], tie_col="tie",
    )
    got = {r["qid"]: r["v_asof"] for r in out.collect()}
    assert got[10] == 9.0  # ts=100 tie -> highest tie id wins
    assert got[11] == 2.0  # latest prior event
    assert got[12] is None  # no event at/before ts=50


def test_multimodal_plumbing(docs):
    """as_media wraps a string column as a binary payload (UTF-8 bytes)
    with typed metadata, one media row per input row."""
    media = as_media(docs, "doc_id", "text", mime="text/plain")
    assert dict(media.dtypes) == {
        "media_id": "bigint",
        "payload": "binary",
        "mime_type": "string",
        "byte_len": "int",
    }
    rows = {r["media_id"]: r for r in media.collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 6}
    for doc_id, text in docs.collect():
        r = rows[doc_id]
        assert bytes(r["payload"]) == text.encode("utf-8")
        assert r["byte_len"] == len(text.encode("utf-8"))
        assert r["mime_type"] == "text/plain"


def test_salted_aggregate_matches_plain(spark):
    """Salting must be invisible in the result: same groups, same
    counts/sums/extrema as the unsalted plan."""
    from git_log_to_sqlite_spark.operators import salted_aggregate

    rows = [(i, "hot" if i % 10 else f"cold{i}", i % 7) for i in range(1, 401)]
    df = spark.createDataFrame(rows, "id long, k string, v long")
    got = {
        r["k"]: (r["n"], r["total"], r["vmin"], r["vmax"])
        for r in salted_aggregate(
            df, keys=["k"],
            aggs={"n": ("count", "id"), "total": ("sum", "v"),
                  "vmin": ("min", "v"), "vmax": ("max", "v")},
            salt_from="id", buckets=8,
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["total"], r["vmin"], r["vmax"])
        for r in df.groupBy("k").agg(
            F.count("id").alias("n"), F.sum("v").alias("total"),
            F.min("v").alias("vmin"), F.max("v").alias("vmax"),
        ).collect()
    }
    assert got == want


def test_salted_aggregate_rejects_non_mergeable(spark):
    from git_log_to_sqlite_spark.operators import salted_aggregate

    df = spark.createDataFrame([(1, "a", 1.0)], "id long, k string, v double")
    with pytest.raises(ValueError, match="not mergeable"):
        salted_aggregate(df, ["k"], {"a": ("avg", "v")}, salt_from="id")


def test_multiprobe_beats_single_probe_recall(clustered_vectors):
    """Multi-probe LSH must recover at least the single-probe recall
    (it searches a strict superset of cells) and clear an absolute
    floor on planted clusters."""
    from git_log_to_sqlite_spark.operators import lsh_bucket, multiprobe_ann_topk

    e = clustered_vectors.withColumn(
        "lsh", lsh_bucket(F.col("embedding"), dims=16, num_planes=3)
    )
    q = e.filter(F.col("vec_id") < 12)
    exact = brute_force_topk(q, e, "vec_id", "embedding", k=5)
    single = bucketed_ann_topk(q, e, "vec_id", "embedding", "lsh", k=5)
    multi = multiprobe_ann_topk(
        q, clustered_vectors, "vec_id", "embedding", dims=16, num_planes=3, k=5
    )
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    sg = {(r["query_id"], r["neighbor_id"]) for r in single.collect()}
    mp = {(r["query_id"], r["neighbor_id"]) for r in multi.collect()}
    r_single = len(ex & sg) / len(ex)
    r_multi = len(ex & mp) / len(ex)
    assert r_multi >= r_single, (r_multi, r_single)
    # measured: single-probe 0.45, multi-probe 0.95 on this fixture
    assert r_multi > 0.85, f"multiprobe recall too low: {r_multi:.2f}"


def test_asof_join_forward_and_tolerance(spark):
    left = spark.createDataFrame(
        [(1, 100, 10), (1, 250, 11), (2, 500, 12)], "k long, ts long, qid long"
    )
    right = spark.createDataFrame(
        [(1, 120, 1.0, 1), (1, 260, 2.0, 2), (2, 900, 3.0, 3)],
        "k long, ts long, v double, tie long",
    )
    fwd = asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts",
        value_cols=["v"], tie_col="tie", direction="forward",
    )
    got = {r["qid"]: r["v_asof"] for r in fwd.collect()}
    assert got == {10: 1.0, 11: 2.0, 12: 3.0}  # nearest following event

    tol = asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts",
        value_cols=["v"], tie_col="tie", direction="forward",
        tolerance_seconds=50,
    )
    got_tol = {r["qid"]: r["v_asof"] for r in tol.collect()}
    # qid=12's match is 400s away -> nulled by the 50s tolerance
    assert got_tol == {10: 1.0, 11: 2.0, 12: None}


def test_ordered_running_sum_matches_global_window(spark):
    from pyspark.sql import Window

    # shuffled insert order + enough rows to span several range partitions
    rows = [((i * 7919) % 1000, (i % 13) + 1) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(11)
    got = ordered_running_sum(df, ["k"], "v", out_col="cum", num_partitions=8)
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = df.select("k", "v", F.sum("v").over(w).alias("cum"))
    assert sorted(map(tuple, got.select("k", "v", "cum").collect())) == sorted(
        map(tuple, want.collect())
    )
    # the data-sized windows must all carry a partition spec (the local
    # window partitions by __ordered_pid). Round 16: numeric-keyed
    # calls use the VALUE-BUCKETED form — a pinned (lazily cached)
    # frame with a broadcast (min,max) attach — instead of the
    # localCheckpoint boundary, whose eager=False was NOT lazy under
    # AQE (upstream stages materialized at construction) and whose
    # LogicalRDD severed Catalyst's view of the pipeline.
    plan = got._jdf.queryExecution().executedPlan().toString()
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l.lower()]
    assert any("__ordered_pid" in s for s in specs)
    # the pinned (lazily cached) bucketed frame marks the new path —
    # the retired checkpoint form had no InMemoryRelation. (A bare
    # "no ExistingRDD" pin is wrong HERE: this test's createDataFrame
    # input itself scans as ExistingRDD; the parquet-input pins in
    # test_plans.py carry that stronger assertion.)
    assert "inmemory" in plan.lower()


def test_ordered_numeric_construction_is_lazy(spark):
    """Constructing an ordered op (and the composites built on it)
    fires ZERO Spark jobs, for numeric and for string first keys. The
    retired localCheckpoint(eager=False) form was not lazy under AQE
    (Dataset.checkpoint -> queryExecution.toRdd ->
    AdaptiveSparkPlanExec materializes every upstream stage at
    construction)."""
    import time

    tracker = spark.sparkContext._jsc.statusTracker()
    df = spark.createDataFrame([(i, 1) for i in range(200)], "k long, v long")
    text = spark.createDataFrame(
        [(f"{i * 7919 % 200:040x}", i % 3) for i in range(200)], "h string, pos int"
    )
    ordered_running_sum(df, ["k"], "v")  # warm (pin registry, py4j)
    ordered_row_number(text, ["h", "pos"], out_col="id")
    before = len(tracker.getJobIdsForGroup(None))
    ordered_running_sum(df, ["k"], "v")
    ordered_row_number(text, ["h", "pos"], out_col="id")
    time.sleep(0.5)  # async subquery futures would land here
    assert len(tracker.getJobIdsForGroup(None)) == before


def test_ordered_bucketed_edge_keys_match_global_window(spark):
    """Null / NaN / duplicated / negative keys through the
    value-bucketed path must equal the global-window reference —
    bucketing is monotone so ANY bounds give the same cum values."""
    from pyspark.sql import Window

    rows = [
        (None, 1.0), (float("nan"), 3.0), (2.5, 1.0), (1.5, 2.0),
        (-7.25, 4.0), (0.0, 1.0),
    ]
    df = spark.createDataFrame(rows, "k double, v double")
    got = {
        (str(r["k"]), r["cum"])
        for r in ordered_running_sum(df, ["k"], "v", out_col="cum").collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        (str(r["k"]), r["cum"])
        for r in df.select("k", F.sum("v").over(w).alias("cum")).collect()
    }
    assert got == want


def test_ordered_null_keys_without_nan_take_bucket_zero(spark):
    """Null first-order keys with NO NaN in the frame — the round-16
    edge test's NaN row poisons max into NaN, collapsing EVERY row
    into one bucket, so it never exercised the null pid branch on a
    healthy multi-bucket range. Without the explicit
    ``when(key.isNull(), 0)`` branch, ``least(NULL, n-1)`` SKIPS the
    null and returns ``n-1``: nulls land in the TOP bucket while the
    local window sorts them FIRST, so their running sums would count
    every non-null row's contribution as an offset — wrong results,
    not just imbalance."""
    from pyspark.sql import Window

    rows = [(None, 10.0), (None, 20.0)] + [
        (float(i), 1.0) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "k double, v double").repartition(7)
    got = {
        (str(r["k"]), r["cum"])
        for r in ordered_running_sum(
            df, ["k", "v"], "v", out_col="cum", num_partitions=8
        ).collect()
    }
    w = Window.orderBy("k", "v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        (str(r["k"]), r["cum"])
        for r in df.select("k", F.sum("v").over(w).alias("cum")).collect()
    }
    assert got == want
    # the two null rows sort first: their cums are 10 and 30, and no
    # non-null row's offset may include them twice or miss them
    assert ("None", 10.0) in got and ("None", 30.0) in got


def test_ordered_all_equal_keys_single_bucket_still_correct(spark):
    """Degenerate range (every first-order key equal) collapses to one
    bucket — correct, just unparallel; the tie-break columns keep the
    total order."""
    from pyspark.sql import Window

    rows = [(7, i, 1) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, t long, v long").repartition(5)
    got = ordered_running_sum(df, ["k", "t"], "v", out_col="cum")
    w = Window.orderBy("k", "t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = df.select("k", "t", F.sum("v").over(w).alias("cum"))
    assert sorted(map(tuple, got.select("k", "t", "cum").collect())) == sorted(
        map(tuple, want.collect())
    )


def test_ordered_row_number_matches_global_window(spark):
    from pyspark.sql import Window

    rows = [(f"h{(i * 31) % 200:03d}", i % 5) for i in range(1000)]
    df = spark.createDataFrame(rows, "h string, pos int").repartition(9)
    got = ordered_row_number(df, ["h", "pos"], out_col="id", num_partitions=8)
    w = Window.orderBy("h", "pos")
    want = df.select("h", "pos", F.row_number().over(w).cast("long").alias("id"))
    assert sorted(map(tuple, got.select("h", "pos", "id").collect())) == sorted(
        map(tuple, want.collect())
    )


def test_image_near_dup_planted_twins(spark):
    """dHash + hamming_pairs over a raw-grid payload format (the
    grid_fn seam makes the perceptual-hash math testable without
    Pillow): planted near-identical images — a twin with exactly 2
    flipped difference bits, an exact copy, a 4-bit variant, and an
    unrelated image — must pair exactly as a brute-force Hamming scan
    over the signatures says, with the twins inside max_hamming=3 and
    everything else outside."""
    import random

    from git_log_to_sqlite_spark.operators.multimodal import (
        image_dhash,
        image_near_dup_pairs,
    )

    rows, cols = 6, 10
    W = cols + 1
    rng = random.Random(3)
    base = [rng.choice([40, 200]) for _ in range(rows * W)]

    def flip_rows(g, which):
        out = list(g)
        for r in which:
            prev = out[r * W + W - 2]
            last = out[r * W + W - 1]
            # invert the row's final comparison (last cell touches
            # only that one bit)
            out[r * W + W - 1] = 30 if last > prev else 210
        return out

    imgs = {
        1: base,
        2: flip_rows(base, [0, 1]),           # hamming 2 vs img 1
        3: flip_rows(base, [2, 3, 4, 5]),     # hamming 4 vs 1, 6 vs 2
        4: [rng.choice([40, 200]) for _ in range(rows * W)],  # unrelated
        5: list(base),                        # exact copy: hamming 0
    }
    media = spark.createDataFrame(
        [(i, bytes(g), "image/raw", len(g)) for i, g in imgs.items()],
        "media_id long, payload binary, mime_type string, byte_len int",
    )
    grid_fn = lambda p, r, c: list(p[: r * (c + 1)])  # noqa: E731

    sigs = {
        r["media_id"]: r["dhash"]
        for r in image_dhash(media, rows, cols, grid_fn=grid_fn).collect()
    }
    assert sigs[1] == sigs[5]
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sigs[1], sigs[2]) == 2
    assert ham(sigs[1], sigs[3]) == 4
    assert ham(sigs[2], sigs[3]) == 6

    want = {
        (a, b): ham(sigs[a], sigs[b])
        for a in sigs
        for b in sigs
        if a < b and ham(sigs[a], sigs[b]) <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_near_dup_pairs(
            media, rows, cols, max_hamming=3, grid_fn=grid_fn
        ).collect()
    }
    assert got == want
    assert got[(1, 2)] == 2 and got[(1, 5)] == 0
    assert (1, 3) not in got and (2, 3) not in got


def test_audio_near_dup_planted_twins(spark):
    """Haitsma-Kalker fingerprint + hamming_pairs over a raw-energy
    payload format (the energy_fn seam makes the bit math testable
    without an audio decoder): operator signatures must equal a pure-
    python reference of the same derivation, volume shifts must be
    invariant (the double difference cancels level), and the pair set
    must equal a brute-force Hamming scan."""
    import random

    from git_log_to_sqlite_spark.operators.multimodal import (
        audio_fingerprint,
        audio_near_dup_pairs,
    )

    F_, B = 7, 11
    rng = random.Random(11)

    def clip():
        return [[rng.randint(0, 200) for _ in range(B)] for _ in range(F_)]

    def ref_fp(e):
        h = 0
        for f in range(1, F_):
            for b in range(B - 1):
                d = (e[f][b] - e[f][b + 1]) - (e[f - 1][b] - e[f - 1][b + 1])
                h = (h << 1) | (1 if d > 0 else 0)
        return h

    base = clip()
    louder = [[v + 40 for v in row] for row in base]  # level shift
    perturbed = [list(row) for row in base]
    perturbed[3][4] += 90  # local spectral change -> a few bit flips
    clips = {1: base, 2: louder, 3: perturbed, 4: clip(), 5: clip()}
    media = spark.createDataFrame(
        [
            (i, bytes(v for row in e for v in row), "audio/raw",
             F_ * B)
            for i, e in clips.items()
        ],
        "media_id long, payload binary, mime_type string, byte_len int",
    )
    energy_fn = lambda p, fr, ba: [  # noqa: E731 — parse the raw grid
        [float(p[f * ba + b]) for b in range(ba)] for f in range(fr)
    ]
    got_sigs = {
        r["media_id"]: r["afp"]
        for r in audio_fingerprint(media, F_, B, energy_fn=energy_fn).collect()
    }
    assert got_sigs == {i: ref_fp(e) for i, e in clips.items()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert got_sigs[1] == got_sigs[2]  # volume-invariant
    assert 1 <= ham(got_sigs[1], got_sigs[3]) <= 6  # local change, few bits

    k = max(3, ham(got_sigs[1], got_sigs[3]))
    want = {
        (a, b): ham(got_sigs[a], got_sigs[b])
        for a in clips
        for b in clips
        if a < b and ham(got_sigs[a], got_sigs[b]) <= k
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in audio_near_dup_pairs(
            media, F_, B, max_hamming=k, energy_fn=energy_fn
        ).collect()
    }
    assert got == want and (1, 2) in got

    with pytest.raises(ValueError, match="60-bit"):
        audio_fingerprint(media, frames=9, bands=10)
    with pytest.raises(ValueError, match="frames >= 2"):
        audio_fingerprint(media, frames=1, bands=11)


def test_video_near_dup_planted_twins(spark):
    """Frame-vote video fingerprint + hamming_pairs over a raw-grid
    frame format (frame_bytes=66 makes every payload slice one 6x11
    luma grid, so the grid_fn seam parses it directly): the per-frame
    hashes must equal image_dhash of the same chunks (the shared
    _grid_dhash cannot drift between modalities), the clip signature
    must equal a pure-python majority-vote reference, and planted
    twins — a re-encoded copy, a trimmed clip, a minority-edited
    clip, a majority-edited clip — must pair exactly as a
    brute-force Hamming scan over the clip signatures says."""
    import random

    from git_log_to_sqlite_spark.operators.multimodal import (
        image_dhash,
        video_fingerprint,
        video_frame_dhash,
        video_near_dup_pairs,
    )

    rows, cols = 6, 10
    W = cols + 1
    fb = rows * W  # 66: one frame slice == one raw grid
    rng = random.Random(7)
    base = [rng.choice([40, 200]) for _ in range(rows * W)]
    other = [rng.choice([40, 200]) for _ in range(rows * W)]

    def flip_rows(g, which):
        out = list(g)
        for r in which:
            prev = out[r * W + W - 2]
            last = out[r * W + W - 1]
            out[r * W + W - 1] = 30 if last > prev else 210  # 1 bit per row
        return out

    edited = flip_rows(base, [0, 1])  # hamming 2 vs base, per frame
    clips = {
        1: [base] * 9,
        2: [base] * 9,                          # re-encoded: same frames
        3: [base] * 5,                          # trimmed: fewer frames
        4: [edited] * 5 + [base] * 4,           # majority edited -> 2 bits
        5: [base] * 7 + [edited] * 2,           # minority edited -> 0 bits
        6: [other] * 9,                         # unrelated
    }
    media = spark.createDataFrame(
        [
            (i, b"".join(bytes(g) for g in frames), "video/raw", fb * len(frames))
            for i, frames in clips.items()
        ],
        "media_id long, payload binary, mime_type string, byte_len int",
    )
    grid_fn = lambda p, r, c: list(p[: r * (c + 1)])  # noqa: E731

    # per-frame hashes == image_dhash of the same chunks, frame counts right
    frame_rows = video_frame_dhash(
        media, rows, cols, frame_bytes=fb, grid_fn=grid_fn
    ).collect()
    got_frames = {}
    for r in frame_rows:
        got_frames.setdefault(r["media_id"], {})[r["frame_no"]] = r["dhash"]
    assert {i: len(f) for i, f in got_frames.items()} == {
        i: len(frames) for i, frames in clips.items()
    }
    still = spark.createDataFrame(
        [(0, bytes(base), "image/raw", fb), (1, bytes(edited), "image/raw", fb)],
        "media_id long, payload binary, mime_type string, byte_len int",
    )
    stills = {
        r["media_id"]: r["dhash"]
        for r in image_dhash(still, rows, cols, grid_fn=grid_fn).collect()
    }
    assert got_frames[1][0] == stills[0] and got_frames[4][0] == stills[1]

    # clip signature == pure-python majority vote of the frame hashes
    def ref_vote(hashes):
        n = len(hashes)
        v = 0
        for k in range(rows * cols):
            if 2 * sum((h >> k) & 1 for h in hashes) > n:
                v |= 1 << k
        return v

    want_sigs = {
        i: ref_vote([got_frames[i][f] for f in sorted(got_frames[i])])
        for i in clips
    }
    got_sigs = {
        r["media_id"]: r["vfp"]
        for r in video_fingerprint(
            media, rows, cols, frame_bytes=fb, grid_fn=grid_fn
        ).collect()
    }
    assert got_sigs == want_sigs
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert got_sigs[1] == got_sigs[2] == got_sigs[3]  # re-encode + trim survive
    assert got_sigs[5] == got_sigs[1]  # minority edit out-voted
    assert ham(got_sigs[1], got_sigs[4]) == 2  # majority edit flips its bits

    # pair set == brute-force Hamming scan over the clip signatures
    want = {
        (a, b): ham(got_sigs[a], got_sigs[b])
        for a in clips
        for b in clips
        if a < b and ham(got_sigs[a], got_sigs[b]) <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in video_near_dup_pairs(
            media, rows, cols, frame_bytes=fb, max_hamming=3, grid_fn=grid_fn
        ).collect()
    }
    assert got == want
    assert got[(1, 2)] == 0 and got[(1, 3)] == 0 and got[(1, 4)] == 2
    assert all(6 not in pair for pair in got)

    # exact ties vote to 0 (deterministic for even frame counts): two
    # frames disagreeing on 6 bits -> those bits all land 0
    tie = spark.createDataFrame(
        [(9, bytes(base) + bytes(flip_rows(base, range(rows))), "video/raw", 2 * fb)],
        "media_id long, payload binary, mime_type string, byte_len int",
    )
    [tie_row] = video_fingerprint(
        tie, rows, cols, frame_bytes=fb, grid_fn=grid_fn
    ).collect()
    tie_hashes = {
        r["frame_no"]: r["dhash"]
        for r in video_frame_dhash(
            tie, rows, cols, frame_bytes=fb, grid_fn=grid_fn
        ).collect()
    }
    assert tie_row["vfp"] == ref_vote([tie_hashes[0], tie_hashes[1]])
    disagree = tie_hashes[0] ^ tie_hashes[1]
    assert disagree != 0 and (tie_row["vfp"] & disagree) == 0

    # short payload (< one frame) is its own single frame
    short = spark.createDataFrame(
        [(10, b"abc", "video/raw", 3)],
        "media_id long, payload binary, mime_type string, byte_len int",
    )
    assert video_frame_dhash(short, rows, cols, frame_bytes=fb).count() == 1

    with pytest.raises(ValueError, match="60-bit"):
        video_fingerprint(media, rows=8, cols=10)


def test_grid_dhash_batch_equals_scalar():
    """The vectorized batch hasher (the Arrow-batch hot path) must be
    bit-identical to the scalar reference on random grids, including
    equal-luma plateaus (strict > on both paths), over-long grids
    (sliced like the scalar form's indexing), and empty batches."""
    import random

    from git_log_to_sqlite_spark.operators.multimodal import (
        _grid_dhash,
        _grid_dhash_batch,
    )

    rng = random.Random(17)
    for rows, cols in ((6, 10), (3, 4), (1, 1)):
        n = rows * (cols + 1)
        grids = [
            [rng.choice([0, 1, 40, 200, 255]) for _ in range(n)]
            for _ in range(50)
        ]
        grids.append([7] * n)  # all-equal plateau -> hash 0
        assert _grid_dhash_batch(grids, rows, cols) == [
            _grid_dhash(g, rows, cols) for g in grids
        ]
    over = [[rng.randrange(256) for _ in range(100)] for _ in range(5)]
    assert _grid_dhash_batch(over, 6, 10) == [_grid_dhash(g, 6, 10) for g in over]
    assert _grid_dhash_batch([], 6, 10) == []
    # the zero-copy BYTES fast path (exact-length bytes grids — the
    # stub's and the PIL provider's output) must agree with both the
    # scalar reference and the list fallback on the same values
    bgrids = [bytes(rng.randrange(256) for _ in range(66)) for _ in range(64)]
    want = [_grid_dhash(g, 6, 10) for g in bgrids]
    assert _grid_dhash_batch(bgrids, 6, 10) == want
    assert _grid_dhash_batch([list(g) for g in bgrids], 6, 10) == want
    # a mixed batch (one list grid) must drop to the fallback, not crash
    assert _grid_dhash_batch([bgrids[0], list(bgrids[1])], 6, 10) == want[:2]
    # fractional lumas (a custom averaging grid_fn) must not truncate:
    # 1.5 > 1.2 is a set bit the int cast would erase
    fr = [1.2, 1.5] + [0.0] * 64
    got_fr = _grid_dhash_batch([fr], 6, 10)
    assert got_fr == [_grid_dhash(fr, 6, 10)]
    assert got_fr[0] & (1 << 59)  # the (0,0) comparison survived


def _aligned_run_lengths(sa, sb):
    """Brute-force reference shared by the video-scene and
    audio-segment tests: lengths of every maximal run of equal
    elements between sequences ``sa`` and ``sb`` at a fixed alignment,
    across all diagonals."""
    out = []
    for diag in range(-len(sb) + 1, len(sa)):
        run = 0
        for pb in range(len(sb)):
            pa = pb + diag
            if 0 <= pa < len(sa) and sa[pa] == sb[pb]:
                run += 1
            else:
                if run:
                    out.append(run)
                run = 0
        if run:
            out.append(run)
    return out


def _span_expect(seqs, min_run, window=1):
    """Expected (longest, n_cells) per pair from the run lengths: a
    run of t elements carries t - window + 1 complete window cells
    (none when t < window); pairs report iff the longest observable
    run >= min_run."""
    want = {}
    for x in seqs:
        for y in seqs:
            if x < y:
                runs = [t for t in _aligned_run_lengths(seqs[x], seqs[y])
                        if t >= window]
                if runs and max(runs) >= min_run:
                    want[(x, y)] = (
                        max(runs), sum(t - window + 1 for t in runs)
                    )
    return want


def test_video_shared_scene_pairs_planted(spark):
    """Scene-level video dedup (the substring machinery over per-frame
    hashes): a 6-frame scene spliced into an otherwise-different clip,
    an exact clip copy, and sub-threshold 1-2 frame overlaps must
    resolve exactly as a brute-force longest-aligned-run scan over the
    frame-hash sequences says; a degenerate black frame planted across
    the corpus is capped with honest telemetry, splitting only the
    runs that crossed it."""
    import random

    from pyspark.sql import Observation

    from git_log_to_sqlite_spark.operators.multimodal import (
        _grid_dhash,
        video_shared_scene_pairs,
    )

    rows_, cols = 6, 10
    fb = rows_ * (cols + 1)  # 66: one slice per frame grid
    rng = random.Random(23)

    def frame():
        return bytes(rng.choice([30, 90, 160, 220]) for _ in range(fb))

    a = [frame() for _ in range(12)]
    g = [frame() for _ in range(12)]
    clips = {
        1: a,
        2: g[0:3] + a[2:8] + [g[3]],       # 6-frame scene from clip 1
        3: [frame() for _ in range(8)],    # unrelated
        4: list(a),                        # exact copy: run 12
        5: [a[0], g[9], a[2], a[3], g[10]],  # runs of 1 and 2: below 4
    }
    media = spark.createDataFrame(
        [(i, b"".join(fs), "video/raw", fb * len(fs)) for i, fs in clips.items()],
        "media_id long, payload binary, mime_type string, byte_len int",
    )
    grid_fn = lambda p, r, c: p[: r * (c + 1)]  # noqa: E731 — raw grid

    # brute-force reference over the scalar frame-hash sequences
    seqs = {
        i: [_grid_dhash(f, rows_, cols) for f in fs] for i, fs in clips.items()
    }
    want = _span_expect(seqs, min_run=4)
    got = {
        (r["id_a"], r["id_b"]): (r["longest_run_frames"], r["n_shared_frames"])
        for r in video_shared_scene_pairs(
            media, rows_, cols, frame_bytes=fb, min_run_frames=4, grid_fn=grid_fn
        ).collect()
    }
    assert got == want
    assert got[(1, 2)][0] == 6 and got[(1, 4)][0] == 12 and got[(2, 4)][0] == 6
    assert (1, 5) not in got and not any(3 in p for p in got)

    # degenerate black frame, 16 per clip (80 rows) against a frame-hash
    # p92 of 4 (cap 40): the valve drops it and reports honest
    # telemetry; run recovery elsewhere is untouched
    black = bytes([0]) * fb
    capped_clips = {i: [black] * 8 + fs + [black] * 8 for i, fs in clips.items()}
    media_b = spark.createDataFrame(
        [(i, b"".join(fs), "video/raw", fb * len(fs))
         for i, fs in capped_clips.items()],
        "media_id long, payload binary, mime_type string, byte_len int",
    )
    obs = Observation()
    got_b = {
        (r["id_a"], r["id_b"]): r["longest_run_frames"]
        for r in video_shared_scene_pairs(
            media_b, rows_, cols, frame_bytes=fb, min_run_frames=4,
            cap_hot_keys=True, grid_fn=grid_fn, observation=obs,
        ).collect()
    }
    assert obs.get == {"frames_dropped": 1, "pairs_avoided": 80 * 79 // 2}
    # interior scenes survive the cap (black frames were at the edges)
    assert got_b[(1, 2)] == 6 and got_b[(1, 4)] == 12

    from git_log_to_sqlite_spark.operators import release_caches

    release_caches()  # the capped runs pin the frame table
    with pytest.raises(ValueError, match="min_run_frames"):
        video_shared_scene_pairs(media, min_run_frames=0)
    with pytest.raises(ValueError, match="requires cap_hot_keys"):
        video_shared_scene_pairs(media, observation=Observation())


def test_audio_shared_segment_pairs_planted(spark):
    """Segment-level audio dedup (the substring machinery over
    Haitsma-Kalker sub-fingerprint sequences): a 6-frame segment
    spliced into another clip, a volume-shifted full copy (the double
    difference cancels level, so every sub-fingerprint matches), and
    unrelated audio must resolve exactly as a brute-force longest-
    aligned-run scan; planted silence (the degenerate zero-word) is
    capped with honest telemetry."""
    import random

    from pyspark.sql import Observation

    from git_log_to_sqlite_spark.operators.multimodal import (
        audio_shared_segment_pairs,
    )

    BA = 11
    rng = random.Random(31)

    def fr():
        return [rng.randint(0, 200) for _ in range(BA)]

    a = [fr() for _ in range(14)]
    clips = {
        1: a,
        2: [fr(), fr(), fr()] + a[4:10] + [fr()],   # 6 copied frames
        3: [[v + 35 for v in row] for row in a],    # louder full copy
        4: [fr() for _ in range(10)],               # unrelated
    }

    def payload(frames):
        return bytes(v for row in frames for v in row)

    media = spark.createDataFrame(
        [(i, payload(fs), "audio/raw", BA * len(fs)) for i, fs in clips.items()],
        "media_id long, payload binary, mime_type string, byte_len int",
    )
    energy = lambda p, fb, ba: [  # noqa: E731 — parse raw frame rows
        [float(p[f * ba + b]) for b in range(ba)] for f in range(len(p) // ba)
    ]

    def subfps(e):
        out = []
        for f in range(1, len(e)):
            h = 0
            for b in range(BA - 1):
                d = (e[f][b] - e[f][b + 1]) - (e[f - 1][b] - e[f - 1][b + 1])
                h = (h << 1) | (1 if d > 0 else 0)
            out.append(h)
        return out

    seqs = {i: subfps(fs) for i, fs in clips.items()}
    assert seqs[1] == seqs[3]  # volume invariance, sequence-exact

    # windowed join keys (the 10-bit-word scale fix): runs report in
    # words, cells in complete window positions (t - window + 1)
    want = _span_expect(seqs, min_run=4, window=4)
    got = {
        (r["id_a"], r["id_b"]): (r["longest_run_subfps"], r["n_shared_subfps"])
        for r in audio_shared_segment_pairs(
            media, frame_bytes=BA, bands=BA, min_run=4, window=4,
            energy_fn=energy,
        ).collect()
    }
    assert got == want
    assert got[(1, 3)][0] == 13 and got[(1, 2)][0] == 5  # 6 frames = 5 words
    assert got[(1, 2)][1] == 2  # a 5-word run carries 2 four-word windows
    assert not any(4 in p for p in got)

    # planted trailing silence (20 frames -> a 19-zero-word run -> 16
    # complete all-zero windows per clip, 64 rows against a window-key
    # p92 of at most 3): the degenerate window key repeats across every
    # clip; the valve drops it and reports, the interior segments
    # survive
    silent = [[0] * BA] * 20
    media_s = spark.createDataFrame(
        [(i, payload(fs + silent), "audio/raw", BA * (len(fs) + 20))
         for i, fs in clips.items()],
        "media_id long, payload binary, mime_type string, byte_len int",
    )
    obs = Observation()
    got_s = {
        (r["id_a"], r["id_b"]): r["longest_run_subfps"]
        for r in audio_shared_segment_pairs(
            media_s, frame_bytes=BA, bands=BA, min_run=4, window=4,
            cap_hot_keys=True, energy_fn=energy, observation=obs,
        ).collect()
    }
    assert obs.get == {"subfps_dropped": 1, "pairs_avoided": 64 * 63 // 2}
    assert got_s[(1, 3)] >= 13 and got_s[(1, 2)] == 5

    # the default length-proportional stub path runs end-to-end (the
    # seam every real deployment replaces; regressions must not hide
    # behind the custom energy_fn the planted cases use)
    stub_rows = audio_shared_segment_pairs(
        media, frame_bytes=16, bands=BA, min_run=4, window=4
    ).collect()
    assert isinstance(stub_rows, list)  # identical clips 1/3 diverge
    from git_log_to_sqlite_spark.operators import audio_frame_fingerprints

    n_words = audio_frame_fingerprints(media, frame_bytes=16, bands=BA).count()
    assert n_words > 0

    from git_log_to_sqlite_spark.operators import release_caches

    release_caches()  # the capped runs pin the window table
    with pytest.raises(ValueError, match="min_run"):
        audio_shared_segment_pairs(media, min_run=0)
    with pytest.raises(ValueError, match="must be >= window"):
        audio_shared_segment_pairs(media, min_run=2, window=4)
    with pytest.raises(ValueError, match="requires cap_hot_keys"):
        audio_shared_segment_pairs(media, observation=Observation())
    with pytest.raises(ValueError, match="frame_bytes"):
        audio_shared_segment_pairs(media, frame_bytes=0)


def test_hamming_probe_matches_brute_force(spark):
    """The probe-shaped Hamming lookup must equal a brute-force probe
    x corpus scan at every max_hamming (pigeonhole exactness across
    two sides), cap the CORPUS side with probe-shape telemetry
    (rows_dropped), and reject colliding id names."""
    import random

    from pyspark.sql import Observation

    from git_log_to_sqlite_spark.operators import hamming_probe

    rng = random.Random(41)
    # 120 random signatures: enough naturally repeated 8-bit band
    # buckets (85 keys, p92 = 3) that the planted degenerate family
    # below is past the valve's 10 x p92 cap in every band
    corpus_sigs = [(i, rng.getrandbits(32)) for i in range(120)]
    # probes: two planted near-matches + copies + randoms
    probe_sigs = [
        (100, corpus_sigs[3][1]),                    # exact
        (101, corpus_sigs[7][1] ^ 0b101),            # hamming 2
        (102, corpus_sigs[7][1] ^ 0b10011),          # hamming 3
        (103, rng.getrandbits(32)),
        (104, rng.getrandbits(32)),
    ]
    corpus = spark.createDataFrame(corpus_sigs, "cid long, sig long")
    probe = spark.createDataFrame(probe_sigs, "pid long, sig long")

    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    want = {
        (p, c, ham(sp, sc))
        for p, sp in probe_sigs
        for c, sc in corpus_sigs
        if ham(sp, sc) <= 3
    }
    got = {
        tuple(r)
        for r in hamming_probe(
            probe, corpus, "pid", "cid", "sig", bits=32, bands=4, max_hamming=3
        ).collect()
    }
    assert got == want and (100, 3, 0) in got and (101, 7, 2) in got

    # corpus-side valve: a degenerate all-zero corpus bucket (40 rows
    # in every band, past the cap of 30) is capped with probe-shape
    # telemetry; the planted matches elsewhere survive
    degen = corpus.unionByName(
        spark.createDataFrame([(i, 0) for i in range(500, 540)], "cid long, sig long")
    )
    obs = Observation()
    got_d = {
        tuple(r)
        for r in hamming_probe(
            probe, degen, "pid", "cid", "sig", bits=32, bands=4, max_hamming=3,
            cap_hot_keys=True, observation=obs,
        ).collect()
    }
    m = obs.get
    assert m["bands_dropped"] == 4 and m["rows_dropped"] >= 4 * 40
    assert (100, 3, 0) in got_d and (101, 7, 2) in got_d
    from git_log_to_sqlite_spark.operators import release_caches

    release_caches()  # the capped run pins the valve's hot set

    with pytest.raises(ValueError, match="disjoint"):
        hamming_probe(probe, corpus, "sig", "sig", "sig", bits=32)
    with pytest.raises(ValueError, match="requires cap_hot_keys"):
        hamming_probe(
            probe, corpus, "pid", "cid", "sig", bits=32, observation=Observation()
        )


def test_image_in_video_frames_planted(spark):
    """Cross-modal content lookup: a still planted verbatim in one
    clip and as a 2-bit variant in another must surface as (still_id,
    media_id, frame_no) matches exactly as a brute-force scan over
    the frame hashes says — the shared grid hash makes a still and a
    frame of the same content hash identically by construction."""
    import random

    from git_log_to_sqlite_spark.operators import image_in_video_frames
    from git_log_to_sqlite_spark.operators.multimodal import _grid_dhash

    rows_, cols = 6, 10
    W = cols + 1
    fb = rows_ * W
    rng = random.Random(47)

    def frame():
        return bytes(rng.choice([40, 200]) for _ in range(fb))

    target = frame()
    variant = bytearray(target)
    # flip the final comparison of rows 0 and 1 -> exactly 2 bits
    for r in (0, 1):
        prev, last = variant[r * W + W - 2], variant[r * W + W - 1]
        variant[r * W + W - 1] = 30 if last > prev else 210
    variant = bytes(variant)

    clips = {
        1: [frame(), frame(), target, frame()],
        2: [frame(), variant, frame()],
        3: [frame() for _ in range(4)],
    }
    media = spark.createDataFrame(
        [(i, b"".join(fs), "video/raw", fb * len(fs)) for i, fs in clips.items()],
        "media_id long, payload binary, mime_type string, byte_len int",
    )
    stills = spark.createDataFrame(
        [(900, target, "image/raw", fb), (901, frame(), "image/raw", fb)],
        "media_id long, payload binary, mime_type string, byte_len int",
    )
    grid_fn = lambda p, r, c: p[: r * (c + 1)]  # noqa: E731

    still_sigs = {900: _grid_dhash(target, rows_, cols)}
    still_sigs[901] = _grid_dhash(
        stills.filter(F.col("media_id") == 901).collect()[0]["payload"],
        rows_, cols,
    )
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    want = {
        (s, m_, f, ham(ssig, _grid_dhash(fr, rows_, cols)))
        for s, ssig in still_sigs.items()
        for m_, fs in clips.items()
        for f, fr in enumerate(fs)
        if ham(ssig, _grid_dhash(fr, rows_, cols)) <= 3
    }
    got = {
        tuple(r)
        for r in image_in_video_frames(
            stills, media, rows_, cols, frame_bytes=fb, max_hamming=3,
            grid_fn=grid_fn,
        ).collect()
    }
    assert got == want
    assert (900, 1, 2, 0) in got and (900, 2, 1, 2) in got
    assert not any(t[0] == 901 for t in got)


def test_fuzzy_decontaminate_flags_near_dup_leakage(spark):
    """Fuzzy decontamination (simhash distance vs the eval set): a
    verbatim eval copy and a lightly-perturbed copy must flag, clean
    documents must not, the annotation must equal a brute-force
    simhash Hamming scan (pigeonhole exactness on the signature
    distance), and all train rows survive the left join."""
    from git_log_to_sqlite_spark.operators import (
        fuzzy_decontaminate,
        release_caches,
        simhash,
    )

    evals = [
        (900, "the quick brown fox jumps over the lazy dog near the river"),
        (901, "pack my box with five dozen liquor jugs for the long trip"),
    ]
    train = [
        (1, evals[0][1]),                                    # verbatim copy
        (2, evals[1][1] + " today"),                         # light perturbation
        (3, "a completely different document about spark partitioning"),
        (4, "another unrelated text concerning shuffle exchanges and joins"),
        (5, None),  # token-less row: simhash emits NO signature for it,
        # so a signature-frame annotation spine would silently drop it —
        # the train table itself must be the spine
    ]
    tdf = spark.createDataFrame(train, "doc_id long, text string")
    edf = spark.createDataFrame(evals, "doc_id long, text string")

    got = {
        r["doc_id"]: (r["matched_evals"], r["best_hamming"], r["contaminated"])
        for r in fuzzy_decontaminate(
            tdf, edf, "doc_id", "text", bits=60, bands=6, max_hamming=5
        ).collect()
    }
    release_caches()
    assert set(got) == {1, 2, 3, 4, 5}  # every train row annotated
    assert got[5] == (0, None, 0)  # NULL text: clean, still present

    # brute-force reference over the same signatures
    tsig = {r["doc_id"]: r["simhash"]
            for r in simhash(tdf, "doc_id", "text", 60).collect()}
    esig = {r["doc_id"]: r["simhash"]
            for r in simhash(edf, "doc_id", "text", 60).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    for tid in tsig:
        hams = [ham(tsig[tid], s) for s in esig.values()]
        matches = [h for h in hams if h <= 5]
        want = (len(matches), min(matches) if matches else None,
                1 if matches else 0)
        assert got[tid] == want, (tid, got[tid], want)
    assert got[1][2] == 1 and got[1][1] == 0  # verbatim: hamming 0
    assert got[2][2] == 1 and 0 < got[2][1] <= 5  # perturbed copy flags
    assert got[3][2] == 0 and got[4][2] == 0


def test_image_dhash_validation_and_stub_plumbing(docs):
    """The 60-bit budget is enforced, and the default Pillow-or-stub
    grid path runs end-to-end on arbitrary binary payloads."""
    from git_log_to_sqlite_spark.operators.multimodal import image_dhash

    media = as_media(docs, "doc_id", "text", mime="text/plain")
    with pytest.raises(ValueError, match="60-bit"):
        image_dhash(media, rows=8, cols=8)
    rows = image_dhash(media).collect()
    assert len(rows) == media.count()
    assert all(0 <= r["dhash"] < (1 << 60) for r in rows)
    # audio stub plumbing end-to-end on the same payloads
    from git_log_to_sqlite_spark.operators.multimodal import audio_fingerprint

    arows = audio_fingerprint(media).collect()
    assert len(arows) == media.count()
    assert all(0 <= r["afp"] < (1 << 60) for r in arows)


@pytest.mark.skipif(not HAS_PIL, reason="Pillow not installed in this environment")
def test_image_near_dup_real_pil_recompressed_twin(spark):
    """Real-decoder path (runs where Pillow exists): a resized and
    re-encoded twin of a gradient image must land within Hamming 3 of
    the original — the decode-resize normalizes scale and encoding."""
    import io

    from PIL import Image

    from git_log_to_sqlite_spark.operators.multimodal import image_near_dup_pairs

    def png(img):
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        return buf.getvalue()

    grad = Image.new("L", (64, 48))
    grad.putdata([(x * 4 + y) % 256 for y in range(48) for x in range(64)])
    twin = grad.resize((32, 24))  # rescaled + re-encoded
    flat = Image.new("L", (64, 48), color=200)  # unrelated
    media = spark.createDataFrame(
        [(1, png(grad)), (2, png(twin)), (3, png(flat))],
        "media_id long, payload binary",
    ).selectExpr("media_id", "payload", "'image/png' AS mime_type",
                 "CAST(length(payload) AS INT) AS byte_len")
    got = {
        (r["id_a"], r["id_b"])
        for r in image_near_dup_pairs(media, max_hamming=3).collect()
    }
    assert (1, 2) in got and not any(3 in p for p in got)


def test_kmeans_recovers_planted_clusters(clustered_vectors):
    from git_log_to_sqlite_spark.operators import kmeans

    # interleave ids so the deterministic lowest-k init picks one seed
    # per planted cluster (callers control init quality by ordering)
    e = clustered_vectors.withColumn(
        "kid", (F.col("vec_id") % 25) * 4 + F.col("cluster")
    )
    assigned, centroids = kmeans(e, "kid", "embedding", k=4, max_iter=10)
    assert len(centroids) == 4 and len(centroids[0]) == 16
    rows = assigned.select("cluster", F.col("kid")).collect()
    from collections import Counter

    purity_num = 0
    for km_cluster in range(4):
        truth = Counter(r["kid"] % 4 for r in rows if r["cluster"] == km_cluster)
        if truth:
            purity_num += truth.most_common(1)[0][1]
    purity = purity_num / len(rows)
    assert purity > 0.9, f"kmeans purity too low on tight clusters: {purity:.2f}"


def test_kmeans_deterministic_across_runs(clustered_vectors):
    from git_log_to_sqlite_spark.operators import kmeans

    a, ca = kmeans(clustered_vectors, "vec_id", "embedding", k=3, max_iter=4)
    b, cb = kmeans(clustered_vectors, "vec_id", "embedding", k=3, max_iter=4)
    assert ca == cb
    ra = sorted((r["vec_id"], r["cluster"]) for r in a.collect())
    rb = sorted((r["vec_id"], r["cluster"]) for r in b.collect())
    assert ra == rb


def test_dsir_weights_match_python_reference(spark):
    """DSIR importance weights equal an independent pure-python
    implementation of the same math (hashed unigram+bigram bags,
    Laplace-smoothed log-ratio, total-mass normalization) on a toy
    corpus — and the raw document that parrots the target's phrasing
    outranks the off-domain ones. Also: the annotation spine is the
    raw table itself (a NULL-text doc annotates 0.0 and survives) and
    the result is partitioning-invariant."""
    import hashlib
    import math

    from git_log_to_sqlite_spark.operators import dsir_weights

    B = 64
    target = [(900, "theorem proof lemma proof theorem"),
              (901, "proof by induction on the lemma")]
    raw = [
        (1, "theorem proof lemma induction"),    # on-domain
        (2, "cat video funny cat compilation"),  # off-domain
        (3, "proof theorem proof"),              # on-domain, short
        (4, None),                               # feature-less
    ]

    def grams(text):
        t = text.split(" ")
        return t + [f"{a} {b}" for a, b in zip(t, t[1:])]

    def feats(rows):
        out = {}
        for _id, text in rows:
            if text is None:
                continue
            for g in grams(text):
                f = int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B
                out.setdefault(_id, {}).setdefault(f, 0)
                out[_id][f] += 1
        return out

    rf, tf = feats(raw), feats(target)
    rc, tc = {}, {}
    for d in rf.values():
        for f, c in d.items():
            rc[f] = rc.get(f, 0) + c
    for d in tf.values():
        for f, c in d.items():
            tc[f] = tc.get(f, 0) + c
    norm = math.log(sum(tc.values()) + B) - math.log(sum(rc.values()) + B)
    want = {}
    for _id, d in rf.items():
        w = sum(
            c * (math.log(tc.get(f, 0) + 1) - math.log(rc.get(f, 0) + 1))
            for f, c in d.items()
        ) - sum(d.values()) * norm
        want[_id] = round(w, 6)
    want[4] = 0.0

    rdf = spark.createDataFrame(raw, "doc_id long, text string")
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    got = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_weights(rdf, tdf, "doc_id", "text",
                              buckets=B).collect()
    }
    assert got == pytest.approx(want, abs=1e-6)
    assert got[1] > got[2] and got[3] > got[2]  # on-domain outranks

    again = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_weights(rdf.repartition(5), tdf, "doc_id", "text",
                              buckets=B).collect()
    }
    assert again == got


def test_dsir_select_null_id_never_wins(spark):
    """A NULL-id row (upstream outer-join junk) must not displace a
    legitimate winner: the clamp is NULL-PRESERVING (a plain least()
    SKIPS null args, which would hand the junk row u = 1-2^-53 and a
    near-maximal Gumbel ~36.7), so its score stays NULL and sorts
    last under the descending selection."""
    from git_log_to_sqlite_spark.operators import dsir_select

    raw = spark.createDataFrame(
        [(1, "theorem proof"), (2, "cat video"), (None, "theorem proof")],
        "doc_id long, text string",
    )
    tgt = spark.createDataFrame(
        [(900, "theorem proof lemma")], "doc_id long, text string"
    )
    sel = dsir_select(raw, tgt, "doc_id", "text", n=2, buckets=64).collect()
    assert {r["doc_id"] for r in sel} == {1, 2}  # NULL id sorted out


def test_dsir_select_matches_duckdb_twin(spark, oracle_sf_dir):
    """Cross-engine determinism of the FULL DSIR selection (weights +
    md5-Gumbel top-n) — pre-staging this operator's round-12 gate
    row: DuckDB reproduces every bucket id (the shared 15-hex md5
    idiom), every Laplace log-ratio (CAST AS DOUBLE before ln), the
    6-dp weights, and the Gumbel-perturbed winner ORDER exactly."""
    from git_log_to_sqlite_spark.operators import dsir_select

    from .oracle_harness import duck_connection

    B, MOD, N = 2048, 29, 50
    gram_sql = """unnest(list_concat(
        string_split(text, ' '),
        list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
          i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])
      )) AS g"""
    sql = f"""
    WITH raw AS (SELECT doc_id, text FROM documents WHERE doc_id % {MOD} <> 0),
    tgt AS (SELECT doc_id, text FROM documents WHERE doc_id % {MOD} = 0),
    rg AS (SELECT doc_id, {gram_sql} FROM raw),
    tg AS (SELECT doc_id, {gram_sql} FROM tgt),
    rf AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT % {B} AS f,
                  COUNT(*) AS c
           FROM rg GROUP BY doc_id, f),
    tf AS (SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT % {B} AS f,
                  COUNT(*) AS c
           FROM tg GROUP BY f),
    rcnt AS (SELECT f, SUM(c) AS rc FROM rf GROUP BY f),
    tcnt AS (SELECT f, SUM(c) AS tc FROM tf GROUP BY f),
    ratio AS (
      SELECT COALESCE(rcnt.f, tcnt.f) AS f,
             ln(CAST(COALESCE(tc, 0) + 1 AS DOUBLE))
               - ln(CAST(COALESCE(rc, 0) + 1 AS DOUBLE)) AS lr
      FROM rcnt FULL JOIN tcnt ON rcnt.f = tcnt.f),
    tot AS (
      SELECT ln(CAST((SELECT SUM(tc) FROM tcnt) + {B} AS DOUBLE))
               - ln(CAST((SELECT SUM(rc) FROM rcnt) + {B} AS DOUBLE)) AS norm),
    per_doc AS (
      SELECT rf.doc_id,
             SUM(rf.c * ratio.lr) - SUM(rf.c) * (SELECT norm FROM tot) AS w
      FROM rf JOIN ratio ON ratio.f = rf.f
      GROUP BY rf.doc_id),
    weights AS (
      SELECT raw.doc_id,
             ROUND(COALESCE(per_doc.w, 0.0), 6) AS log_weight
      FROM raw LEFT JOIN per_doc ON per_doc.doc_id = raw.doc_id)
    SELECT doc_id, log_weight,
           ROUND(log_weight
                 - ln(-ln(least(
                     (('0x' || substr(md5('dsir|' || doc_id::VARCHAR), 1, 15))::BIGINT + 1.0)
                       / 1152921504606846976.0,
                     1.0 - pow(2.0, -53)))), 6) AS score
    FROM weights
    ORDER BY score DESC, doc_id ASC LIMIT {N}
    """
    d = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    raw = d.filter(F.col("doc_id") % MOD != 0)
    tgt = d.filter(F.col("doc_id") % MOD == 0)
    got = [
        (r["doc_id"], r["log_weight"], r["score"])
        for r in dsir_select(raw, tgt, "doc_id", "text", n=N,
                             buckets=B).collect()
    ]
    con = duck_connection(oracle_sf_dir)
    try:
        want = [tuple(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()
    assert len(got) == N
    assert got == [
        (i, pytest.approx(w, abs=1e-6), pytest.approx(s, abs=1e-6))
        for i, w, s in want
    ]


def test_dsir_hash_fn_equivalence_shape(spark):
    """The production-hash contract behind the hash_fn knob
    (BASELINE.md names the md5-per-gram hashing as DSIR's dominant
    cost): xxhash64 assigns different buckets than md5, but the
    estimator's SHAPE survives any well-mixed feature hash — under
    BOTH hashes every target-look-alike raw doc outweighs every junk
    doc, all weights are finite (the Laplace smoothing guarantee is
    hash-independent), and the selection cardinality is identical.
    md5 stays the default, so the gated sample_dsir twin never sees
    the knob."""
    import pytest

    from git_log_to_sqlite_spark.operators import dsir_select, dsir_weights

    tgt_text = "the quick brown fox jumps over the lazy dog"
    rdf = spark.createDataFrame(
        [(i, tgt_text) for i in range(10)]
        + [(100 + i, f"zz{i} qq{i} ww{i} ee{i} rr{i} tt{i}")
           for i in range(10)],
        "doc_id long, text string",
    )
    tdf = spark.createDataFrame(
        [(i, tgt_text) for i in range(8)], "doc_id long, text string"
    )

    for hf in ("md5", "xxhash64"):
        w = {
            r["doc_id"]: r["log_weight"]
            for r in dsir_weights(
                rdf, tdf, "doc_id", "text", buckets=4096, hash_fn=hf
            ).collect()
        }
        assert len(w) == 20
        assert all(v == v and abs(v) < 1e6 for v in w.values()), hf
        assert min(w[i] for i in range(10)) > \
            max(w[100 + i] for i in range(10)), hf
        sel = dsir_select(rdf, tdf, "doc_id", "text", n=5,
                          buckets=4096, hash_fn=hf).collect()
        assert len(sel) == 5
        assert all(r["score"] == r["score"] for r in sel), hf
    with pytest.raises(ValueError, match="hash_fn"):
        dsir_weights(rdf, tdf, "doc_id", "text", hash_fn="sha1").collect()


def test_weighted_reservoir_biases_toward_heavy_weights(spark):
    from git_log_to_sqlite_spark.operators import weighted_reservoir

    rows = [(i, 10.0 if i < 100 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "item_id long, w double")
    got = weighted_reservoir(df, "item_id", "w", k=30)
    ids = [r["item_id"] for r in got.collect()]
    assert len(ids) == 30
    heavy = sum(1 for i in ids if i < 100)
    # E[heavy] ≈ 27 of 30 at a 10:1 weight ratio; the sample is
    # deterministic (md5 keys), so this is a fixed, stable assertion
    assert heavy > 20, f"weighting not biasing selection: {heavy}/30 heavy"


def test_weighted_reservoir_deterministic_and_weight_gated(spark):
    from git_log_to_sqlite_spark.operators import weighted_reservoir

    rows = [(i, float(i % 5)) for i in range(50)]  # weight 0 -> excluded
    df = spark.createDataFrame(rows, "item_id long, w double")
    a = sorted(r["item_id"] for r in weighted_reservoir(df, "item_id", "w", k=10).collect())
    b = sorted(r["item_id"] for r in weighted_reservoir(df, "item_id", "w", k=10).collect())
    assert a == b
    assert all(i % 5 != 0 for i in a)  # zero-weight rows never sampled


def test_chunk_documents_coverage_and_overlap(spark):
    from git_log_to_sqlite_spark.operators import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks: starts 0,4,8
            (2, "a b c"),  # shorter than one chunk
            (3, " ".join(f"u{i}" for i in range(8))),  # exactly chunk_size
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, "doc_id", "text", chunk_size=8, stride=4)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    # doc 1 (10 toks): last start = ceil((10-8)/4)*4 = 4 -> two chunks;
    # doc 3 (exactly 8 toks): one chunk, no redundant tail subset
    assert {(d, c) for d, c in rows} == {(1, 0), (1, 1), (2, 0), (3, 0)}
    assert rows[(1, 0)]["chunk_text"] == " ".join(f"t{i}" for i in range(8))
    assert rows[(1, 1)]["chunk_text"] == " ".join(f"t{i}" for i in range(4, 10))
    assert rows[(2, 0)]["chunk_text"] == "a b c"
    assert rows[(2, 0)]["chunk_tokens"] == 3
    # overlap: consecutive chunks share chunk_size - stride tokens
    assert rows[(1, 0)]["chunk_text"].split()[4:] == rows[(1, 1)]["chunk_text"].split()[:4]
    # every token of doc 1 appears in at least one chunk
    covered = {t for (d, _), r in rows.items() if d == 1 for t in r["chunk_text"].split()}
    assert covered == {f"t{i}" for i in range(10)}


def test_domain_mix_rates_and_determinism(spark):
    from git_log_to_sqlite_spark.operators import domain_mix

    rows = [(i, f"d{i % 4}") for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, dom string")
    rates = {"d0": 1.0, "d1": 0.5, "d2": 0.0}
    a = domain_mix(df, "id", "dom", rates, default_rate=0.25)
    kept = {r["id"]: r["dom"] for r in a.collect()}
    by_dom = {d: sum(1 for v in kept.values() if v == d) for d in ("d0", "d1", "d2", "d3")}
    assert by_dom["d0"] == 500  # rate 1.0 keeps everything
    assert by_dom["d2"] == 0  # rate 0.0 keeps nothing
    assert 0.35 * 500 < by_dom["d1"] < 0.65 * 500  # binomial around 250
    assert 0.10 * 500 < by_dom["d3"] < 0.40 * 500  # default 0.25 applies
    # pure function of the data: second run identical
    b = {r["id"] for r in domain_mix(df, "id", "dom", rates, 0.25).collect()}
    assert set(kept) == b


def test_curate_corpus_retention_telemetry(spark, oracle_sf_dir):
    """The curation pipeline's Observation metrics must report the
    input -> post-filter -> post-dedup retention funnel from INSIDE the
    single plan execution (CollectMetrics, no stage re-runs), and the
    numbers must equal independently recomputed stage counts."""
    from git_log_to_sqlite_spark.plans.llm_ops import curate_corpus
    from git_log_to_sqlite_spark.plans.registry import table

    d = table(spark, oracle_sf_dir, "documents")
    telemetry = {}
    out = curate_corpus(d, telemetry=telemetry)
    packed_rows = out.count()  # the one action; metrics ride along

    got = {name: obs.get for name, obs in telemetry.items()}
    assert set(got) == {"input", "post_filter", "post_dedup"}

    toks = F.size(F.split(F.col("text"), " "))
    kept = d.filter(
        (F.col("lang") == "en")
        & F.col("n_chars").between(100, 20000)
        & (toks >= 20)
    )
    n_input = d.count()
    n_kept = kept.count()
    n_surv = kept.select(F.md5("text")).distinct().count()

    assert got["input"]["rows"] == n_input
    assert got["post_filter"]["rows"] == n_kept
    assert got["post_dedup"]["rows"] == n_surv == packed_rows
    # funnel is monotone and the dedup stage conserves nothing it shouldn't
    assert n_input >= n_kept >= n_surv > 0
    assert got["post_filter"]["tokens"] >= got["post_dedup"]["tokens"] > 0


def test_asof_join_matches_pandas_merge_asof_randomized(spark):
    """Equivalence against an independent reference implementation:
    pandas.merge_asof computes the same nearest-prior/next semantics
    with a completely different algorithm (sorted merge scan vs the
    union + last(ignorenulls) window). 200 random queries x 200 random
    points across 8 keys, both directions, with and without tolerance;
    any drift in boundary handling (ties, exact-equal timestamps,
    out-of-tolerance nulling) fails loudly."""
    import pandas as pd

    from git_log_to_sqlite_spark.operators.asof import asof_join

    rng = random.Random(20240813)
    n_keys = 8
    left_rows = [
        (i, rng.randrange(n_keys), rng.randrange(0, 100_000))
        for i in range(200)
    ]
    right_rows = [
        (j, rng.randrange(n_keys), rng.randrange(0, 100_000), float(j))
        for j in range(200)
    ]
    # force some exact-equal timestamps across sides (boundary case)
    for k in range(20):
        qid, key, ts = left_rows[k]
        right_rows[k] = (right_rows[k][0], key, ts, right_rows[k][3])

    left = spark.createDataFrame(left_rows, "qid long, k long, ts long")
    right = spark.createDataFrame(right_rows, "rid long, k long, rts long, val double")

    for direction in ("backward", "forward"):
        for tol in (None, 5_000.0):
            got = asof_join(
                left, right, key="k", left_ts="ts", right_ts="rts",
                value_cols=["val"], tie_col="rid",
                direction=direction, tolerance_seconds=tol,
            )
            got_map = {r["qid"]: r["val_asof"] for r in got.collect()}

            lpd = pd.DataFrame(left_rows, columns=["qid", "k", "ts"]).sort_values("ts")
            # pandas breaks right-side ts ties by position: sort so the
            # LAST row at each (k, rts) is the max rid — the survivor
            # rule tie_col="rid" (highest wins) declares.
            rpd = (
                pd.DataFrame(right_rows, columns=["rid", "k", "rts", "val"])
                .sort_values(["rts", "rid"])
            )
            want_df = pd.merge_asof(
                lpd, rpd, left_on="ts", right_on="rts", by="k",
                direction=direction,
                tolerance=int(tol) if tol is not None else None,
            )
            want = {
                int(r.qid): (None if pd.isna(r.val) else float(r.val))
                for r in want_df.itertuples()
            }
            assert got_map == want, (direction, tol)


def test_operator_cache_lifecycle(spark, oracle_sf_dir):
    """The pin() registry contract: a repeated invocation with the same
    input must NOT re-persist (no "already cached" warning, no registry
    growth — the planner substitutes the live InMemoryRelation by
    sameResult), and release_caches() frees exactly the pinned frames."""
    from git_log_to_sqlite_spark.operators import caching, release_caches
    from git_log_to_sqlite_spark.operators.text import tfidf_topk

    spark.catalog.clearCache()
    release_caches()
    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")

    ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.2, cap_hot_keys=True
    ).count()
    n_first = len(caching._LIVE)
    # per-doc sizes + per-shingle counts + pinned hot-shingle set
    # (round 9: _drop_hot_keys pins the filtered hot set) + postings
    assert n_first == 4
    ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.2, cap_hot_keys=True
    ).count()
    assert len(caching._LIVE) == n_first  # equivalent plan -> no new pin

    minhash_lsh_pairs(docs, "doc_id", "text").count()
    assert len(caching._LIVE) == n_first + 1  # + signature table
    tfidf_topk(docs, "doc_id", "text", k=3).count()
    assert len(caching._LIVE) == n_first + 2  # + tf table

    assert release_caches() == n_first + 2
    assert caching._LIVE == []
    # everything unpersisted: the session cache is empty again
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty()


def test_pin_hash_gated_dedup(spark):
    """pin()'s duplicate check is semanticHash-gated (round 16): a
    same-result re-pin still short-circuits (no duplicate registry
    entry, second frame returned unpersisted), a different plan still
    registers, and every registered entry memoizes its hash so later
    pin() calls compare Python ints instead of running a JVM
    sameResult per live entry."""
    from git_log_to_sqlite_spark.operators import caching
    from git_log_to_sqlite_spark.operators.caching import pin, release_caches

    spark.catalog.clearCache()
    release_caches()
    a = pin(spark.range(100).selectExpr("id", "id * 2 AS dbl"))
    assert len(caching._LIVE) == 1
    assert isinstance(getattr(a, "_pin_semhash", None), int)
    dup = pin(spark.range(100).selectExpr("id", "id * 2 AS dbl"))
    assert len(caching._LIVE) == 1  # sameResult short-circuit held
    # the short-circuited frame was returned WITHOUT registering (its
    # storageLevel still reads the cached level — CacheManager resolves
    # by plan equivalence — so the registry length and the absent
    # memo attribute are the short-circuit's observable markers)
    assert "_pin_semhash" not in dup.__dict__
    other = pin(spark.range(100).selectExpr("id", "id * 3 AS tpl"))
    assert len(caching._LIVE) == 2
    assert isinstance(getattr(other, "_pin_semhash", None), int)
    release_caches()


def test_pin_skips_externally_cleared_entry(spark):
    """An entry cleared by ``clearCache()`` never suppresses a fresh
    persist of the same plan: the re-pin registers and is live."""
    from git_log_to_sqlite_spark.operators import caching
    from git_log_to_sqlite_spark.operators.caching import pin, release_caches

    spark.catalog.clearCache()
    release_caches()
    pin(spark.range(100).selectExpr("id", "id * 5 AS q"))
    spark.catalog.clearCache()
    again = pin(spark.range(100).selectExpr("id", "id * 5 AS q"))
    assert len(caching._LIVE) == 2 and caching._LIVE[-1] is again
    assert caching._is_live(again)
    assert release_caches() == 1


def test_concurrent_pins_are_all_released(spark):
    """Pins from threads sharing one session are never lost: 8 threads
    pin 8 distinct frames at once, and ``release_caches`` unpersists
    every one of them, leaving the session cache empty."""
    import threading

    from git_log_to_sqlite_spark.operators.caching import pin, release_caches

    spark.catalog.clearCache()
    release_caches()
    n = 8
    start = threading.Barrier(n)
    errors = []

    def work(i):
        try:
            frame = spark.range(100 + i).selectExpr("id", f"id * {i + 2} AS v")
            start.wait()
            pin(frame)
        except Exception as e:  # noqa: BLE001 — surfaced via assert below
            errors.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert release_caches(blocking=True) == n
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ----------------------------------------------------------------------
# Round 7: decontamination, repetition quality, token-budget sampling
# ----------------------------------------------------------------------


def test_decontaminate_planted_leak(spark):
    from git_log_to_sqlite_spark.operators import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # contains bench 4-grams "alpha beta gamma delta" and
            # "beta gamma delta epsilon" verbatim -> 2 shared grams
            (1, "xx alpha beta gamma delta epsilon yy"),
            # clean: shares tokens but no 4-gram
            (2, "alpha beta xx gamma delta yy epsilon zeta"),
            # too short for any 4-gram
            (3, "alpha beta"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate(train, bench, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3}, "every train row must be annotated"
    assert out[1]["contaminated"] == 1 and out[1]["shared_ngrams"] == 2
    assert out[2]["contaminated"] == 0 and out[2]["shared_ngrams"] == 0
    assert out[3]["contaminated"] == 0 and out[3]["shared_ngrams"] == 0


def test_decontaminate_counts_distinct_grams_once(spark):
    """A train doc repeating the same leaked 4-gram counts it ONCE
    (shingles are per-document distinct)."""
    from git_log_to_sqlite_spark.operators import decontaminate

    bench = spark.createDataFrame([(9, "a b c d")], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "a b c d x a b c d")], "doc_id long, text string"
    )
    row = decontaminate(train, bench, "doc_id", "text").collect()[0]
    assert row["shared_ngrams"] == 1 and row["contaminated"] == 1


def test_repetition_stats_hand_computed(spark):
    from git_log_to_sqlite_spark.operators import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a b"),  # dup 2/4; bigrams [a a, a a, a b] top 2/3
            (2, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),  # all distinct
            (3, "solo"),  # 1 token: no bigrams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert out[1]["dup_token_frac"] == 0.5
    assert out[1]["top_bigram_frac"] == round(2 / 3, 6)
    assert out[1]["passes_repetition_gate"] == 0  # top 2/3 > 1/5
    assert out[2]["dup_token_frac"] == 0.0
    assert out[2]["top_bigram_frac"] == round(1 / 9, 6)
    assert out[2]["passes_repetition_gate"] == 1
    assert out[3]["dup_token_frac"] == 0.0
    assert out[3]["top_bigram_frac"] == 0.0
    assert out[3]["passes_repetition_gate"] == 1


def test_token_budget_monotone_deterministic_and_bounded(spark):
    from git_log_to_sqlite_spark.operators import token_budget_sample

    random.seed(7)
    rows = [
        (i, f"dom{i % 3}", random.randint(50, 400)) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "id long, dom string, w long")

    def keep_ids(budget):
        out = token_budget_sample(df, "id", "w", budget, domain_col="dom")
        return {r["id"]: r["cum_before"] for r in out.collect()}

    small, big = keep_ids(1000), keep_ids(4000)
    assert set(small) <= set(big), "budget fill must be monotone in the budget"
    assert small == keep_ids(1000), "md5 coin: exactly reproducible"
    # admission bound: everything admitted started under budget, and
    # every non-empty domain admits at least its first row
    assert all(c < 1000 for c in small.values())
    doms = {r["dom"] for r in df.select("dom").distinct().collect()}
    kept_doms = {
        r["dom"]
        for r in token_budget_sample(df, "id", "w", 1, domain_col="dom")
        .select("dom").distinct().collect()
    }
    assert kept_doms == doms, "budget 1 still admits one row per domain"


def test_incremental_dedup_best_match_column(spark):
    """best_match=True adds the history id that ACHIEVES best_est
    (ties to the smaller id) — distinct from dup_of, which is the
    min-id bookkeeping survivor and need not be the best match."""
    from git_log_to_sqlite_spark.operators import incremental_minhash_dedup

    base = "the quick brown fox jumps over the lazy dog tonight again"
    partial = "the quick brown fox jumps over a sleepy cat this morning ok"
    history = spark.createDataFrame(
        [(5, partial), (20, base), (21, base)],
        "doc_id long, text string",
    )
    increment = spark.createDataFrame(
        [(100, base)], "doc_id long, text string"
    )
    out = incremental_minhash_dedup(
        history, increment, "doc_id", "text", best_match=True
    ).collect()
    row = {r["doc_id"]: r for r in out}[100]
    assert row["best_est"] == 1.0  # exact copies agree on every hash
    assert row["best_match_id"] == 20  # est tie between 20/21 -> min id
    if row["dup_of"] == 5:  # partial doc cleared min_agree
        assert row["dup_of"] != row["best_match_id"]
    # default output keeps the original 4-column schema
    cols = incremental_minhash_dedup(
        history, increment, "doc_id", "text"
    ).columns
    assert cols == ["doc_id", "dup_of", "best_est", "is_new"]


def test_incremental_dedup_planted_near_dup(spark):
    """A near-dup of a history doc in the increment must resolve to
    that history doc; a novel doc must come back is_new=1; history
    docs that duplicate EACH OTHER must not surface (history never
    self-joins)."""
    from git_log_to_sqlite_spark.operators import incremental_minhash_dedup

    base = "the quick brown fox jumps over the lazy dog tonight again"
    history = spark.createDataFrame(
        [
            (10, base),
            (11, base),  # exact dup INSIDE history — must stay invisible
            (12, "an entirely different historical document about engines"),
        ],
        "doc_id long, text string",
    )
    increment = spark.createDataFrame(
        [
            (100, base),  # exact dup of history 10/11
            (101, "completely novel content that matches nothing at all here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in incremental_minhash_dedup(
            history, increment, "doc_id", "text"
        ).collect()
    }
    assert set(out) == {100, 101}, "one row per increment doc, nothing else"
    assert out[100]["is_new"] == 0 and out[100]["dup_of"] == 10  # min hist id
    assert out[100]["best_est"] == 1.0
    assert out[101]["is_new"] == 1 and out[101]["dup_of"] is None


def test_incremental_dedup_agrees_with_batch_pairs(spark, oracle_sf_dir):
    """Cross-validation on the real corpus: the incremental result must
    be exactly the per-increment-doc reduction of the BATCH operator's
    cross-side pairs — same banding, same agreement estimate, so for
    every increment doc: is_new=0 iff some batch pair links it to
    history, dup_of = min such history id, best_est = max agreement."""
    from git_log_to_sqlite_spark.operators import incremental_minhash_dedup

    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    history = docs.filter(F.col("doc_id") % 5 != 0)
    increment = docs.filter(F.col("doc_id") % 5 == 0)

    inc_rows = {
        r["doc_id"]: r
        for r in incremental_minhash_dedup(
            history, increment, "doc_id", "text"
        ).collect()
    }
    batch = minhash_lsh_pairs(docs, "doc_id", "text").collect()
    cross: dict[int, list] = {}
    for r in batch:
        a, b = r["id_a"], r["id_b"]
        if a % 5 == 0 and b % 5 != 0:
            cross.setdefault(a, []).append((b, r["est_jaccard"]))
        elif b % 5 == 0 and a % 5 != 0:
            cross.setdefault(b, []).append((a, r["est_jaccard"]))

    assert set(inc_rows) == {r["doc_id"] for r in increment.collect()}
    for doc_id, row in inc_rows.items():
        if doc_id in cross:
            hist_ids = [h for h, _ in cross[doc_id]]
            ests = [e for _, e in cross[doc_id]]
            assert row["is_new"] == 0, doc_id
            assert row["dup_of"] == min(hist_ids), doc_id
            assert row["best_est"] == max(ests), doc_id
        else:
            assert row["is_new"] == 1 and row["dup_of"] is None, doc_id
    assert any(r["is_new"] == 0 for r in inc_rows.values())  # non-vacuous


def test_pretrain_corpus_retention_telemetry(spark, oracle_sf_dir):
    """The pre-training pipeline's Observation funnel (input ->
    post_quality -> post_decontam -> post_mix) must equal
    independently recomputed stage counts from the standalone
    operators — one execution, no stage re-runs."""
    from git_log_to_sqlite_spark.operators import (
        decontaminate,
        token_budget_sample,
    )
    from git_log_to_sqlite_spark.operators.text import repetition_gate
    from git_log_to_sqlite_spark.plans.llm_ops import pretrain_corpus
    from git_log_to_sqlite_spark.plans.registry import table

    d = table(spark, oracle_sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 29 == 0)
    corpus = d.filter(F.col("doc_id") % 29 != 0)

    telemetry = {}
    out = pretrain_corpus(corpus, bench, telemetry=telemetry)
    packed_rows = out.count()  # the one action; metrics ride along
    got = {name: obs.get for name, obs in telemetry.items()}
    assert set(got) == {"input", "post_quality", "post_decontam", "post_mix"}

    quality = corpus.filter(
        repetition_gate(F.col("text")) & F.col("n_chars").between(50, 20000)
    )
    n_quality = quality.count()
    clean = (
        decontaminate(quality, bench, "doc_id", "text", ngram_n=4)
        .filter("contaminated = 0")
        .join(quality, "doc_id")
    )
    n_clean = clean.count()
    surv = clean.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("doc_id"),
        F.expr("min_by(source, doc_id)").alias("source"),
        F.min("n_chars").alias("n_chars"),
    )
    n_mix = token_budget_sample(
        surv, "doc_id", "n_chars", 4000, domain_col="source"
    ).count()

    assert got["input"]["rows"] == corpus.count()
    assert got["post_quality"]["rows"] == n_quality
    assert got["post_decontam"]["rows"] == n_clean
    assert got["post_mix"]["rows"] == n_mix == packed_rows
    assert corpus.count() >= n_quality >= n_clean >= n_mix > 0


def test_decontaminate_empty_benchmark_flags_nothing(spark):
    """An empty benchmark (or one with only too-short docs) must yield
    zero contamination — not an error — since its gram set is empty."""
    from git_log_to_sqlite_spark.operators import decontaminate

    bench = spark.createDataFrame([], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j")], "doc_id long, text string"
    )
    out = decontaminate(train, bench, "doc_id", "text").collect()
    assert {r["doc_id"]: r["contaminated"] for r in out} == {1: 0, 2: 0}


def test_incremental_dedup_empty_sides(spark):
    """Empty increment -> empty result; empty history -> every
    increment doc is new. Both must run, not error."""
    from git_log_to_sqlite_spark.operators import incremental_minhash_dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "h i j k l m n")], "doc_id long, text string"
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert incremental_minhash_dedup(docs, empty, "doc_id", "text").count() == 0
    out = incremental_minhash_dedup(empty, docs, "doc_id", "text").collect()
    assert len(out) == 2 and all(r["is_new"] == 1 for r in out)


def test_token_budget_empty_and_single_row(spark):
    from git_log_to_sqlite_spark.operators import token_budget_sample

    empty = spark.createDataFrame([], "id long, dom string, w long")
    assert token_budget_sample(empty, "id", "w", 100, domain_col="dom").count() == 0
    one = spark.createDataFrame([(1, "d", 999)], "id long, dom string, w long")
    rows = token_budget_sample(one, "id", "w", 1, domain_col="dom").collect()
    assert len(rows) == 1 and rows[0]["cum_before"] == 0


def test_token_hofs_stay_capture_free(spark):
    """Regression guard for the round-7 O(n^2) finding: shingles() and
    the repetition bigram builder must stay zip_with-over-slices (array
    ARGUMENTS evaluate once) — an index-lambda over sequence() that
    references the tokens construction from inside the lambda re-runs
    it per element. The expression tree is inspected symbolically; a
    reintroduction of transform(sequence...) with a captured array
    flips this before it costs anyone a 60x slowdown."""
    from pyspark.sql import functions as F

    from git_log_to_sqlite_spark.operators.dedup import shingles
    from git_log_to_sqlite_spark.operators.text import repetition_parts

    sh_expr = str(shingles(F.split(F.col("t"), " "), 3)._jc).lower()
    assert "zip_with" in sh_expr
    # the index-lambda form contained "transform(sequence("
    assert "transform(sequence(" not in sh_expr.replace(" ", "")

    _, _, _, top = repetition_parts(F.col("t"))
    top_expr = str(top._jc).lower().replace(" ", "")
    assert "transform(sequence(" not in top_expr
    assert "aggregate(sort_array" in top_expr or "aggregate(sortarray" in top_expr


def test_token_budget_routes_agree_on_fractional_weights(spark):
    """Fractional (double) weights: ``cum_before`` keeps the double
    type (no cast) and equals a Python running sum, per domain in
    md5-coin admission order, to 1e-9."""
    from git_log_to_sqlite_spark.operators import token_budget_sample
    from git_log_to_sqlite_spark.operators.sampling import uniform_key

    random.seed(29)
    df = spark.createDataFrame(
        [(i, f"s{i % 5}", random.uniform(0.5, 9.5)) for i in range(300)],
        "doc_id long, source string, w double",
    ).repartition(8)
    win = token_budget_sample(df, "doc_id", "w", 50, domain_col="source")
    assert dict(win.dtypes)["cum_before"] == "double"
    got = {r["doc_id"]: r["cum_before"] for r in win.collect()}

    rows = df.select(
        "doc_id", "source", "w", uniform_key(F.col("doc_id")).alias("u")
    ).collect()
    want, running = {}, {}
    for r in sorted(rows, key=lambda r: (r["source"], r["u"], r["doc_id"])):
        before = running.get(r["source"], 0.0)
        if before < 50:
            want[r["doc_id"]] = before
        running[r["source"]] = before + r["w"]
    assert set(got) == set(want) and got
    assert all(abs(got[k] - want[k]) < 1e-9 for k in got)


def test_append_assignment_never_shuffles_the_data(clustered_vectors, tmp_path):
    """IvfIndex.append's scale contract ('one codegen projection, no
    shuffle beyond the partitioned write'): the assignment plan's only
    exchanges move the k-row centroid model state (a SinglePartition
    collapse of k rows + its one-row broadcast) — the appended
    vectors themselves must never hash-shuffle, at any corpus size by
    construction. Measured on the executed plan the daily-ingest path
    builds."""
    from git_log_to_sqlite_spark.operators import IvfIndex
    from git_log_to_sqlite_spark.operators.clustering import (
        assign_clusters_table,
    )
    from git_log_to_sqlite_spark.operators.similarity import (
        as_double,
        vnorm,
    )

    e = clustered_vectors
    idx = IvfIndex(e.sparkSession, str(tmp_path / "ivf"))
    idx.build(
        e.select("vec_id", "embedding"), k=4, max_iter=3,
        fit_sample_size=None,
    )
    cdf = e.sparkSession.read.parquet(f"{idx.base}/centroids")
    new = e.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double(F.col("embedding")).alias("_cv"),
        vnorm(F.col("embedding")).alias("_cn"),
    )
    af = assign_clusters_table(new, "_cv", cdf)
    af.collect()
    plan = af._jdf.queryExecution().executedPlan().toString()
    exchanges = [
        ln.strip() for ln in plan.splitlines() if "Exchange" in ln
    ]
    # the executed adaptive plan may render the k-row centroid branch
    # more than once; the CONTRACT is about exchange KINDS: every one
    # is either the model-state broadcast or the k-row SinglePartition
    # collapse feeding it — never a hash shuffle of the data
    assert exchanges, plan
    assert all(
        "BroadcastExchange" in ln or "SinglePartition" in ln
        for ln in exchanges
    ), exchanges
    assert not any("hashpartitioning" in ln for ln in exchanges), (
        "the appended data hash-shuffled — the O(increment) append "
        "contract is broken"
    )


# ---------------------------------------------------------------------------
# Subword tokenizer seam (round 15): equivalence-shaped tests on the
# stub — the Arrow seam must change the TRANSPORT of the count, never
# its value, so every assertion compares the mapInPandas path against
# the JVM codegen column computing the same segmentation.


def test_subword_seam_matches_jvm_bpe_ish_column(spark, oracle_sf_dir):
    """The default stub counts the exact BPE-ish segments token_counts
    derives JVM-side (the Python regex is kept character-identical to
    the JVM pattern), so the Arrow path must equal the codegen column
    on every document of the real corpus."""
    from git_log_to_sqlite_spark.operators import (
        subword_token_counts,
        token_counts,
    )

    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    jvm = {
        r["doc_id"]: r["bpe_ish_tokens"]
        for r in token_counts(docs, "text").select("doc_id", "bpe_ish_tokens").collect()
    }
    seam = {
        r["doc_id"]: r["subword_tokens"]
        for r in subword_token_counts(docs, "doc_id", "text").collect()
    }
    assert seam == jvm and len(seam) > 0


def test_pack_token_shards_seam_row_identical_to_jvm_basis(spark, oracle_sf_dir):
    """pack_token_shards with a whitespace-counting tokenizer_fn through
    the Arrow seam is ROW-IDENTICAL to the default JVM whitespace
    basis — i.e. the knob swaps the count's transport, and the prefix
    sum / shard assignment downstream see exactly the same numbers.
    The Python counter mirrors F.split(text, ' ') semantics (split on
    single spaces, empties kept)."""
    from git_log_to_sqlite_spark.operators import pack_token_shards

    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    base = sorted(
        tuple(r) for r in pack_token_shards(docs, "doc_id", "text").collect()
    )
    seam = sorted(
        tuple(r)
        for r in pack_token_shards(
            docs, "doc_id", "text",
            tokenizer_fn=lambda t: len(t.split(" ")) if t else 0,
        ).collect()
    )
    assert base == seam and len(base) > 0


def test_subword_seam_custom_tokenizer_and_empty_text(spark):
    """A custom tokenizer_fn (the real-tokenizer slot) is applied
    per-text with the documented null/empty -> 0 contract, and shard
    budgeting reflects ITS counts, not the whitespace basis."""
    from git_log_to_sqlite_spark.operators import (
        pack_token_shards,
        subword_token_counts,
    )

    rows = [(0, "aa bb"), (1, ""), (2, None), (3, "cc dd ee")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # "tokenizer" that charges 3 tokens per character — deterministic
    # and deliberately unlike any whitespace count
    fn = lambda t: 3 * len(t) if t else 0  # noqa: E731
    got = {
        r["doc_id"]: r["subword_tokens"]
        for r in subword_token_counts(df, "doc_id", "text", fn).collect()
    }
    assert got == {0: 15, 1: 0, 2: 0, 3: 24}
    packed = {
        r["doc_id"]: (r["n_tokens"], r["shard_id"])
        for r in pack_token_shards(df, "doc_id", "text", budget=16,
                                   tokenizer_fn=fn).collect()
    }
    # cum: 15, 15, 15, 39 -> shards floor((cum-1)/16): 0, 0, 0, 2
    assert packed == {0: (15, 0), 1: (0, 0), 2: (0, 0), 3: (24, 2)}


def test_pack_token_shards_default_basis_null_text_counts_zero(spark):
    """The DEFAULT (JVM whitespace) basis must count null text as 0
    tokens — the raw size(split(NULL)) would yield -1 and poison every
    downstream cum_tokens/shard_id with a negative (round-15 ADVICE).
    Empty string stays 1 (split('', ' ') = ['']): the whitespace-basis
    oracle semantics, deliberately unlike the seam's empty -> 0."""
    from git_log_to_sqlite_spark.operators import pack_token_shards

    rows = [(0, "aa bb"), (1, None), (2, ""), (3, "cc dd ee")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    packed = {
        r["doc_id"]: (r["n_tokens"], r["shard_id"])
        for r in pack_token_shards(df, "doc_id", "text", budget=4).collect()
    }
    # n_tokens: 2, 0, 1, 3; cum: 2, 2, 3, 6 -> floor((cum-1)/4): 0,0,0,1
    assert packed == {0: (2, 0), 1: (0, 0), 2: (1, 0), 3: (3, 1)}
    assert all(n >= 0 and s >= 0 for n, s in packed.values())


def test_pack_token_shards_default_basis_dotted_columns(spark):
    """pack_token_shards' DEFAULT (JVM) basis must accept dotted/spaced
    column names like the tokenizer_fn path does — both bases route
    through the same safe-name aliasing (round-16 review note)."""
    from git_log_to_sqlite_spark.operators import pack_token_shards

    df = spark.createDataFrame(
        [(0, "aa bb"), (1, "cc dd ee")], ["doc id.v-1", "my.text"]
    )
    packed = {
        r["doc id.v-1"]: (r["n_tokens"], r["shard_id"])
        for r in pack_token_shards(
            df, "doc id.v-1", "my.text", budget=4
        ).collect()
    }
    assert packed == {0: (2, 0), 1: (3, 1)}


def test_subword_seam_id_column_needing_backticks(spark):
    """The mapInPandas schema is built as a StructType, not an
    interpolated DDL string — an id column whose name needs quoting
    (dots/spaces/hyphens) must pass through intact (round-15 ADVICE)."""
    from git_log_to_sqlite_spark.operators import subword_token_counts

    df = spark.createDataFrame(
        [(0, "aa bb"), (1, "cc")], ["doc id.v-1", "text"]
    )
    out = subword_token_counts(df, "doc id.v-1", "text")
    assert out.columns == ["doc id.v-1", "subword_tokens"]
    got = {r["doc id.v-1"]: r["subword_tokens"] for r in out.collect()}
    assert set(got) == {0, 1} and all(v > 0 for v in got.values())


def test_subword_seam_plan_is_single_scan_projection(spark, oracle_sf_dir):
    """The seam is a pure projection: one scan, zero exchanges — the
    tokenizer must never induce a shuffle (the scale contract that
    makes it affordable at corpus size)."""
    from git_log_to_sqlite_spark.operators import subword_token_counts

    docs = spark.read.parquet(f"{oracle_sf_dir}/documents.parquet")
    out = subword_token_counts(docs, "doc_id", "text")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# Probe fan-out: every quantizer consumer runs nearest_cells_table, the
# one-row broadcast centroid array; the literal _nearest_cells
# expression stays as its reference. Both forms are EQUAL, not just
# similar.


def test_nearest_cells_table_equals_literal_fanout(spark, oracle_sf_dir):
    """nearest_cells_table must reproduce the literal fan-out's ORDERED
    n_probe cell list per vector — same distances, same (distance,
    cell) struct tie-break — on the real embeddings table against a
    k=40 quantizer (above the switch threshold), in both the
    direct-fold and rounded dot-identity modes."""
    from git_log_to_sqlite_spark.operators import nearest_cells_table
    from git_log_to_sqlite_spark.operators.similarity import _nearest_cells

    emb = spark.read.parquet(f"{oracle_sf_dir}/embeddings.parquet").limit(200)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(40).collect()
    ]
    cdf = spark.createDataFrame(
        [(j, c) for j, c in enumerate(cents)], "cell int, centroid array<double>"
    )
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("_v"))
    for rt in (None, 6):
        want = {
            (r["vec_id"], tuple(r["_pc"]))
            for r in base.select(
                "vec_id", _nearest_cells("_v", cents, 3, round_to=rt).alias("_pc")
            ).collect()
        }
        got = {
            (r["vec_id"], tuple(r["_probe_cells"]))
            for r in nearest_cells_table(base, "_v", cdf, 3, round_to=rt).collect()
        }
        assert got == want and len(got) == 200
