"""Deduplication operators: MinHash-LSH, SimHash, n-gram Jaccard,
exact-substring spans, and Hamming banding over any signature.

Design rules for 100 TB:
  * group/join on compact derived keys (128-bit hash, 60-bit minhash,
    band key) — the shuffle never carries document bodies;
  * every pairwise stage is an equi-join on a derived key (shingle,
    LSH band), so cost tracks candidate mass, not n^2;
  * hashes are md5-based and deterministic — results are reproducible
    across runs, engines, and cluster layouts (no seed drift).
"""

from __future__ import annotations

import re
from fractions import Fraction
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .caching import pin

if TYPE_CHECKING:
    from pyspark.sql import Observation

# Logical-plan node names whose presence means the plan already
# contains (or states intent about) an exchange, matched at node-name
# position in the tree string — see _spread. Prefix match, so
# RepartitionByExpression / Deduplicate / GlobalLimit variants hit.
_SHUFFLE_NODE_RE = re.compile(
    r"^[\s:+\-]*(?:Repartition|Aggregate|Join|Window|Sort|Deduplicate"
    r"|Distinct|GlobalLimit|Except|Intersect)",
    re.MULTILINE,
)

# The hot-key valve's one setting: ``cap_hot_keys=True`` caps every
# repeated key at VALVE_HEADROOM x the VALVE_QUANTILE of the repeated-key
# counts (the jaccard shingle valve applies the quantile directly; see
# _drop_hot_keys). The DuckDB oracle twins read the same two constants.
VALVE_QUANTILE = 0.92
VALVE_HEADROOM = 10

# Word n-gram length of the MinHash and n-gram Jaccard shingles.
_SHINGLE_N = 3


def md5_long(col: Column, hex_chars: int = 15) -> Column:
    """First ``hex_chars`` hex digits of md5 as a non-negative BIGINT
    (15 hex = 60 bits, inside int64)."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("long")


def ngram_chain(tokens: Column, n: int) -> Column:
    """Positional word n-grams WITH multiplicity (a bag, in document
    order). Guarded so short docs yield [] (slice with a non-positive
    length only exists in the untaken CASE branch).

    Built as a zip_with chain over n shifted slices — NEVER as
    ``transform(sequence(...), i -> ...get(tokens, i+k)...)``: a
    higher-order function's array ARGUMENT is evaluated once, but an
    array referenced from inside its LAMBDA is re-evaluated per
    element, so the index-lambda form re-runs the whole ``tokens``
    construction (typically ``split``) once per shingle — O(tokens^2)
    per document. Measured on 200 x 2000-token docs: 18.7 s
    (index-lambda) vs 0.3 s (this form), identical outputs. This is
    the ONE place the chain lives: :func:`shingles` distincts it,
    :func:`window_table` posexplodes it and DSIR's hashed bigram
    features consume the raw bag."""
    L = F.size(tokens) - (n - 1)
    parts = [F.slice(tokens, k + 1, L) for k in range(n)]
    acc = parts[0]
    for k in range(1, n):
        acc = F.zip_with(acc, parts[k], lambda a, b: F.concat_ws(" ", a, b))
    return F.when(F.size(tokens) >= n, acc).otherwise(
        F.array().cast("array<string>")
    )


def shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a tokens array — the deduped
    form of :func:`ngram_chain` (see it for the zip_with-vs-
    index-lambda rationale)."""
    return F.when(
        F.size(tokens) >= n, F.array_distinct(ngram_chain(tokens, n))
    ).otherwise(F.array().cast("array<string>"))


def exploded_shingles(text_col: str, n: int) -> Column:
    """One-row-per-distinct-n-gram explode expression over a text
    column. A Column, not a per-frame closure: it resolves against
    whatever frame selects it (both sides of decontaminate, the
    pretrain pipeline's corpus and benchmark) by column NAME."""
    return F.explode(shingles(F.split(F.col(text_col), " "), n))


def _spread(df: DataFrame) -> DataFrame:
    """Ensure the input has at least default-parallelism partitions
    before a compute-heavy explode: a single-file scan arrives as ONE
    partition and would serialize the shingle/hash work on one core.
    The repartition shuffles only the raw rows (cheap relative to the
    explode it unlocks); inputs that are already wide pass through.

    The probe is the PHYSICAL partition count
    (``df.rdd.getNumPartitions()``): every cheaper proxy is unsound
    under FileSourceScan's partition packing (``len(inputFiles())``
    fails in both directions — many tiny files pack into 1-2
    partitions via openCostInBytes, so a high file count skips the
    widening exactly when the explode would serialize, and
    through-shuffle leaf files make an already-wide aggregated frame
    look narrow; byte-size estimates re-implement the packing logic
    they try to avoid).

    The probe runs ONLY on shuffle-free plans (scan / filter /
    project / generate), where ``.rdd`` compiles whole-stage codegen
    but launches no job. On a plan containing exchanges the probe
    itself would EXECUTE them — under AQE, ``.rdd`` forces the final
    physical plan, which submits and awaits every upstream query
    stage — and the real action would then run the same shuffles
    again, doubling the work. Those plans skip the guard instead:
    anything below a shuffle is already ``spark.sql.shuffle.
    partitions`` wide (and an explicit repartition states the
    caller's intent), so the single-partition pathology this guard
    exists for cannot occur there."""
    sc = df.sparkSession.sparkContext
    try:
        analyzed = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        analyzed = ""
    # Match shuffle markers only where NODE NAMES render in the tree
    # string: at the start of a line, after the tree-branch prefix
    # (":  ", "+- ", ":- ", indentation). A bare substring scan
    # false-positives on user COLUMN names (SortKey#12, JoinDate#3)
    # or file paths echoed inside a node's bracket list, silently
    # skipping the widening in exactly the single-partition case this
    # guard exists for. Subquery plans print as indented sub-trees in
    # the analyzed string, so their nodes still match here. Prefix
    # (not word) match keeps RepartitionByExpression etc. covered.
    if _SHUFFLE_NODE_RE.search(analyzed):
        return df
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8
) -> DataFrame:
    """Wide-format MinHash signatures over word trigram shingles:
    (id, mh_0 .. mh_{k-1}).

    All K minhashes are computed as K min-aggregates in ONE groupBy
    pass over the exploded shingles — no K-fold row explosion and no
    per-(id, j) shuffle (the naive long-format plan shuffles K x
    |shingles| rows; this shuffles |shingles| rows once and reduces
    map-side). Signature size is K x 8 bytes regardless of document
    length.
    """
    df = _spread(df)
    sh = df.select(
        F.col(id_col).alias("_id"),
        exploded_shingles(text_col, _SHINGLE_N).alias("shingle"),
    )
    mins = [
        F.min(md5_long(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"mh_{j}")
        for j in range(num_hashes)
    ]
    return sh.groupBy("_id").agg(*mins).withColumnRenamed("_id", id_col)


def _band_keys(
    mh: DataFrame, id_col: str, num_hashes: int, rows_per_band: int
) -> DataFrame:
    """Project wide signatures to (id, band, band_key) rows — a pure
    codegen fan-out (array of structs + explode), no aggregate."""
    n_bands = num_hashes // rows_per_band
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh_{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return mh.select(F.col(id_col), F.explode(band_entries).alias("e")).select(
        id_col, F.col("e.band").alias("band"), F.col("e.band_key").alias("band_key")
    )


def _check_valve(cap_hot_keys: bool, observation: "Observation | None") -> None:
    """The valve's one argument check, run by every entry point BEFORE
    its first pin: a raise after a pin leaks a never-materialized
    cache-registry entry until ``release_caches()``. Telemetry needs
    the valve — without it the observation is never attached and
    ``Observation.get`` blocks or raises far from the cause."""
    if observation is not None and not cap_hot_keys:
        raise ValueError(
            "observation requires cap_hot_keys=True; without the valve it "
            "would never be attached and Observation.get would block/raise "
            "far from the cause"
        )


def _quantile_cap(d_values: DataFrame) -> DataFrame:
    """1-row ``(_max_df)`` DataFrame: the smallest posting-list length
    d* such that at least fraction :data:`VALVE_QUANTILE` of (length
    >= 2) posting lists have length <= d* — a discrete quantile of the
    key-frequency distribution, computed INSIDE the plan (no driver
    collect, no corpus constant) — the valve's bucket-size statistic.

    Takes a ``(d)`` DataFrame with one row per length-{>=2} posting
    list, derived from the PERSISTED per-key count table (the same
    table that drives the cap-before-collect hot-set filter), so the
    histogram costs no extra corpus pass. (A separate count
    aggregation over the exploded ``(_id, shingle)`` table can never
    share work with the posting build — the count-agg's partial
    differs from partial_collect_list, so the two branches never share
    an exchange and the whole corpus would be scanned and exploded
    TWICE, half the jaccard query's wall clock at sf0.1.) The persisted
    set is exactly the repeated-key posting lists — a subset of the one
    shuffle output the pair explode consumes anyway, and in natural
    corpora (rare keys dominate) a small fraction of the corpus;
    MEMORY_AND_DISK spills instead of evicting under pressure.

    The fold runs over the df *histogram* (one row per distinct
    posting-list length — bounded by the longest posting list,
    thousands of rows at worst at corpus scale), not over data.
    Folding the sorted histogram ARRAY inside one global aggregate
    computes d* with one exchange: partial collect_list combines
    map-side, sort_array orders by d (distinct, so the tie field never
    decides), and the running sum latches the first crossing. A sort
    plus two global windows would cost an extra single-partition
    exchange for the same answer; collecting the histogram into one
    array is exactly as bounded as such a window — both put the whole
    histogram on one task.
    """
    hist = d_values.groupBy("d").agg(F.count(F.lit(1)).alias("n_sh"))
    # The threshold compare is pure integer arithmetic (cum * den >=
    # num * tot with q = num/den taken from q's decimal digits), so the
    # Spark and DuckDB twins can never disagree by a rounding ulp the
    # way ceil(double * count) can (e.g. 0.9 * 10 = 9.000000000000002
    # in doubles).
    frac = Fraction(str(VALVE_QUANTILE))
    # _tot is an AGGREGATE output, not a projected fold: CollapseProject
    # would inline a projected fold into the crossing lambda below and
    # re-evaluate it PER ELEMENT (O(H^2) over the histogram); an
    # aggregate attribute cannot be inlined.
    one = hist.agg(
        F.sort_array(F.collect_list(F.struct("d", "n_sh"))).alias("_hist"),
        F.sum("n_sh").alias("_tot"),
    )
    # running sum in d order; `best` latches the FIRST d whose
    # cumulative count crosses q — the smallest such d.
    crossing = F.aggregate(
        F.col("_hist"),
        F.struct(
            F.lit(0).cast("long").alias("cum"),
            F.lit(None).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            (acc["cum"] + x["n_sh"]).alias("cum"),
            F.coalesce(
                acc["best"],
                F.when(
                    (acc["cum"] + x["n_sh"]) * F.lit(frac.denominator)
                    >= F.lit(frac.numerator) * F.col("_tot"),
                    x["d"],
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return one.select(crossing.alias("_max_df"))


def _drop_hot_keys(
    keyed: DataFrame,
    key_cols: list[str],
    observation: "Observation | None",
    dropped_name: str,
    probe: bool = False,
    headroom: int = VALVE_HEADROOM,
) -> DataFrame:
    """The hot-key valve every ``cap_hot_keys=True`` operator shares
    (jaccard shingles, minhash/simhash band buckets, substring and
    frame windows): anti-filter the degenerate keys out of ``keyed``
    BEFORE it feeds a pair join or a posting aggregate.

    A key with d rows emits d(d-1)/2 candidate pairs — quadratic in the
    hottest key. Degenerate keys are a real corpus pathology: a
    stop-shingle, near-empty documents all minhashing to the same band
    key, templated boilerplate collapsing whole shards onto one window.
    Three steps: (1) a map-combinable count per key — partial counts
    combine map-side, so the count shuffle is skew-free by
    construction; (2) cap = ``headroom`` x the :data:`VALVE_QUANTILE`
    of the repeated-key count distribution (:func:`_quantile_cap`,
    derived in-plan and broadcast back as one row; the headroom
    multiply is integer and mirrored in every SQL oracle twin, so the
    engines cannot diverge by a rounding ulp); (3) the above-cap key
    set, PINNED — one row per degenerate key, near-zero rows in natural
    corpora, and the quantile chain above it is three tiny serialized
    stages that would otherwise re-execute on every consumption —
    anti-joins ``keyed``.

    The band and window valves are a SPREAD guard, not a tail cut
    (``headroom`` = :data:`VALVE_HEADROOM`). (a) Each LSH band carries
    rows_per_band/num_hashes of the whole signature, so buckets
    moderately past the bulk DO witness unique true pairs (measured at
    sf0.1: the one d=13 bucket against a p92 of 3 carries 77 pairs no
    other band re-finds), and a shared passage's continuity depends on
    every window along it — a direct tail quantile would shed recall.
    (b) A degenerate bucket inflates its own histogram's tail, so as
    q -> 1 the derived cap converges to the degenerate size and the
    valve never fires — the failure mode it exists for. Anchoring at
    the bulk (p92) and granting an order-of-magnitude headroom keeps
    every naturally-sized bucket (natural max / p92 stays within one
    magnitude — zipfian band keys are exactly what minhashing
    destroys) while a degenerate key, which lands orders of magnitude
    out, is dropped. The anchor has one limit: when degenerate keys
    make up more than 1 - :data:`VALVE_QUANTILE` of the distinct
    repeated keys (a small corpus, or one where most repeated buckets
    are degenerate), they set the quantile themselves, the derived cap
    rises to their size and nothing is dropped. No setting caps that
    case; the valve has no absolute cap. The
    jaccard shingle valve passes ``headroom=1``: rare shingles carry
    the near-dup pairs, so the direct quantile is lossless there.

    The anti-join is deliberately unhinted: the hot set is tiny in
    natural corpora (the planner broadcasts it from size estimates)
    but grows with corpus pathology — the top (1-q) fraction of
    distinct repeated keys grows LINEARLY with the corpus, and a forced
    broadcast at corpus scale would be multi-GB and fail outright — so
    the planner degrades to a memory-safe shuffle anti-join on the
    same key the downstream join or aggregate shuffles on anyway.

    Telemetry is EAGER: ``dropped_name`` counts capped keys, and
    ``probe`` picks the second metric — by default ``pairs_avoided`` =
    sum d(d-1)/2 over capped keys (self-join callers); ``probe=True``
    reports ``rows_dropped`` = sum d (probe-side callers, where ``keyed`` is the build side of a probe x corpus
    join: the candidates avoided there are |probe bucket| x d,
    unknowable from this side alone, and the self-join formula would
    overstate the win). The metrics are computed at call time by a
    dedicated tiny job over the pinned count table (the consuming
    query reuses it), and ``Observation.get`` is readable immediately.
    This is the only shape that survives Spark's runtime machinery, all
    measured: (a) a CollectMetrics node inside an AQE query stage —
    anywhere below the exchanges the consuming join needs — does not
    propagate its metrics row once the corpus is big enough for AQE to
    wrap stages, and Observation.get fails on an empty row; (b) when
    the valve does not fire, AQE's empty-relation propagation prunes
    the runtime-empty anti-join build side together with any observe
    node inside it; (c) a self-join of one observed frame duplicates
    the CollectMetrics node and the metrics row again never
    materializes. Observing a root-level frame that the operator itself
    consumes exactly once sidesteps all three. Sums coalesce to 0 so an
    empty d>=2 histogram reports honest zeros, never SQL NULL.
    """
    # counts is consumed twice (histogram, then hot filter) — 16 B per
    # distinct repeated key, the smallest aggregate in any caller.
    # pin() registers it for release_caches().
    counts = pin(
        keyed.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") >= 2)
    )
    # 1-row broadcast: every count row sees the derived cap (a
    # BuildRight nested-loop join whose build side is ONE row — the
    # broadcast-scalar plan, not a data x data nested loop).
    hot = counts.crossJoin(
        F.broadcast(_quantile_cap(counts.select(F.col("d").cast("long").alias("d"))))
    )
    cap = F.col("_max_df") * F.lit(headroom)
    if observation is not None:
        d = F.col("d").cast("long")
        if probe:
            second = F.coalesce(
                F.sum(F.when(d > cap, d).otherwise(0)), F.lit(0)
            ).cast("long").alias("rows_dropped")
        else:
            second = F.coalesce(
                F.sum(F.when(d > cap, d * (d - 1) / 2).otherwise(0)), F.lit(0)
            ).cast("long").alias("pairs_avoided")
        hot.observe(
            observation,
            F.coalesce(F.sum((d > cap).cast("long")), F.lit(0)).alias(
                dropped_name
            ),
            second,
        ).count()  # JVM-only drain; completes the Observation
    hot = pin(hot.filter(F.col("d").cast("long") > cap).select(*key_cols))
    return keyed.join(hot, key_cols, "left_anti")


def _band_pairs(
    bands_a: DataFrame,
    bands_b: DataFrame,
    a_ids: list[str],
    b_ids: list[str],
) -> DataFrame:
    """Candidate pairs from a bands x bands equi-join on (band,
    band_key) — the ONE band join every LSH family shares (minhash band
    keys, simhash / perceptual bit slices). Returns ``(*a_ids,
    *b_ids)`` distinct: every pair that shares at least one bucket,
    once. The id column sets must be disjoint names.

    Probe shape (:func:`hamming_probe`,
    :func:`incremental_minhash_dedup`): probe bands x corpus bands; a
    probe side small enough to broadcast gives a BroadcastHashJoin,
    which parallelizes a hot bucket's product over the corpus side's
    input splits. Self shape (:func:`minhash_lsh_pairs`,
    :func:`hamming_pairs`): the same bands frame on both sides with its
    id renamed to ``id_a`` / ``id_b``, then ``.filter(id_a < id_b)``,
    which the optimizer pushes through the distinct into the join
    condition. A hot bucket with d members emits d(d-1)/2 self pairs on
    one join key; the defence is the :func:`_drop_hot_keys` valve
    upstream and AQE's skew-join split."""
    return (
        bands_a.join(bands_b, ["band", "band_key"])
        .select(*a_ids, *b_ids)
        .distinct()
    )


def _minhash_verified(
    cand: DataFrame,
    mh_a: DataFrame,
    mh_b: DataFrame,
    id_col: str,
    a_id: str,
    b_id: str,
    num_hashes: int,
    min_agree: float,
) -> DataFrame:
    """The minhash verify: join each ``(a_id, b_id)`` candidate back to
    its two wide signature rows (``mh_a`` keyed by ``a_id``, ``mh_b``
    by ``b_id``; both carry ``id_col``) and keep it when the fraction
    ``est`` of agreeing minhashes is >= ``min_agree`` — one column
    comparison per hash on a single joined row, no K-row re-join."""
    sa = mh_a.select(
        F.col(id_col).alias(a_id),
        *[F.col(f"mh_{j}").alias(f"_a{j}") for j in range(num_hashes)],
    )
    sb = mh_b.select(
        F.col(id_col).alias(b_id),
        *[F.col(f"mh_{j}").alias(f"_b{j}") for j in range(num_hashes)],
    )
    agree = sum(
        F.when(F.col(f"_a{j}") == F.col(f"_b{j}"), 1).otherwise(0)
        for j in range(num_hashes)
    )
    return (
        cand.join(sa, a_id)
        .join(sb, b_id)
        .withColumn("est", agree.cast("double") / num_hashes)
        .filter(F.col("est") >= min_agree)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    min_agree: float = 0.25,
    cap_hot_keys: bool = False,
    observation: "Observation | None" = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding.

    Returns (id_a, id_b, est_jaccard). Candidates come from an
    equi-join on (band, band_key) — two docs collide iff one band of
    their signatures matches exactly, so the join output is the
    candidate set itself, never n^2. Working from wide signatures,
    band keys are a projection (no extra aggregate) and the agreement
    estimate is a column comparison on a single joined row per pair
    (no K-row re-join).

    ``cap_hot_keys=True`` engages the hot-band skew valve
    (:func:`_drop_hot_keys`): degenerate band buckets — the one
    quadratic-risk surface of the band join — are anti-filtered before
    the self-join, bounding candidate mass by cap x buckets. Pass an
    :class:`~pyspark.sql.Observation` (requires the valve) to receive
    ``bands_dropped`` / ``pairs_avoided`` telemetry.
    """
    _check_valve(cap_hot_keys, observation)
    # The signature table is referenced 4x downstream (both band-join
    # branches + both agreement joins); without persisting, Spark
    # recomputes the shingle explode + K-way min aggregate per branch.
    # Signatures are K x 8 bytes/doc — tiny relative to the corpus.
    # pin() registers the cache for release_caches().
    mh = pin(minhash_signatures(df, id_col, text_col, num_hashes))
    bands = _band_keys(mh, id_col, num_hashes, rows_per_band)
    if cap_hot_keys:
        bands = _drop_hot_keys(bands, ["band", "band_key"], observation, "bands_dropped")

    cand = _band_pairs(
        bands.select("band", "band_key", F.col(id_col).alias("id_a")),
        bands.select("band", "band_key", F.col(id_col).alias("id_b")),
        ["id_a"],
        ["id_b"],
    ).filter(F.col("id_a") < F.col("id_b"))
    return _minhash_verified(
        cand, mh, mh, id_col, "id_a", "id_b", num_hashes, min_agree
    ).select("id_a", "id_b", F.col("est").alias("est_jaccard"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.2,
    cap_hot_keys: bool = False,
    observation: "Observation | None" = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs >= threshold via an inverted index.

    Plan shape: ONE groupBy(shingle) builds the posting list (sorted
    doc ids per shingle), then each posting list explodes into its
    (i < j) id pairs and a second groupBy counts common shingles per
    pair. This replaces the naive shingle self-join (two shuffle
    branches + a join, recomputing the explode on both sides) with two
    shuffles total — same output, about half the shuffle volume.

    ``cap_hot_keys=True`` engages the skew valve: a hot (stop-)shingle
    whose posting list has d documents contributes d(d-1)/2 pairs —
    quadratic in the hottest key, the thing that falls over first at
    corpus scale. Above-cap shingles are anti-filtered out of the
    exploded stream BEFORE the posting aggregate (round 7: a
    map-combinable per-shingle count derives the hot set, which
    broadcasts back), so neither the collect_list buffer nor the pair
    explode ever sees a hot shingle — a stop-shingle posting array
    would otherwise be O(corpus), the operator's OOM unit. The cap makes the reported jaccard a lower
    bound: hot shingles no longer count toward the intersection, while
    union sizes stay full-corpus. In practice near-dup pairs are
    carried by their rare shingles — so the cap is the p92 of the
    posting-list-length distribution itself (no spread-guard headroom),
    derived inside the plan: the >=0.2 pair SET is unchanged at both
    test SFs while the pair explode shrinks measurably.

    Pass an :class:`~pyspark.sql.Observation` as ``observation``
    (requires the valve) to receive eager ``shingles_dropped`` /
    ``pairs_avoided`` telemetry (:func:`_drop_hot_keys`).
    """
    _check_valve(cap_hot_keys, observation)
    df = _spread(df)
    # 64-bit-hash the shingle immediately: the groupBy/shuffle key is
    # 8 bytes instead of a 20-40 byte trigram string (~10% here, and
    # the dominant shuffle-bytes saving at corpus scale). A collision
    # would merge two shingles' posting lists; at S distinct shingles
    # the probability is ~S^2/2^65 — for S = 10^9, about 3e-2 per
    # CORPUS, and a single collision perturbs one pair count by 1.
    sh = df.select(
        F.col(id_col).alias("_id"),
        exploded_shingles(text_col, _SHINGLE_N).alias("shingle"),
    ).select("_id", F.xxhash64("shingle").alias("shingle"))
    # per-doc shingle count is a pure projection (shingles() dedups),
    # NOT an aggregate over the exploded table — zero extra shuffles.
    # Persisted because BOTH sides of the final pair join consume it
    # and neither static planning nor AQE reuses the identical
    # broadcast subtree (verified on the executed plan: 0
    # ReusedExchange) — without the cache the full text column is
    # scanned and shingled twice more. The cached table is two machine
    # words per DOCUMENT (not per shingle), the smallest frame in the
    # operator; it spills via MEMORY_AND_DISK if even that binds.
    sizes = pin(
        df.select(
            F.col(id_col).alias("_id"),
            F.size(shingles(F.split(F.col(text_col), " "), _SHINGLE_N)).alias("n_sh"),
        )
    )
    if cap_hot_keys:
        # Two-phase cap (round 7): bound the AGGREGATE, not just its
        # output. Filtering posting lists after collect_list still
        # builds the full array for every hot shingle first — a
        # stop-shingle posting is O(corpus), the OOM/skew unit of this
        # operator at scale. Instead: (1) a map-combinable count per
        # shingle (partial counts combine map-side, so the shuffle
        # carries one (shingle, n) pair per shingle per map task —
        # skew-free by construction); (2) the above-cap shingle set
        # anti-filters the exploded stream BEFORE collect_list, so no
        # aggregation buffer ever exceeds cap ids. Costs one extra
        # scan+shingle map pass over the corpus; persisting the
        # exploded (id, shingle) stream instead would cache
        # ~16 B x every shingle occurrence (corpus-sized), strictly
        # worse at scale. The unhinted anti-join still compiles a
        # BroadcastHashJoin LeftAnti at bench SF, keeping the map-side
        # drop of hot rows before the shuffle — this matters because
        # the join sits below the postings cache boundary, where AQE
        # does not replan.
        sh = _drop_hot_keys(
            sh, ["shingle"], observation, "shingles_dropped", headroom=1
        )
    postings = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_list("_id")).alias("ids")
    ).filter(F.size("ids") >= 2)
    if cap_hot_keys:
        # With a cap every posting list is bounded (<= cap ids), so the
        # postings table is a safe, compact cache; pinning it makes
        # repeat invocations in one session (bench's min-of-3, a
        # notebook iterating on thresholds) skip the corpus scan +
        # explode + collect entirely. Uncapped postings are unbounded
        # and are deliberately NOT cached.
        postings = pin(postings)
    pair_array = _ordered_pairs(
        F.col("ids"), lambda x, y: F.struct(x.alias("id_a"), y.alias("id_b"))
    )
    pairs = (
        postings.select(F.explode(pair_array).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")
    )
    out = (
        pairs.join(sa, F.col("id_a") == F.col("sa._id"))
        .join(sb, F.col("id_b") == F.col("sb._id"))
        .filter(jac >= threshold)
        .select("id_a", "id_b", jac.alias("jaccard"))
    )
    return out


def _ordered_pairs(arr: Column, make) -> Column:
    """Every (i < j) element pair of an array column as ``make(x, y)``,
    flattened into one array: c(c-1)/2 cells per array of c, where a
    full double explode makes c^2 (self pairs and both orientations)
    and filters them afterwards. Serves the jaccard posting lists and
    the substring occurrence lists. ``arr`` must be a materialized
    attribute, not a recomputed expression: the lambdas reference it
    (the capture rule in :func:`ngram_chain`)."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)), lambda y: make(x, y)
            ),
        )
    )


def window_table(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """``(_id, pos, h)`` positional-window hash table — the substring
    modality's analog of a minhash signature table, consumed by
    :func:`substring_span_pairs` and :func:`incremental_substring_spans`.
    One row per token position at ~24 B/row; the window text itself
    is never carried, only its 8-byte xxhash64. The windows are
    :func:`ngram_chain` (ordered, not distinct: element i is the window
    starting at token i — position identity is the point here)."""
    return (
        _spread(df)
        .select(
            F.col(id_col).alias("_id"),
            F.posexplode(
                ngram_chain(F.split(F.col(text_col), " "), window)
            ).alias("pos", "gram"),
        )
        .select("_id", "pos", F.xxhash64("gram").alias("h"))
    )


def substring_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_run_tokens: int = 16,
    cap_hot_keys: bool = False,
    observation: "Observation | None" = None,
) -> DataFrame:
    """Exact-substring dedup: for every document pair sharing a
    verbatim token run of >= ``min_run_tokens`` tokens, report the
    longest shared run and the number of shared window cells —
    the passage-level dedup layer document-level operators cannot see
    (a 50-token boilerplate passage copied between otherwise-different
    documents is invisible to minhash/simhash/jaccard; the public
    recipe is Lee et al. 2022's two-layer fuzzy-doc + exact-substring
    dedup, there via suffix arrays — a sequential build with no
    shuffle-parallel form, so this operator re-derives the same
    >=threshold spans from k-token window joins instead).

    EXACT semantics (modulo the two documented trades below): two docs
    share a t-token run iff they share t-k+1 CONSECUTIVE k-token
    windows at a fixed alignment offset, so longest-run recovery is
    gaps-and-islands over matched window positions per (pair,
    diagonal): diag = pos_a - pos_b is constant along a shared run,
    and within one diagonal the matched pos_a values of a run are
    consecutive integers. Match cells are duplicate-free by
    construction — (id_a, pos_a) carries exactly one window, so one
    (id_a, pos_a, diag) cell arises from exactly one posting — which
    lets the island index be a plain row_number with no distinct pass.

    Plan shape (the jaccard inverted-index discipline, never a raw
    self-join): (1) posexplode the ordered window array and hash each
    window to 8 bytes (xxhash64 — the shuffle carries (id, pos, h) =
    ~24 B/cell, never window text; a collision merges two windows'
    postings and the probability is ~W^2/2^65 per corpus, the same
    documented trade as jaccard's shingle hash); (2) under
    ``cap_hot_keys=True``, a map-combinable per-hash occurrence count
    derives the hot set, which anti-filters the stream BEFORE
    collect_list, so no posting buffer ever exceeds cap cells
    (cap-before-collect, the round-7 invariant); (3) postings explode into cross-document occurrence
    pairs — candidate mass is sum(occ^2) bounded by cap x cells, not
    n^2; (4) ONE window function partitioned by (id_a, id_b, diag) —
    millions of small groups, no global window — computes islands,
    and the island aggregate rides the same exchange (grouping on a
    superset of the partition keys needs no re-shuffle).

    Two semantic trades, both lower-bounding (a reported run is always
    real; a real run may be under-reported):

    * The valve drops BOILERPLATE windows (appearing > cap times
      corpus-wide). A run containing a dropped window splits into
      shorter islands — runs whose every window is hot disappear.
      That is the intended semantics for training-data dedup (the
      passages worth catching are distinctive, and an uncapped hot
      window is this operator's d(d-1)/2 skew unit), and the oracle
      twin applies the identical cap so the engines cannot diverge.
      The cap takes the minhash valve's SPREAD GUARD form, not
      jaccard's direct quantile: cap = :data:`VALVE_HEADROOM` x the
      p92 of the repeated-window occurrence distribution. Unlike
      jaccard (where rare shingles carry the pairs, so a tight cap is
      lossless), a shared run's CONTINUITY depends on every window
      along it — and passage families (3+ documents sharing one
      boilerplate passage) are common and worth reporting, while a
      direct p92 cap lands at the d=2 bulk and sheds them (measured at
      sf0.1: 27 of 246 pairs lost). An order of magnitude of headroom
      keeps every natural family while degenerate corpus-wide
      windows, which land orders of magnitude out, are still dropped
      (at 10 x p92 the sf0.1 pair set equals uncapped exactly).
    * Tokens are single-space splits, matching the repo's other text
      operators; runs are measured in tokens, not characters.

    Returns ``(id_a, id_b, longest_run_tokens, n_shared_windows)``
    with ``longest_run_tokens >= min_run_tokens``. Pass an
    :class:`~pyspark.sql.Observation` (requires the valve) to receive
    eager ``windows_dropped`` / ``pairs_avoided`` telemetry — same
    contract as every valve caller (:func:`_drop_hot_keys`).
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if min_run_tokens < window:
        raise ValueError(
            f"min_run_tokens ({min_run_tokens}) must be >= window ({window}): "
            "a shorter run has no complete window and cannot be observed"
        )
    _check_valve(cap_hot_keys, observation)
    return _span_pairs_from_windows(
        window_table(df, id_col, text_col, window),
        window,
        min_run_tokens,
        cap_hot_keys,
        observation,
    )


def _span_pairs_from_windows(
    w: DataFrame,
    k: int,
    min_run_tokens: int,
    cap_hot_keys: bool,
    observation: "Observation | None",
    dropped_name: str = "windows_dropped",
) -> DataFrame:
    """The substring pair pipeline downstream of the window table —
    occurrence cap (cap-before-collect), postings, c(c-1)/2 ordered
    pair explode, gaps-and-islands — factored out so ANY ``(_id, pos,
    h)`` positional-hash sequence runs through it: token windows
    (:func:`substring_span_pairs`) and per-frame perceptual hashes
    (:func:`~git_log_to_sqlite_spark.operators.multimodal.
    video_shared_scene_pairs` — shared scenes are verbatim runs in
    frame-hash space, the same gaps-and-islands recovery).  ``k`` is
    the tokens-per-cell width (run length = islands + k - 1; a
    one-frame cell passes k=1).

    Under the valve, ``w`` is consumed twice (the valve's count aggregate
    and the anti-joined main stream).  Whether to pin it is the
    CALLER's trade, not this helper's: text windows are one row per
    token (~24 B x corpus tokens — caching is corpus-sized, and
    re-tokenizing is the cheaper side of the round-7 jaccard
    decision), while the multimodal callers' ``w`` derives from an
    expensive Python decode over far fewer rows (one per frame), so
    THOSE callers pin before passing it here."""
    if cap_hot_keys:
        w = _drop_hot_keys(w, ["h"], observation, dropped_name)
    postings = (
        w.groupBy("h")
        .agg(F.array_sort(F.collect_list(F.struct("_id", "pos"))).alias("occ"))
        .filter(F.size("occ") >= 2)
    )
    # Ordered (i < j) occurrence pairs: on the operator's hottest stage
    # that halves the exploded row volume against a double explode.
    # occ is sorted by (_id, pos), so i < j implies x._id <= y._id and
    # the only cells left to drop are same-document ones.
    pair_array = _ordered_pairs(
        F.col("occ"),
        lambda x, y: F.struct(
            x["_id"].alias("id_a"),
            y["_id"].alias("id_b"),
            (x["pos"] - y["pos"]).alias("diag"),
            x["pos"].alias("pos_a"),
        ),
    )
    m = (
        postings.select(F.explode(pair_array).alias("p"))
        .filter(F.col("p.id_a") < F.col("p.id_b"))
        .select("p.id_a", "p.id_b", "p.diag", "p.pos_a")
    )
    return _island_spans(m, "id_a", "id_b", k, min_run_tokens)


def _island_spans(
    m: DataFrame, a_col: str, b_col: str, k: int, min_run_tokens: int
) -> DataFrame:
    """Gaps-and-islands tail shared by the batch and incremental
    substring operators: match cells (a, b, diag, pos_a) -> per-pair
    longest run + cell count. ONE window partitioned by (a, b, diag)
    — millions of small groups, never global — whose island aggregate
    rides the same exchange (grouping on a superset of the partition
    keys needs no re-shuffle)."""
    isl_w = Window.partitionBy(a_col, b_col, "diag").orderBy("pos_a")
    runs = (
        m.withColumn("grp", F.col("pos_a") - F.row_number().over(isl_w))
        .groupBy(a_col, b_col, "diag", "grp")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    return (
        runs.groupBy(a_col, b_col)
        .agg(
            (F.max("m") + F.lit(k - 1)).alias("longest_run_tokens"),
            F.sum("m").alias("n_shared_windows"),
        )
        .filter(F.col("longest_run_tokens") >= min_run_tokens)
    )


def incremental_substring_spans(
    history: DataFrame,
    increment: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_run_tokens: int = 16,
    cap_hot_keys: bool = False,
    observation: "Observation | None" = None,
) -> DataFrame:
    """Passage-level dedup of a daily batch against accumulated
    history — :func:`substring_span_pairs`' production increment
    shape, mirroring :func:`incremental_minhash_dedup`'s contract:
    history is NEVER self-joined — the increment's windows probe
    history's (id, pos, h) :func:`window_table`.

    Returns ``(inc_id, hist_id, longest_run_tokens,
    n_shared_windows)`` for every increment x history pair sharing a
    verbatim run of >= ``min_run_tokens`` tokens — exact
    gaps-and-islands semantics identical to the batch operator
    restricted to cross-split pairs (equality-tested). Increment-
    internal duplicates are deliberately out of scope (run the batch
    operator within the day), exactly as in the minhash twin.

    The valve's occurrence cap is derived from the HISTORY side only (the
    increment cannot skew a quantile computed before it arrives, and
    history boilerplate is what multiplies every future probe);
    above-cap windows anti-filter the history table BEFORE the probe
    join, so per-window candidate mass is bounded by
    |increment occurrences| x cap. Telemetry reports
    ``windows_dropped`` / ``rows_dropped`` (probe shape — the avoided
    candidates are unknowable from the history side alone, same
    argument as the minhash probe valve).

    History's window table is pinned under the valve — the
    valve's count aggregation and the probe join each consume it, and
    re-deriving means re-tokenizing history; without the valve it is
    consumed once and a cache would only add write cost.

    Hot windows: a daily-scale increment's window table sits far under
    the broadcast threshold, so the probe join is a BroadcastHashJoin
    and a boilerplate window's d_hist x d_inc product parallelizes over
    the history side's input splits. When the increment is too large
    to broadcast, one hot window is one sort-merge group; bound it with
    ``cap_hot_keys=True`` (which sheds the capped window's matches,
    reported in the telemetry) or rely on AQE's skew-join split.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if min_run_tokens < window:
        raise ValueError(
            f"min_run_tokens ({min_run_tokens}) must be >= window ({window}): "
            "a shorter run has no complete window and cannot be observed"
        )
    _check_valve(cap_hot_keys, observation)
    wh = window_table(history, id_col, text_col, window)
    if cap_hot_keys:
        # consumed twice under the valve (its count aggregation + the
        # probe join): pin so history tokenizes once
        wh = pin(wh)
    wi = window_table(increment, id_col, text_col, window)
    if cap_hot_keys:
        wh = _drop_hot_keys(
            wh, ["h"], observation, "windows_dropped", probe=True
        )
    # renamed projections: history = corpus side, increment = probe side
    a = wh.select(
        F.col("h").alias("_h_h"),
        F.col("_id").alias("_hid"),
        F.col("pos").alias("_hpos"),
    )
    b = wi.select(
        F.col("h").alias("_h_i"),
        F.col("_id").alias("_iid"),
        F.col("pos").alias("_ipos"),
    )
    m = b.join(a, F.col("_h_i") == F.col("_h_h")).select(
        F.col("_iid").alias("inc_id"),
        F.col("_hid").alias("hist_id"),
        (F.col("_ipos") - F.col("_hpos")).alias("diag"),
        F.col("_ipos").alias("pos_a"),
    )
    return _island_spans(m, "inc_id", "hist_id", window, min_run_tokens)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """Per-document SimHash signature (bitwise majority over md5 token
    hashes). Near-dup = small Hamming distance between signatures;
    signatures are 8 bytes/doc, so the pair stage can band on bit
    slices or broadcast.

    Precondition: ids are unique (duplicates merge into one signature).

    ``bits`` <= 60 (the md5-derived token hash is at most 15 hex chars
    = 60 bits, keeping the signature a non-negative BIGINT). The token
    hash width is 32 bits for ``bits`` <= 32 (frozen: the 32-bit
    signatures are oracle-pinned) and 60 bits above — wider signatures
    exist for :func:`simhash_pairs`' banding keyspace, which must grow
    with the corpus (see its docstring).

    Shape (round 17, guide §2.4 "remove shuffles outright" + §1.1
    "empirical beats the ideal"): the narrow two-aggregate form —
    md5 fold projected ONCE per token row, bit-index explode,
    map-combinable (id, i) partial sums, then the per-doc signature
    fold — WITHOUT the retired form's DISTINCT over the exploded
    (id, token) stream. That distinct was the one corpus-sized
    exchange here and was semantically redundant (``array_distinct``
    already dedups within the document, and cross-document repeats
    carry different ids, so the stream was already unique); with it
    gone, map-side partial aggregation compresses the remaining two
    exchanges to ``bits`` rows per doc and one row per doc.

    A ONE-pass variant (all ``bits`` majorities as sum-aggregates in a
    single 60-buffer groupBy, the :func:`minhash_signatures` trick)
    was implemented and interleaved-A/B'd against this form through
    every consumer: 2x faster in a tight single-plan loop, but 25-50%
    SLOWER in suite context at both widths (the wide 60-buffer update
    path never gets hot in a mixed-query JVM), while this narrow form
    wins in every context — dedup_simhash 1.0 -> 0.48 s,
    dedup_simhash_pairs 2.05 -> 1.65 s, mm_fuzzy_decontaminate
    1.9 -> 1.36 s cold min-of-6 vs the round-16 form
    (OPTIMIZATION_r17.md; tools/simhash_pairs_ab_r17_results.json;
    signatures verified value-identical at both widths across all
    three forms).
    """
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    hex_chars = 8 if bits <= 32 else 15
    # h projected BELOW the bit explode so md5 folds once per token
    # row, not once per (token, bit) row
    toks = _spread(df).select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("token"),
    ).select("_id", md5_long(F.col("token"), hex_chars=hex_chars).alias("h"))
    weights = (
        toks.withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))))
        .withColumn(
            "bit_weight", F.when(F.expr("(shiftright(h, i) & 1) = 1"), 1).otherwise(-1)
        )
        .groupBy("_id", "i")
        .agg(F.sum("bit_weight").alias("weight"))
    )
    return (
        weights.groupBy("_id")
        .agg(
            F.sum(
                F.when(F.col("weight") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), i)"))
                .otherwise(0)
            )
            .cast("long")
            .alias("simhash")
        )
        .withColumnRenamed("_id", id_col)
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    cap_hot_keys: bool = False,
    observation: "Observation | None" = None,
) -> DataFrame:
    """Near-duplicate pairs via SimHash bit-slice banding — the pair
    stage :func:`simhash`'s docstring promises. Returns ``(id_a, id_b,
    hamming)`` for every pair within ``max_hamming`` bits.

    Candidates come from an equi-join on (band, band_key) where the
    key is one of ``bands`` contiguous ``bits/bands``-bit slices of
    the signature. With ``bands > max_hamming`` the candidate stage is
    EXACT by pigeonhole: a pair differing in <= max_hamming bits
    cannot differ in every one of the bands slices, so it must agree
    exactly on at least one — recall 1.0 by construction, no
    probabilistic argument needed (the standard Manku/Jain/Sarma
    near-duplicate web-crawl decomposition). The verify stage is one
    ``bit_count(xor)`` per candidate on the two joined 8-byte
    signatures.

    SIZE THE SLICE WIDTH TO THE CORPUS — unlike minhash band keys
    (unbounded keyspace), a bit slice has only ``2^(bits/bands)``
    distinct values, and since signature bits are near-uniform the
    band join carries an irreducible ~``n^2 * bands / 2^(bits/bands)``
    candidate floor even on perfectly benign data (every bucket holds
    ~n/2^width rows; no valve can fire on a uniform distribution —
    the hot-band valve here bounds only DEGENERATE keys, e.g.
    near-empty docs majority-voting to one signature, which land far
    above the uniform bucket size). The 32/4 default (8-bit slices,
    256 keys) is a tiny-corpus/test configuration; at millions of
    documents use ``bits=60, bands=4`` (15-bit slices, ~32k keys) and
    beyond that shard the corpus or raise ``bands`` together with
    ``max_hamming`` budget — the honest limit of one-round simhash
    banding.

    Otherwise the scale shape mirrors :func:`minhash_lsh_pairs`:
    signatures are pinned (8 bytes/doc), band keys are a pure
    projection, and dropping a hot band trades the pigeonhole
    exactness on pairs whose ONLY agreeing slice was the degenerate
    one — the same documented trade as the minhash valve.
    """
    # Validate EVERYTHING before the pin: a bad call must fail before
    # any side effect — pin() registers a persist in the cache
    # registry, and an invalid-arguments exception after it would leak
    # that never-materialized entry until release_caches().
    _validate_banding(bits, bands, max_hamming)
    _check_valve(cap_hot_keys, observation)
    sig = pin(simhash(df, id_col, text_col, bits))
    return hamming_pairs(
        sig,
        id_col,
        "simhash",
        bits=bits,
        bands=bands,
        max_hamming=max_hamming,
        cap_hot_keys=cap_hot_keys,
        observation=observation,
    )


def _validate_banding(bits: int, bands: int, max_hamming: int) -> None:
    """Shared banding-argument validation for the Hamming pair stage —
    called by every entry point BEFORE any side effect (pins run first
    otherwise and would leak registry entries on invalid calls), next
    to the valve's own pre-pin :func:`_check_valve`."""
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole recall guarantee"
        )
    if bits % bands != 0:
        raise ValueError(f"bits ({bits}) must divide evenly into {bands} bands")
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")


def _sig_bands(
    sig: DataFrame, key_cols: list[str], sig_col: str, bits: int, bands: int
) -> DataFrame:
    """Explode a signature table into its ``(key_cols..., band,
    band_key)`` bit-slice rows — the shared candidate-key projection
    of the self-join (:func:`hamming_pairs`) and probe
    (:func:`hamming_probe`) stages."""
    width = bits // bands
    mask = (1 << width) - 1
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col(sig_col), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        *[F.col(c) for c in key_cols], F.explode(band_entries).alias("e")
    ).select(
        *key_cols, F.col("e.band").alias("band"), F.col("e.band_key").alias("band_key")
    )


def hamming_probe(
    probe: DataFrame,
    corpus: DataFrame,
    probe_id: "str | list[str]",
    corpus_id: "str | list[str]",
    sig_col: str,
    bits: int,
    bands: int = 4,
    max_hamming: int = 3,
    cap_hot_keys: bool = False,
    observation: "Observation | None" = None,
) -> DataFrame:
    """Probe-shaped Hamming lookup: every (probe row, corpus row) pair
    within ``max_hamming`` bits — the content-ID / lookup twin of
    :func:`hamming_pairs`, mirroring
    :func:`incremental_minhash_dedup`'s shape: the CORPUS is never
    self-joined (a query batch against a billion-signature index must
    not pay the index's own pair mass), candidates come from the
    probe-bands x corpus-bands equi-join on (band, band_key), and the
    pigeonhole guarantee (``bands > max_hamming``) is EXACT across
    the two sides exactly as within one. Returns one row per match:
    ``(*probe_id, *corpus_id, hamming)`` — the two id sets must be
    disjoint column names (alias before calling; a probe that is a
    subset of the corpus matches itself at hamming 0, filter if
    unwanted). The corpus side may be a persisted ``(id, sig)``
    parquet table of any <= 60-bit signature, so a lookup never
    re-hashes the corpus.

    The hot-band valve (``cap_hot_keys=True``) caps the CORPUS side
    only: candidates per band key are |probe bucket| x |corpus
    bucket|, so capping the corpus bucket bounds every key at
    |probe| x cap — and telemetry reports ``rows_dropped``, the
    honest per-side number. Same keyspace-sizing caveat as
    :func:`simhash_pairs`: size ``bits/bands`` to the CORPUS."""
    p_ids = [probe_id] if isinstance(probe_id, str) else list(probe_id)
    c_ids = [corpus_id] if isinstance(corpus_id, str) else list(corpus_id)
    clash = set(p_ids) & set(c_ids)
    if clash:
        raise ValueError(
            f"probe and corpus id columns must be disjoint, both have {sorted(clash)}"
        )
    _validate_banding(bits, bands, max_hamming)
    _check_valve(cap_hot_keys, observation)
    bands_c = _sig_bands(corpus, c_ids, sig_col, bits, bands)
    if cap_hot_keys:
        bands_c = _drop_hot_keys(
            bands_c, ["band", "band_key"], observation, "bands_dropped", probe=True
        )
    bands_p = _sig_bands(probe, p_ids, sig_col, bits, bands)
    cand = _band_pairs(bands_p, bands_c, p_ids, c_ids)
    return _hamming_verified(cand, probe, corpus, p_ids, c_ids, sig_col, max_hamming)


def _hamming_verified(
    cand: DataFrame,
    sig_a: DataFrame,
    sig_b: DataFrame,
    a_ids: list[str],
    b_ids: list[str],
    sig_col: str,
    max_hamming: int,
) -> DataFrame:
    """The Hamming verify: join each candidate back to its two
    signatures (``sig_a`` keyed by ``a_ids``, ``sig_b`` by ``b_ids``)
    and keep it when one ``bit_count(xor)`` is <= ``max_hamming``.
    Returns ``(*a_ids, *b_ids, hamming)``."""
    sa = sig_a.select(*a_ids, F.col(sig_col).alias("_sa"))
    sb = sig_b.select(*b_ids, F.col(sig_col).alias("_sb"))
    ham = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return (
        cand.join(sa, a_ids)
        .join(sb, b_ids)
        .filter(ham <= max_hamming)
        .select(*a_ids, *b_ids, ham.cast("int").alias("hamming"))
    )


def hamming_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int,
    bands: int = 4,
    max_hamming: int = 3,
    cap_hot_keys: bool = False,
    observation: "Observation | None" = None,
) -> DataFrame:
    """Pairs within ``max_hamming`` bits over ANY precomputed
    fixed-width signature column — the bit-slice band machinery
    :func:`simhash_pairs` runs on text simhashes, factored out so
    every <= 60-bit signature modality shares one pair stage (text
    simhash, image dHash via
    :func:`~git_log_to_sqlite_spark.operators.multimodal.image_dhash`,
    any future perceptual hash). Same pigeonhole-EXACT guarantee
    (``bands > max_hamming``), same ``bit_count(xor)`` verify, same
    hot-band valve, and the same keyspace-sizing caveat as
    :func:`simhash_pairs` — size ``bits/bands`` to the corpus.

    ``sig`` must carry one row per id; signatures are non-negative
    BIGINTs below 2^bits. Returns ``(id_a, id_b, hamming)``.
    """
    _validate_banding(bits, bands, max_hamming)
    _check_valve(cap_hot_keys, observation)
    bands_df = _sig_bands(sig, [id_col], sig_col, bits, bands)
    if cap_hot_keys:
        bands_df = _drop_hot_keys(
            bands_df, ["band", "band_key"], observation, "bands_dropped"
        )
    cand = _band_pairs(
        bands_df.select("band", "band_key", F.col(id_col).alias("id_a")),
        bands_df.select("band", "band_key", F.col(id_col).alias("id_b")),
        ["id_a"],
        ["id_b"],
    ).filter(F.col("id_a") < F.col("id_b"))
    return _hamming_verified(
        cand,
        sig.withColumnRenamed(id_col, "id_a"),
        sig.withColumnRenamed(id_col, "id_b"),
        ["id_a"],
        ["id_b"],
        sig_col,
        max_hamming,
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    ngram_n: int = 4,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any token ``ngram_n``-gram with a held-out benchmark/eval corpus —
    the leakage filter every pre-training pipeline runs before a model
    ever sees the data (the public recipe: n-gram overlap against the
    eval suites, as in the GPT-3/PaLM appendices).

    Returns one row per TRAIN document: ``(id, shared_ngrams,
    contaminated)`` where ``shared_ngrams`` counts the distinct n-grams
    the document shares with the benchmark (``shingles`` emits the
    per-document distinct gram set, so the count needs no extra
    distinct) and ``contaminated`` is the 0/1 gate. All train rows are
    kept (left join) so the output is a drop-in annotation table.

    Scale shape — the asymmetry IS the design: benchmarks are MBs while
    the corpus is 100 TB, so the benchmark's distinct gram set is
    broadcast (one small-side shuffle to distinct it, then a hash set
    on every executor) and the train side filters its exploded gram
    stream map-side via a broadcast LEFT SEMI join BEFORE any shuffle —
    the only rows that ever reach the aggregation exchange are actual
    hits, which are rare by construction. The final annotate join is an
    id-only projection against the tiny hit table (AQE broadcasts it).
    Never join two exploded 100-TB gram streams to find leakage.

    HARD CONTRACT on the ``benchmark`` side: the broadcast is FORCED
    (the hint is what guarantees the map-side filter; unhinted, a bad
    size estimate on the post-distinct aggregate could silently plan a
    corpus-wide shuffle semi-join), so the distinct gram set must fit
    a broadcast — it scales with total benchmark tokens, and an
    executor holds one copy (~32 B/gram hashed-set overhead: a 1M-gram
    eval suite is tens of MB — fine; a "benchmark" of GBs is not).
    Callers decontaminating against something corpus-sized are using
    the wrong operator: that is corpus-vs-corpus overlap, i.e.
    :func:`ngram_jaccard_pairs` / :func:`minhash_lsh_pairs` territory.
    """
    gram = exploded_shingles(text_col, ngram_n)
    bench_grams = benchmark.select(gram.alias("gram")).distinct()
    train_grams = _spread(train).select(
        F.col(id_col).alias("_id"), gram.alias("gram")
    )
    hits = (
        train_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .groupBy("_id")
        .agg(F.count("*").alias("shared_ngrams"))
    )
    shared = F.coalesce(F.col("shared_ngrams"), F.lit(0).cast("long"))
    return (
        train.select(id_col)
        .join(hits.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            shared.alias("shared_ngrams"),
            (shared > 0).cast("int").alias("contaminated"),
        )
    )


def fuzzy_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: flag training
    documents whose simhash is within ``max_hamming`` bits of any
    eval document — the fuzzy complement of :func:`decontaminate`
    (exact n-gram overlap): a lightly-paraphrased or
    whitespace-perturbed eval document shares few exact n-grams but
    lands a handful of simhash bits away, and document-level leakage
    of that kind is what this catches. Returns one row per TRAIN
    document: ``(id, matched_evals, best_hamming, contaminated)`` —
    all train rows kept (left join), a drop-in annotation table like
    its exact sibling.

    Scale shape: :func:`simhash` both sides (one corpus pass each,
    8 B/doc signatures), then :func:`hamming_probe` with the TRAIN
    side as the corpus and the benchmark as the probe — the benchmark
    is MBs while the corpus is 100 TB, so the probe's band table is
    the tiny side of the equi-join and the train corpus is never
    self-joined; pigeonhole exactness (``bands > max_hamming``)
    means recall 1.0 on the signature distance. The probe runs
    uncapped, and deliberately so: the hot-key valve anti-filters hot
    TRAIN band buckets, so capped-away train docs would be silently
    exempted from matching — false negatives, the one failure mode a
    decontamination operator must not hide. Uncapped, a hot train
    bucket is still matched in full: the eval side is small enough to
    broadcast, so its product parallelizes over the train side's
    input splits. Same honest limit as every simhash operator: the
    signature distance is a document-LEVEL proxy — passage-level
    leakage belongs to :func:`decontaminate` or the substring
    operators."""
    _validate_banding(bits, bands, max_hamming)
    sig_t = pin(
        simhash(train, id_col, text_col, bits).withColumnRenamed(
            id_col, "_train_id"
        )
    )
    # pinned: hamming_probe consumes the probe side twice (band
    # projection + signature join-back) — the benchmark is MBs, so
    # the pin is cheap and saves a second tokenize+hash pass (the
    # caller-owns-the-pin doctrine the multimodal callers follow)
    sig_b = pin(
        simhash(benchmark, id_col, text_col, bits).withColumnRenamed(
            id_col, "_eval_id"
        )
    )
    matches = hamming_probe(
        sig_b,
        sig_t,
        probe_id="_eval_id",
        corpus_id="_train_id",
        sig_col="simhash",
        bits=bits,
        bands=bands,
        max_hamming=max_hamming,
    )
    hits = matches.groupBy("_train_id").agg(
        F.count(F.lit(1)).alias("matched_evals"),
        F.min("hamming").alias("best_hamming"),
    )
    matched = F.coalesce(F.col("matched_evals"), F.lit(0).cast("long"))
    # the annotation spine is `train` itself, NOT the pinned sig_t:
    # simhash emits no row for a token-less document (NULL/empty
    # text), and collapses duplicate ids, so a sig_t spine would
    # silently DROP those train rows from the annotation — breaking
    # the all-train-rows-survive contract (and the DuckDB twin, whose
    # spine is the documents table). The id-only scan is column-
    # pruned; that one cheap pass is the price of the contract.
    return (
        train.select(id_col)
        .join(hits.withColumnRenamed("_train_id", id_col), id_col, "left")
        .select(
            id_col,
            matched.alias("matched_evals"),
            F.col("best_hamming"),
            (matched > 0).cast("int").alias("contaminated"),
        )
    )


def incremental_minhash_dedup(
    history: DataFrame,
    increment: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    min_agree: float = 0.25,
    cap_hot_keys: bool = False,
    observation: "Observation | None" = None,
    best_match: bool = False,
) -> DataFrame:
    """Dedup a new batch against the historical corpus WITHOUT
    re-pairing history with itself — the daily-ingest shape of fuzzy
    dedup: 100 TB of history is already deduped; only the increment
    needs checking, and only against history (+ itself is a separate
    ``minhash_lsh_pairs`` call on the small increment).

    Returns one row per INCREMENT document: ``(id, dup_of, best_est,
    is_new)`` — ``dup_of`` is the smallest history id among matches
    with signature agreement >= ``min_agree`` (deterministic pick),
    ``best_est`` the highest agreement estimate, ``is_new`` = 1 when no
    history match clears the bar. All increment rows are kept. NOTE:
    ``dup_of`` and ``best_est`` aggregate INDEPENDENTLY — the reported
    pair need not be the same history document (min-id is the stable
    survivor key for dedup bookkeeping; max-est is the match
    confidence). Pass ``best_match=True`` for an extra
    ``best_match_id`` column: the history id that ACHIEVES the best
    estimate (ties broken to the smaller id) — the "which doc is this
    a copy of" production answer.

    Scale shape: history contributes ONLY its signature table (K x 8
    bytes/doc, derived and pinned). The band equi-join is
    increment-bands x history-bands — candidate mass tracks
    collisions, never |history| x |increment| — and the agreement
    estimate compares the two signature rows per candidate. History
    never self-joins: the
    only quadratic-risk surface is band-key skew — closed by the same
    hot-band valve the batch operator carries (``cap_hot_keys=True``,
    :func:`_drop_hot_keys`). The valve counts
    and filters the HISTORY side only: candidates per band key are
    |increment bucket| x |history bucket|, so capping the history
    bucket bounds every key's candidate mass at |increment| x cap —
    linear in the (small) increment even when the increment itself
    carries a degenerate key, while removing a hot history bucket
    removes the key from the join outright.
    """
    _check_valve(cap_hot_keys, observation)
    mh_h = pin(minhash_signatures(history, id_col, text_col, num_hashes))
    mh_i = pin(minhash_signatures(increment, id_col, text_col, num_hashes))
    bands_h = _band_keys(mh_h, id_col, num_hashes, rows_per_band)
    if cap_hot_keys:
        bands_h = _drop_hot_keys(
            bands_h, ["band", "band_key"], observation, "bands_dropped", probe=True
        )
    bands_i = _band_keys(mh_i, id_col, num_hashes, rows_per_band)
    # increment = probe (small), history = corpus (big)
    cand = _band_pairs(
        bands_i.withColumnRenamed(id_col, "_inc"),
        bands_h.withColumnRenamed(id_col, "_hist"),
        ["_inc"],
        ["_hist"],
    )
    aggs = [
        F.min("_hist").alias("dup_of"),
        F.max("est").alias("best_est"),
    ]
    if best_match:
        # min_by over (-est, id): the HIGHEST estimate wins and ties go
        # to the SMALLER id. Negating est (always a double) instead of
        # the id keeps the tie-break type-agnostic — a max_by on
        # struct(est, -id) would NULL-cast (or ANSI-throw on) string
        # ids and silently lose determinism.
        aggs.append(
            F.expr("min_by(_hist, struct(-est, _hist))").alias("best_match_id")
        )
    matches = (
        _minhash_verified(
            cand, mh_i, mh_h, id_col, "_inc", "_hist", num_hashes, min_agree
        )
        .groupBy("_inc")
        .agg(*aggs)
    )
    out_cols = [
        id_col,
        "dup_of",
        "best_est",
        F.col("dup_of").isNull().cast("int").alias("is_new"),
    ]
    if best_match:
        out_cols.append("best_match_id")
    return (
        increment.select(id_col)
        .join(matches.withColumnRenamed("_inc", id_col), id_col, "left")
        .select(*out_cols)
    )
