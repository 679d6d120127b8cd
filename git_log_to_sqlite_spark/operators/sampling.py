"""Deterministic weighted sampling — the data-mixing primitive for
training corpora when strata need size-k samples biased by a quality /
length / domain weight.

Algorithm: Efraimidis–Spirakis weighted reservoir (A-ES, "Weighted
random sampling with a reservoir", IPL 2006) in its exponential-key
form: each row gets key = -ln(u) / w with u uniform in (0, 1]; the k
SMALLEST keys are a weighted-without-replacement sample. Here u is
derived from md5 of the row id instead of an RNG, which buys:

* **reproducibility** across runs, partitionings, and cluster sizes
  (no seed-per-partition drift — the sample is a pure function of the
  data);
* **cross-engine verifiability**: DuckDB computes the identical keys
  from the same md5 literals, so even the sampler is hash-oracle-
  checkable (seeded ``sampleBy`` can only ever be property-tested).

Plan shape: one projection (md5 + ln per row, codegen), then

* stratified: a per-stratum ranking window — partitioned by the
  stratum column, so no global sort;
* unstratified: ``orderBy(key).limit(k)`` — genuinely
  TakeOrderedAndProject (per-partition top-k heaps + one k-row merge),
  NOT an empty-partition window (a ``row_number`` over
  ``Window.partitionBy()`` would funnel the final ranking through one
  reducer even with the WindowGroupLimit map-side prune).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 15 hex chars = 60 bits: fits a signed BIGINT exactly like the minhash
# keys in operators.dedup; u in (0, 1] via (h + 1) / 2^60.
_TWO_60 = float(1 << 60)


def uniform_key(id_col: F.Column, salt: str | None = None) -> F.Column:
    """Deterministic uniform in (0, 1] derived from md5 of the id —
    the seedless coin every sampler here flips. A pure function of the
    data: reproducible across runs, partitionings, cluster sizes, and
    engines (DuckDB computes the identical value from the same md5
    literals, so sampled outputs stay hash-oracle-checkable). This is
    the ONE place the md5→uniform idiom lives; the DuckDB oracles
    mirror it byte-for-byte.

    ``salt`` domain-separates the coin (md5 of ``'salt|' || id``):
    REQUIRED whenever a sampler runs downstream of another sampler on
    the SAME id column — the survivors of an upstream coin flip have
    conditioned u (every domain_mix survivor has u < rate), which
    truncates the downstream key distribution and silently voids its
    sampling guarantee. Distinct salts make the two flips
    independent; the oracle mirrors the salted concat byte-for-byte."""
    from .dedup import md5_long

    x = id_col.cast("string")
    if salt is not None:
        x = F.concat(F.lit(f"{salt}|"), x)
    return (md5_long(x) + F.lit(1.0)) / F.lit(_TWO_60)


def priority_key(id_col: F.Column, weight_col: F.Column) -> F.Column:
    """-ln(u)/w with u md5-derived from the id — smaller is better."""
    return -F.log(uniform_key(id_col)) / weight_col


def weighted_reservoir(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    strata_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sample of k rows (per stratum when
    ``strata_col`` is given), each with its ``priority`` key (smallest
    kept first). Rows with non-positive weight are
    excluded (they'd get infinite keys). Ties are impossible in
    practice (60-bit uniforms), but the id breaks them determinically
    anyway."""
    keyed = df.filter(F.col(weight_col) > 0).withColumn(
        "priority", priority_key(F.col(id_col), F.col(weight_col))
    )
    order = [F.col("priority").asc(), F.col(id_col).asc()]
    if strata_col is None:
        # global top-k: sort+limit plans as TakeOrderedAndProject —
        # only k rows ever reach a single task
        return keyed.orderBy(*order).limit(k)
    w = Window.partitionBy(strata_col).orderBy(*order)
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def domain_mix(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic domain reweighting — the data-mixing step that
    turns a raw corpus into a target source distribution: each row is
    kept iff its md5-uniform coin, returned as ``u``, is below its
    domain's sampling rate.

    The rates ride in as a broadcast dimension join (data-driven mix
    config, not a baked CASE), so at 100 TB the fact table takes one
    map-side hash probe per row and never shuffles; unknown domains
    fall back to ``default_rate``. Expected kept mass per domain is
    ``rate * n_domain`` with per-row independence (binomial, not
    exact-count — pair with weighted_reservoir when exact k is
    needed).
    """
    spark = df.sparkSession
    from ..session import local_frame

    rates_df = local_frame(
        spark, sorted(rates.items()), f"{domain_col} string, _rate double"
    )
    keyed = df.join(F.broadcast(rates_df), domain_col, "left").withColumn(
        "_rate", F.coalesce(F.col("_rate"), F.lit(float(default_rate)))
    )
    return (
        keyed.withColumn("u", uniform_key(F.col(id_col)))
        .filter(F.col("u") < F.col("_rate"))
        .drop("_rate")
    )


def token_budget_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    budget: int,
    domain_col: str,
) -> DataFrame:
    """Greedy deterministic budget fill per domain — the corpus-mixing
    step that answers "give me ~B tokens from every source": rows are
    admitted in md5-random order until their domain's budget is
    reached. A row is kept iff the weight already admitted BEFORE it is
    under ``budget`` (so each domain overshoots by at most one row, and
    at least one row per non-empty domain is always kept).

    The admission order is the ``uniform_key`` md5 coin (id tie-break),
    so the sample is a pure function of the data — reproducible across
    runs, partitionings, and engines (hash-oracle-checkable), and
    MONOTONE in the budget: the keep set for budget B is a subset of
    the keep set for any B' >= B, which makes budget sweeps consistent
    (no reshuffling of what was already admitted).

    Plan shape: one projection for the coin, one shuffle on the
    domain key, one running-sum window per domain (frame = UNBOUNDED
    PRECEDING to 1 PRECEDING), one filter. Each domain's window is a
    SINGLE partition, so one domain must fit one task. The added
    ``cum_before`` column (the weight admitted before the row) keeps
    the weight column's summed type (long for integral weights, double
    for fractional).
    """
    keyed = df.withColumn("_u", uniform_key(F.col(id_col)))
    w = (
        Window.partitionBy(domain_col)
        .orderBy(F.col("_u").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(
        F.sum(weight_col).over(w), F.lit(0).cast("long")
    )
    return (
        keyed.withColumn("cum_before", cum_before)
        .filter(F.col("cum_before") < budget)
        .drop("_u")
    )


def _hashed_ngram_features(
    df: DataFrame, id_col: str, text_col: str, buckets: int,
    hash_fn: str = "md5",
) -> DataFrame:
    """Hashed unigram+bigram bag per document — DSIR's feature map:
    ``(id, f, c)`` with ``f = hash(gram) % buckets`` and ``c`` the
    gram's in-document count (a BAG, not a set — importance weights
    scale with occurrence counts). One explode + one groupBy;
    everything codegen.

    ``hash_fn`` picks the bucket hash — the md5-vs-speed trade every
    md5-keyed operator here makes, now as a knob because BASELINE.md
    measures the per-gram hashing as DSIR's DOMINANT cost (~1.5M gram
    rows at sf0.1):

    * ``"md5"`` (default): the 15-hex-digit md5→BIGINT idiom shared
      with :func:`uniform_key`, reproducible by a DuckDB oracle digit
      for digit — the gate configuration; never change the default
      without re-hashing the ``sample_dsir`` twin.
    * ``"xxhash64"``: Spark's native 64-bit hash (one JVM intrinsic
      vs md5's digest + 15-char substring + base-16 conv), folded
      non-negative with ``pmod`` — the production configuration for
      corpora where the oracle replay is not needed. Same estimator
      semantics (any well-mixed hash yields an equally valid hashed
      n-gram sketch, per the DSIR paper's feature-hashing argument),
      different bucket assignment — so weights differ in value but
      not in distributional meaning; the equivalence-shape test pins
      that contract.
    """
    from .dedup import md5_long, ngram_chain

    toks = F.split(F.col(text_col), " ")
    grams = F.concat(toks, ngram_chain(toks, 2))
    if hash_fn == "md5":
        f = md5_long(F.col("_gram")) % buckets
    elif hash_fn == "xxhash64":
        # xxhash64 spans the full signed int64 range; pmod (not %)
        # keeps the bucket id in [0, buckets) on the negative half
        f = F.pmod(F.xxhash64(F.col("_gram")), F.lit(buckets))
    else:
        raise ValueError(
            f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}"
        )
    return (
        df.select(F.col(id_col).alias("_id"), F.explode(grams).alias("_gram"))
        .select("_id", f.alias("_f"))
        .groupBy("_id", "_f")
        .agg(F.count(F.lit(1)).alias("_c"))
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 10_000,
    hash_fn: str = "md5",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169 —
    Data Selection via Importance Resampling): per-document
    ``log p_target(x) - log p_raw(x)`` under hashed unigram+bigram
    bag-of-ngrams models of the two corpora. A raw document whose
    n-gram profile looks like the (small, curated) target corpus gets
    a high weight; model-free and embarrassingly parallel — the
    published recipe behind formal-domain data selection at
    pre-training scale.

    Returns ALL raw rows annotated ``(id, log_weight)`` (rounded to
    6 dp — the registry's float-unstable-statistic rule; a NULL-text
    document has no grams and annotates 0.0 — the annotate-don't-
    filter spine is ``raw`` itself, never the feature table. An
    EMPTY-STRING text is NOT feature-less: ``split('', ' ')`` is
    ``['']`` in both engines, so empty docs share the one
    empty-gram feature and score like any other doc — do not treat
    ``log_weight == 0.0`` as an emptiness sentinel). Distributions
    use Laplace (+1) smoothing over ``buckets`` hashed features, so
    every log is finite by construction.

    Scale shape: two corpus passes (one explode+groupBy each), then
    the per-feature log-ratio table is ``buckets`` rows — BROADCAST
    into the per-document weight sum, so the corpus is never
    shuffled on a feature key; the final agg shuffles one row per
    (document, distinct-feature) with map-side partial sums. At
    100 TB the only O(corpus) stages are the feature explode and the
    weight agg — both unavoidable and both linear; ``hash_fn``
    (:func:`_hashed_ngram_features`) trades the oracle-replayable md5
    bucket hash for the several-times-faster native xxhash64 on
    exactly those two stages.

    ``rf`` (the raw corpus's feature bag) feeds BOTH the feature-count
    branch and the per-document weight sum, and the branches' pruned
    ReadSchemas differ — structurally different subtrees, so
    ReuseExchange never fires and the corpus would be scanned +
    exploded + aggregated TWICE (the semantic-dedup ranked-frame
    lesson, caught by this plan's formatted-explain pin). Pinned:
    one (doc, feature, count) row per distinct gram per doc —
    input-proportional, the same trade as every pair-stage pin, and
    strictly smaller than the exploded gram stream it replaces. The
    two ``buckets``-row count tables are pinned for the same two-
    consumer reason (ratio + total-mass normalizer) at negligible
    size."""
    from .caching import pin

    rf = pin(_hashed_ngram_features(raw, id_col, text_col, buckets, hash_fn))
    tf = _hashed_ngram_features(target, id_col, text_col, buckets, hash_fn)
    rcnt = pin(rf.groupBy("_f").agg(F.sum("_c").alias("_rc")))
    tcnt = pin(tf.groupBy("_f").agg(F.sum("_c").alias("_tc")))
    # Laplace-smoothed log-ratio per feature; the CAST(sum AS DOUBLE)
    # / int form is the registry's deterministic-division rule, so
    # the DuckDB twin computes bit-identical doubles before the log
    ratio = (
        rcnt.join(tcnt, "_f", "full")
        .select(
            "_f",
            (
                F.log(
                    (F.coalesce(F.col("_tc"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                )
                - F.log(
                    (F.coalesce(F.col("_rc"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                )
            ).alias("_lr"),
        )
    )
    # the totals' log-ratio is a per-document CONSTANT times the doc's
    # total gram count; include it so weights are true log-likelihood
    # ratios, not just unnormalized feature sums
    tot = (
        rcnt.agg(F.sum("_rc").alias("_rt"))
        .crossJoin(tcnt.agg(F.sum("_tc").alias("_tt")))
        .select(
            (
                F.log((F.col("_tt") + F.lit(buckets)).cast("double"))
                - F.log((F.col("_rt") + F.lit(buckets)).cast("double"))
            ).alias("_norm")
        )
    )
    per_doc = (
        rf.join(F.broadcast(ratio), "_f")
        .groupBy("_id")
        .agg(
            F.sum(F.col("_c") * F.col("_lr")).alias("_wsum"),
            F.sum("_c").alias("_n"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "_id",
            (F.col("_wsum") - F.col("_n") * F.col("_norm")).alias("_w"),
        )
    )
    return (
        raw.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            F.round(F.coalesce(F.col("_w"), F.lit(0.0)), 6).alias(
                "log_weight"
            ),
        )
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    buckets: int = 10_000,
    hash_fn: str = "md5",
) -> DataFrame:
    """DSIR's selection step: Gumbel-top-n over the importance
    weights — the paper's importance RESAMPLING, derandomized the
    house way: ``score = log_weight + Gumbel(0,1)`` with the Gumbel
    drawn from :func:`uniform_key`'s md5 coin
    (``-ln(-ln(u))``), so the selected set is a pure function of the
    data, reproducible across runs/partitionings/engines, and
    hash-oracle-checkable — exactly the Gumbel-max trick that makes
    top-n equivalent to weighted sampling WITHOUT replacement under
    the softmax of the weights. Returns ``(id, log_weight, score)``
    for the n winners (score desc, id tie-break); compiles to
    TakeOrderedAndProject, never a global sort.

    The coin is DOMAIN-SEPARATED (md5 of ``'dsir|' || id``, not the
    bare-id coin the other samplers flip): composing dsir_select
    downstream of domain_mix / token_budget_sample on the same id
    column would otherwise CONDITION u on having survived the
    upstream coin flip (u < rate for every survivor), truncating the
    Gumbel's upper tail for the whole population and voiding the
    resampling equivalence. And u is clamped below 1.0 (an id whose
    md5 opens with 15 'f' digits makes u exactly 1, where Spark's
    ln(0) returns NULL — the row could never win — while DuckDB's
    raises; the clamp keeps both engines finite and identical).

    ``hash_fn`` reaches only the FEATURE hashing (per-gram, the
    dominant cost — see :func:`_hashed_ngram_features`); the Gumbel
    coin stays md5 in both modes — one digest per document is
    negligible, and keeping the coin fixed means switching hash_fn
    perturbs only the weights, not the tie-breaking randomness."""
    lim = F.lit(1.0 - 2.0 ** -53)
    u_raw = uniform_key(F.col(id_col), salt="dsir")
    # NULL-preserving clamp: least() SKIPS null arguments, so a
    # NULL-id row (upstream outer-join junk) would get u = lim and a
    # near-maximal Gumbel (~36.7) — displacing a legitimate winner.
    # This form keeps NULL ids at NULL score (sorted last under desc).
    u = F.when(u_raw > lim, lim).otherwise(u_raw)
    gumbel = -F.log(-F.log(u))
    return (
        dsir_weights(raw, target, id_col, text_col, buckets, hash_fn)
        .select(
            id_col,
            "log_weight",
            F.round(F.col("log_weight") + gumbel, 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(n)
    )
