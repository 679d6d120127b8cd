"""LLM-training-data pipeline queries over the ``documents`` table —
oracle-gated instantiations of ``git_log_to_sqlite_spark.operators``
(dedup, text analysis, as-of). See operators/ for the reusable API and
the scale rationale; this module binds them to the driver tables and
carries the matching DuckDB SQL.

Hash functions are md5-based in BOTH engines, so even the sketch-based
operators (MinHash, SimHash) are exactly oracle-checkable — rare for
LSH implementations and a deliberate design choice here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import asof as asof_ops
from ..operators import dedup as dd
from ..operators import text as tx
from ..operators.ordered import ordered_running_sum
from .registry import register, table

_SQL_MD5_LONG = "('0x' || substr(md5({x}), 1, {n}))::BIGINT"

_SQL_SHINGLES = """
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             generate_series(1, len(string_split(text,' ')) - 2),
             i -> string_split(text,' ')[i] || ' ' ||
                  string_split(text,' ')[i+1] || ' ' ||
                  string_split(text,' ')[i+2]))) AS shingle
    FROM documents
"""


# ----------------------------------------------------------------------
# Deduplication
# ----------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fingerprint,
           CAST(MIN(doc_id) AS BIGINT) AS survivor_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    doc="Exact dedup: hash-groupBy on content, deterministic survivor "
    "(min id). One shuffle on the 128-bit fingerprint; at 100 TB "
    "group on the hash, never the raw text (shuffle carries 32 bytes "
    "per row, not the document).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("survivor_id"), F.count("*").alias("n_copies"))
    )


# DuckDB twin of operators.dedup._quantile_cap: smallest d* with
# cum-count(d <= d*) >= q * total over length-{>=2} groups of the
# ``d`` column of CTE ``src``, q = dd.VALVE_QUANTILE. The compare is
# the same integer arithmetic as the Spark side (cum * den >= num *
# tot, q = num/den from q's decimal digits) so the two engines can
# never diverge by a double-rounding ulp. The jaccard twins apply the
# cap directly; the band and window twins multiply it by
# dd.VALVE_HEADROOM, as the operators do under cap_hot_keys=True.
from fractions import Fraction as _Fraction


def _sql_quantile_cap(src: str) -> str:
    frac = _Fraction(str(dd.VALVE_QUANTILE))
    return f"""
      SELECT MIN(d) AS max_df FROM (
        SELECT d, SUM(n_sh) OVER (ORDER BY d) AS cum,
               SUM(n_sh) OVER () AS tot
        FROM (SELECT d, COUNT(*) AS n_sh FROM {src} WHERE d >= 2 GROUP BY d) h) c
      WHERE cum * {frac.denominator} >= {frac.numerator} * tot"""


_SQL_DF_CAP = _sql_quantile_cap("dfreq")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    dfreq AS (SELECT shingle, COUNT(*) AS d FROM sh GROUP BY shingle),
    caps AS ({_SQL_DF_CAP}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN dfreq ON dfreq.shingle = a.shingle
      JOIN caps ON dfreq.d <= caps.max_df
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2
    """,
    doc="Exact n-gram Jaccard near-dup (operators.dedup."
    "ngram_jaccard_pairs): inverted-index equi-join on the shingle — "
    "shuffle tracks similarity mass, not n^2. The p92 df-quantile cap "
    "(derived in-plan from the data, no corpus constant) drops hot "
    "posting lists (the d(d-1)/2 skew amplifier) before the pair "
    "explode; at this quantile the >=0.2 pair set is verified identical "
    "to uncapped at both test SFs, and the oracle derives the same cap.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(
        d, "doc_id", "text", threshold=0.2, cap_hot_keys=True
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round(F.col("jaccard"), 6).alias("jaccard"),
    )


_INC_MOD = 5  # history/increment split for the incremental gate queries:
# every 5th doc plays the "daily batch"; the rest are already-ingested history
_SUBSTR_K = 6  # window width in tokens
_SUBSTR_MIN_RUN = 12  # report pairs sharing a verbatim run >= this many tokens


# Shared CTE chains of the THREE substring oracles (spans, groups,
# incremental): positional-window arithmetic in ONE constant
# (_SQL_WIN_CTES) and the batch spread-guard chain in another, so the
# window and cap arithmetic cannot drift between the twins.
_SQL_WIN_CTES = f"""toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    wins AS (
      SELECT doc_id, g.i AS pos,
             array_to_string(list_slice(a, g.i, g.i + {_SUBSTR_K - 1}), ' ') AS gram
      FROM toks, LATERAL (
        SELECT unnest(generate_series(1, len(a) - {_SUBSTR_K - 1})) AS i) g)"""

_SQL_SUBSTR_CTES = f"""{_SQL_WIN_CTES},
    sfreq AS (SELECT gram, COUNT(*) AS d FROM wins GROUP BY gram),
    caps AS ({_sql_quantile_cap("sfreq")}),
    w2 AS (
      SELECT w.doc_id, w.pos, w.gram
      FROM wins w JOIN sfreq f ON f.gram = w.gram
      JOIN caps ON f.d <= COALESCE(caps.max_df * {dd.VALVE_HEADROOM}, f.d)),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos - b.pos AS diag, a.pos AS pos_a
      FROM w2 a JOIN w2 b ON a.gram = b.gram AND a.doc_id < b.doc_id),
    isl AS (
      SELECT doc_a, doc_b, diag, pos_a,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
      FROM m),
    runs AS (SELECT doc_a, doc_b, COUNT(*) AS men
             FROM isl GROUP BY doc_a, doc_b, diag, grp)"""


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH {_SQL_SUBSTR_CTES}
    SELECT doc_a, doc_b,
           CAST(MAX(men) + {_SUBSTR_K - 1} AS BIGINT) AS longest_run_tokens,
           CAST(SUM(men) AS BIGINT) AS n_shared_windows
    FROM runs GROUP BY doc_a, doc_b
    HAVING MAX(men) + {_SUBSTR_K - 1} >= {_SUBSTR_MIN_RUN}
    """,
    doc="Exact-substring dedup (operators.dedup.substring_span_pairs): "
    "the passage-level layer of Lee et al. 2022's two-layer recipe — "
    "verbatim >= 12-token runs shared between otherwise-different "
    "documents, invisible to every document-level near-dup operator. "
    "Positional 6-token windows hash to 8-byte keys; an inverted "
    "index with a 10 x p92 occurrence spread guard (cap-before-"
    "collect; headroom keeps passage FAMILIES, whose runs a direct "
    "quantile would split) bounds candidate mass; gaps-and-islands "
    "per (pair, diagonal) "
    "recovers exact longest runs with ONE non-global window whose "
    "island aggregate rides the same exchange. The oracle applies the "
    "identical cap, so the engines cannot diverge.",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return dd.substring_span_pairs(
        d, "doc_id", "text",
        window=_SUBSTR_K,
        min_run_tokens=_SUBSTR_MIN_RUN,
        cap_hot_keys=True,
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "longest_run_tokens",
        "n_shared_windows",
    )


@register(
    "dedup_incremental_substring",
    oracle=f"""
    WITH {_SQL_WIN_CTES},
    hwins AS (SELECT * FROM wins WHERE doc_id % {_INC_MOD} <> 0),
    iwins AS (SELECT * FROM wins WHERE doc_id % {_INC_MOD} = 0),
    hfreq AS (SELECT gram, COUNT(*) AS d FROM hwins GROUP BY gram),
    hcaps AS ({_sql_quantile_cap("hfreq")}),
    h2 AS (
      SELECT w.doc_id, w.pos, w.gram
      FROM hwins w JOIN hfreq f ON f.gram = w.gram
      JOIN hcaps ON f.d <= COALESCE(hcaps.max_df * {dd.VALVE_HEADROOM}, f.d)),
    m AS (
      SELECT i.doc_id AS inc_id, h.doc_id AS hist_id,
             i.pos - h.pos AS diag, i.pos AS pos_a
      FROM iwins i JOIN h2 h ON i.gram = h.gram),
    isl AS (
      SELECT inc_id, hist_id, diag, pos_a,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY inc_id, hist_id, diag ORDER BY pos_a) AS grp
      FROM m),
    runs AS (SELECT inc_id, hist_id, COUNT(*) AS men
             FROM isl GROUP BY inc_id, hist_id, diag, grp)
    SELECT inc_id, hist_id,
           CAST(MAX(men) + {_SUBSTR_K - 1} AS BIGINT) AS longest_run_tokens,
           CAST(SUM(men) AS BIGINT) AS n_shared_windows
    FROM runs GROUP BY inc_id, hist_id
    HAVING MAX(men) + {_SUBSTR_K - 1} >= {_SUBSTR_MIN_RUN}
    """,
    doc="Incremental exact-substring dedup (operators.dedup."
    "incremental_substring_spans): the daily batch's passages probed "
    "against accumulated history — history is never self-joined (the "
    "substring analog of incremental_minhash_dedup). The occurrence "
    "spread guard derives from the HISTORY side only and anti-filters "
    "it before the probe join, bounding per-window candidates by "
    "|increment occurrences| x cap; exact cross-split gaps-and-"
    "islands semantics, equality-tested against the batch operator.",
)
def dedup_incremental_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") % _INC_MOD != 0)
    increment = d.filter(F.col("doc_id") % _INC_MOD == 0)
    return dd.incremental_substring_spans(
        history, increment, "doc_id", "text",
        window=_SUBSTR_K,
        min_run_tokens=_SUBSTR_MIN_RUN,
        cap_hot_keys=True,
    )


@register(
    "dedup_substring_groups",
    oracle=f"""
    WITH RECURSIVE {_SQL_SUBSTR_CTES},
    spairs AS (
      SELECT doc_a, doc_b FROM runs GROUP BY doc_a, doc_b
      HAVING MAX(men) + {_SUBSTR_K - 1} >= {_SUBSTR_MIN_RUN}),
    sym AS (SELECT doc_a AS src, doc_b AS dst FROM spairs
            UNION SELECT doc_b, doc_a FROM spairs),
    reach(node, label) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.label FROM reach r JOIN sym s ON r.node = s.src),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS group_id,
           CAST(d.doc_id = COALESCE(c.component, d.doc_id) AS INT) AS is_survivor
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
    doc="Passage-sharing GROUP assignment: exact-substring pairs "
    "(dedup_substring_spans' parameters) become transitive-closure "
    "clusters via operators.graph.connected_components — the "
    "boilerplate-family view of the corpus (every document sharing a "
    ">= 12-token verbatim passage chain lands in one group, min-id "
    "survivor flagged), completing the substring modality's "
    "pairs -> groups pipeline exactly as the jaccard and minhash "
    "modalities have. The oracle recomputes the closure with a "
    "recursive CTE over the shared substring CTE chain.",
)
def dedup_substring_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import assign_dedup_groups

    d = table(spark, sf_dir, "documents")
    pairs = dd.substring_span_pairs(
        d, "doc_id", "text",
        window=_SUBSTR_K,
        min_run_tokens=_SUBSTR_MIN_RUN,
        cap_hot_keys=True,
    )
    out = assign_dedup_groups(d, pairs, "doc_id")
    return out.select(
        "doc_id",
        "group_id",
        F.col("is_survivor").cast("int").alias("is_survivor"),
    )


@register(
    "dedup_group_assign",
    oracle=f"""
    WITH RECURSIVE sh AS ({_SQL_SHINGLES}),
    dfreq AS (SELECT shingle, COUNT(*) AS d FROM sh GROUP BY shingle),
    caps AS ({_SQL_DF_CAP}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      JOIN dfreq ON dfreq.shingle = a.shingle
      JOIN caps ON dfreq.d <= caps.max_df
      GROUP BY a.doc_id, b.doc_id),
    jac AS (
      SELECT doc_a, doc_b FROM pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2),
    sym AS (SELECT doc_a AS src, doc_b AS dst FROM jac
            UNION SELECT doc_b, doc_a FROM jac),
    reach(node, label) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.label FROM reach r JOIN sym s ON r.node = s.src),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS group_id,
           CAST(d.doc_id = COALESCE(c.component, d.doc_id) AS INT) AS is_survivor
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
    doc="Near-dup GROUP assignment — the stage pair-based dedup "
    "pipelines actually need: capped n-gram Jaccard pairs become "
    "transitive-closure clusters via operators.graph."
    "connected_components (alternating large-star/small-star, "
    "O(log^2 n) join rounds), every document gets the cluster-min "
    "group_id, and exactly one survivor per group is flagged. The "
    "oracle recomputes the closure with a recursive CTE. NOTE: the "
    "operator runs its convergence loop eagerly when the query "
    "function is called (driver-side loop control, executor-side "
    "data).",
)
def dedup_group_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import assign_dedup_groups

    d = table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(
        d, "doc_id", "text", threshold=0.2, cap_hot_keys=True
    )
    out = assign_dedup_groups(d, pairs, "doc_id")
    return out.select(
        "doc_id",
        "group_id",
        F.col("is_survivor").cast("int").alias("is_survivor"),
    )


_MINHASH_K = 8  # hash functions; bands of 2 -> 4 LSH bands

# Hot-band valve of the LSH gate queries (cap_hot_keys=True): cap =
# 10 x the p92 of the repeated-band-bucket-size distribution, derived
# in-plan (see operators.dedup._drop_hot_keys for why a spread guard
# and not a direct tail quantile). At 10 x p92 the pair set is
# verified identical to uncapped at both test SFs
# (test_minhash_band_cap_preserves_pairs) while a degenerate key
# (thousands of near-empty docs) lands past the cap and is dropped
# before the band join (test_minhash_band_cap_bounds_degenerate_key).
# Shared CTE tail: per-bucket sizes + the derived cap. Expects a CTE
# named bands(doc_id, band, band_key) in scope.
_SQL_BAND_CAP = f"""
    bfreq AS (SELECT band, band_key, COUNT(*) AS d
              FROM bands GROUP BY band, band_key),
    bcaps AS ({_sql_quantile_cap("bfreq")})"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    mh AS (
      SELECT doc_id, j,
             MIN({_SQL_MD5_LONG.format(x="j::VARCHAR || ':' || shingle", n=15)}) AS minh
      FROM sh CROSS JOIN (SELECT unnest(generate_series(0, {_MINHASH_K - 1})) AS j) perms
      GROUP BY doc_id, j),
    bands AS (
      SELECT doc_id, j // 2 AS band,
             string_agg(minh::VARCHAR, ',' ORDER BY j) AS band_key
      FROM mh GROUP BY doc_id, j // 2),
    {_SQL_BAND_CAP},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      JOIN bfreq f ON f.band = a.band AND f.band_key = a.band_key
      JOIN bcaps ON f.d <= COALESCE(bcaps.max_df * {dd.VALVE_HEADROOM}, f.d))
    SELECT doc_a, doc_b,
           CAST(SUM(CASE WHEN ma.minh = mb.minh THEN 1 ELSE 0 END) AS DOUBLE)
             / {_MINHASH_K} AS est_jaccard
    FROM cand
    JOIN mh ma ON ma.doc_id = doc_a
    JOIN mh mb ON mb.doc_id = doc_b AND ma.j = mb.j
    GROUP BY doc_a, doc_b
    HAVING SUM(CASE WHEN ma.minh = mb.minh THEN 1 ELSE 0 END) >= {_MINHASH_K} * 0.25
    """,
    doc="MinHash + LSH near-dup (operators.dedup.minhash_lsh_pairs) — "
    "the scale path for fuzzy dedup: md5-keyed minhashes -> band keys "
    "-> candidate pairs via band equi-join (never n^2) -> signature-"
    "agreement estimate. Signature size (K x 8 bytes) is independent "
    "of document length. The hot-band valve (10 x p92 bucket-size "
    "spread guard, derived in-plan) drops degenerate band buckets — "
    "the d(d-1)/2 skew amplifier — before the join; at this cap the "
    "pair set is verified identical to uncapped at both test SFs, and "
    "the oracle derives the same cap.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=_MINHASH_K, rows_per_band=2, min_agree=0.25,
        cap_hot_keys=True,
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "est_jaccard",
    )


@register(
    "dedup_minhash_groups",
    oracle=f"""
    WITH RECURSIVE sh AS ({_SQL_SHINGLES}),
    mh AS (
      SELECT doc_id, j,
             MIN({_SQL_MD5_LONG.format(x="j::VARCHAR || ':' || shingle", n=15)}) AS minh
      FROM sh CROSS JOIN (SELECT unnest(generate_series(0, {_MINHASH_K - 1})) AS j) perms
      GROUP BY doc_id, j),
    bands AS (
      SELECT doc_id, j // 2 AS band,
             string_agg(minh::VARCHAR, ',' ORDER BY j) AS band_key
      FROM mh GROUP BY doc_id, j // 2),
    {_SQL_BAND_CAP},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      JOIN bfreq f ON f.band = a.band AND f.band_key = a.band_key
      JOIN bcaps ON f.d <= COALESCE(bcaps.max_df * {dd.VALVE_HEADROOM}, f.d)),
    near AS (
      SELECT doc_a, doc_b FROM cand
      JOIN mh ma ON ma.doc_id = doc_a
      JOIN mh mb ON mb.doc_id = doc_b AND ma.j = mb.j
      GROUP BY doc_a, doc_b
      HAVING SUM(CASE WHEN ma.minh = mb.minh THEN 1 ELSE 0 END)
             >= {_MINHASH_K} * 0.25),
    sym AS (SELECT doc_a AS src, doc_b AS dst FROM near
            UNION SELECT doc_b, doc_a FROM near),
    reach(node, label) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.label FROM reach r JOIN sym s ON r.node = s.src),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS group_id,
           CAST(d.doc_id = COALESCE(c.component, d.doc_id) AS INT) AS is_survivor
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
    doc="THE standard fuzzy-dedup pipeline at corpus scale: MinHash-LSH "
    "candidate pairs (banded equi-join, never n^2, signature cost "
    "independent of document length) -> connected-component clusters "
    "-> cluster-min survivor per group. dedup_group_assign is the "
    "exact-Jaccard twin; this one's pair stage is the one that still "
    "runs when documents stop fitting in a shingle self-join. Every "
    "stage is md5-deterministic, so the full pipeline — including the "
    "sketch — is hash-oracle-checked via a recursive CTE.",
)
def dedup_minhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import assign_dedup_groups

    d = table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=_MINHASH_K, rows_per_band=2, min_agree=0.25,
        cap_hot_keys=True,
    )
    out = assign_dedup_groups(d, pairs, "doc_id")
    return out.select(
        "doc_id",
        "group_id",
        F.col("is_survivor").cast("int").alias("is_survivor"),
    )


# Shared CTE chain of the THREE simhash oracles (signature, pairs,
# fuzzy decontamination): the 32-bit md5-majority signature derivation
# in ONE constant, so the twins cannot drift — the same
# single-source rule as _SQL_WIN_CTES / _sql_dhash_bits.
_SQL_SIMHASH_CTES = f"""toks AS (
      SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text,' '))) AS token
      FROM documents),
    bits AS (
      SELECT doc_id, i,
             SUM(CASE WHEN (({_SQL_MD5_LONG.format(x='token', n=8)}) >> i) & 1 = 1
                      THEN 1 ELSE -1 END) AS weight
      FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) pos
      GROUP BY doc_id, i),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN weight > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT)
               AS simhash
      FROM bits GROUP BY doc_id)"""


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_SQL_SIMHASH_CTES}
    SELECT doc_id, simhash FROM sig
    """,
    doc="32-bit SimHash signature per document (operators.dedup."
    "simhash): bitwise majority over md5 token hashes; near-dup "
    "candidates are small-Hamming-distance signature pairs — 8 bytes "
    "per doc, bandable on bit slices. Deterministic md5 basis makes "
    "it oracle-exact.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return dd.simhash(d, "doc_id", "text", bits=32)


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SQL_SIMHASH_CTES},
    bands AS (
      SELECT doc_id, bb.band, (simhash >> (bb.band * 8)) & 255 AS band_key
      FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) bb),
    {_SQL_BAND_CAP},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      JOIN bfreq f ON f.band = a.band AND f.band_key = a.band_key
      JOIN bcaps ON f.d <= COALESCE(bcaps.max_df * {dd.VALVE_HEADROOM}, f.d))
    SELECT id_a, id_b,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
    FROM cand
    JOIN sig sa ON sa.doc_id = id_a
    JOIN sig sb ON sb.doc_id = id_b
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
    """,
    doc="SimHash near-dup PAIRS via bit-slice banding (operators.dedup."
    "simhash_pairs) — the pair stage the signature query promises: 4 "
    "contiguous 8-bit slices band the 32-bit signatures, docs agreeing "
    "on any slice become candidates (EXACT by pigeonhole for Hamming "
    "<= 3: a pair differing in <= 3 bits cannot differ in all 4 "
    "slices), and one bit_count(xor) per candidate verifies. Same "
    "hot-band spread-guard valve as the minhash queries, derived "
    "in-plan and mirrored in the oracle.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return dd.simhash_pairs(
        d, "doc_id", "text", bits=32, bands=4, max_hamming=3,
        cap_hot_keys=True,
    )


# ----------------------------------------------------------------------
# Text analysis
# ----------------------------------------------------------------------

@register(
    "text_langid",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
        len(list_filter(string_split(text,' '),
            x -> x IN {tuple(tx.LANG_MARKERS['en'])})) AS n_en,
        len(list_filter(string_split(text,' '),
            x -> x IN {tuple(tx.LANG_MARKERS['es'])})) AS n_es,
        len(list_filter(string_split(text,' '),
            x -> x IN {tuple(tx.LANG_MARKERS['de'])})) AS n_de
      FROM documents)
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN n_en = 0 AND n_es = 0 AND n_de = 0 THEN 'und'
                WHEN n_en >= n_es AND n_en >= n_de THEN 'en'
                WHEN n_es >= n_de THEN 'es'
                ELSE 'de' END AS predicted_lang,
           CAST(n_en AS INT) AS n_en_markers
    FROM scored
    """,
    doc="Marker-stopword language ID (operators.text.lang_id): count "
    "language markers, argmax with a deterministic tie order. Pure "
    "column expressions — no UDF in the hot path.",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return tx.lang_id(d, "text").select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        "predicted_lang",
        tx._marker_count(toks, tx.LANG_MARKERS["en"]).alias("n_en_markers"),
    )


@register(
    "text_quality",
    oracle="""
    SELECT doc_id,
           n_chars,
           CAST(length(string_split(text, ' ')) AS INT) AS n_tokens,
           ROUND(CAST(n_chars AS DOUBLE) / length(string_split(text, ' ')), 6)
             AS chars_per_token,
           ROUND(CAST(length(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                 / n_chars, 6) AS punct_ratio,
           ROUND(CAST(len(list_filter(string_split(text,' '),
                 x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
                 / length(string_split(text, ' ')), 6) AS stopword_ratio,
           CASE WHEN n_chars BETWEEN 100 AND 20000
                 AND length(string_split(text, ' ')) >= 20
                THEN 1 ELSE 0 END AS passes_length_gate
    FROM documents
    """,
    doc="Heuristic quality scoring (operators.text.add_text_stats): "
    "length stats, punctuation density, stopword ratio, pass/fail "
    "length gate — the standard pre-training filter battery in one "
    "projection. (n_chars from the table: DuckDB length() counts "
    "codepoints like Spark's.)",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return tx.add_text_stats(d, "text").select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "chars_per_token",
        "punct_ratio",
        "stopword_ratio",
        "passes_length_gate",
    )


@register(
    "text_tokens",
    oracle="""
    SELECT doc_id,
           CAST(length(string_split(text, ' ')) AS INT) AS ws_tokens,
           CAST(length(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
                AS INT) AS bpe_ish_tokens,
           CAST(length(list_distinct(string_split(text, ' '))) AS INT) AS unique_tokens,
           ROUND(CAST(length(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / length(string_split(text, ' ')), 6) AS unique_ratio
    FROM documents
    """,
    doc="Token counting (operators.text.token_counts): whitespace "
    "split + BPE-ish regex segmenter + type-token ratio.",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return tx.token_counts(d, "text").select(
        "doc_id", "ws_tokens", "bpe_ish_tokens", "unique_tokens", "unique_ratio"
    )


@register(
    "text_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(
               string_split(lower(text), ' '))), ' ')) AS fingerprint
      FROM documents)
    SELECT doc_id, fingerprint,
           COUNT(*) OVER (PARTITION BY fingerprint) AS cluster_size
    FROM fp
    """,
    doc="Bag-of-words document fingerprint (operators.text."
    "fingerprint): md5 of the sorted distinct token set — groups "
    "token-permutation duplicates exact dedup misses.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("fingerprint")
    return (
        tx.fingerprint(d, "text")
        .select("doc_id", "fingerprint")
        .withColumn("cluster_size", F.count("*").over(w))
    )


@register(
    "mm_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS byte_len,
           md5(text) AS content_hash,
           source AS modality_hint
    FROM documents WHERE doc_id < 200
    """,
    doc="Multimodal column plumbing: text bytes stand in for an opaque "
    "binary payload (image/audio); typed metadata travels beside it. "
    "The decode/feature-extract stage is operators/multimodal.py "
    "(Pandas-UDF over mapInPandas, stubbed deterministically).",
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.length(payload).alias("byte_len"),
        F.md5("text").alias("content_hash"),
        F.col("source").alias("modality_hint"),
    )


def _sql_dhash_bits(byte_expr, rows: int = 6, cols: int = 10) -> list[str]:
    """The dHash bit derivation as DuckDB SQL — one boolean condition
    per bit IN DERIVATION ORDER (bit k of the list sits at BIGINT
    position ``rows*cols - 1 - k``, matching ``operators.multimodal.
    _grid_dhash``'s MSB-first row-major packing), over grid bytes
    produced by ``byte_expr(j)`` (an SQL expression for row-major grid
    byte j). The ONE source of the (r, c) -> comparison/weight mapping
    for every image/video oracle — generated programmatically so a
    twin cannot drift from the operator's bit order."""
    conds = []
    for r in range(rows):
        base = r * (cols + 1)
        for c in range(cols):
            conds.append(f"{byte_expr(base + c + 1)} > {byte_expr(base + c)}")
    return conds


def _sql_dhash_terms(byte_expr, rows: int = 6, cols: int = 10) -> str:
    """:func:`_sql_dhash_bits` assembled into the weighted 60-term sum
    — the whole-signature form the image oracle uses."""
    conds = _sql_dhash_bits(byte_expr, rows, cols)
    bits = len(conds)
    return " + ".join(
        f"CASE WHEN {cond} THEN {1 << (bits - 1 - k)} ELSE 0 END"
        for k, cond in enumerate(conds)
    )


def _mm_image_oracle() -> str:
    """DuckDB twin of ``mm_image_near_dup``: the stub luma grid cycles
    payload bytes into the 6 x 11 grid, so grid byte j of an ASCII
    text payload is ``ascii(substr(text, (j % length) + 1, 1))`` —
    byte-exact because the documents corpus is pure ASCII (verified:
    octet_length(encode(text)) == length(text) at every SF). The pair
    stage brute-forces all n(n-1)/2 signature pairs — an oracle can
    afford O(n^2); the Spark side must not (it bands)."""

    def byte(j: int) -> str:
        return f"ascii(substr(text, ({j} % length(text)) + 1, 1))"

    return f"""
    WITH sigs AS (
      SELECT doc_id, CAST({_sql_dhash_terms(byte)} AS BIGINT) AS dhash
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    """


@register(
    "mm_image_near_dup",
    oracle=_mm_image_oracle(),
    doc="Image near-duplicate pairs end-to-end: text bytes stand in "
    "for raw image payloads (the multimodal convention), decoded by "
    "the deterministic stub grid (pinned explicitly so the query is "
    "environment-independent even where Pillow exists), hashed by "
    "image_dhash's Arrow-batched mapInPandas, and paired by the "
    "shared hamming_pairs band stage — the binary-modality machinery's "
    "driver-gated row (operators/multimodal.py:229, dedup.py:1156).",
)
def mm_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as mm

    d = table(spark, sf_dir, "documents")
    media = mm.as_media(d, "doc_id", "text", mime="image/raw")
    return mm.image_near_dup_pairs(
        media, rows=6, cols=10, max_hamming=3, grid_fn=mm._luma_grid_stub
    )


_VIDEO_FRAME_BYTES = 64


def _mm_video_oracle(fb: int = _VIDEO_FRAME_BYTES) -> str:
    """DuckDB twin of ``mm_video_near_dup``: frame f of a payload of
    length L is the slice [f*fb, (f+1)*fb) (max(1, L // fb) full
    frames, video_frame_dhash's convention; a short payload is its own
    single frame), the stub grid cycles each slice, per-frame dHash
    bits vote by strict majority per bit position, and the pair stage
    brute-forces the clip signatures."""

    def byte(j: int) -> str:
        return f"ascii(substr(text, f*{fb} + (({j}) % cl) + 1, 1))"

    conds = _sql_dhash_bits(byte)  # same (r, c) -> bit mapping as the image twin
    bits = len(conds)
    bit_cols = [
        f"CASE WHEN {cond} THEN 1 ELSE 0 END AS b{k}"
        for k, cond in enumerate(conds)
    ]
    sum_cols = ", ".join(f"sum(b{k}) AS s{k}" for k in range(bits))
    # derivation-order bit k sits at long position bits-1-k (MSB-first
    # packing); the vote preserves positions, so the weight is the same
    vote = " + ".join(
        f"CASE WHEN 2*s{k} > n THEN {1 << (bits - 1 - k)} ELSE 0 END"
        for k in range(bits)
    )
    return f"""
    WITH d AS (
      SELECT doc_id, text,
             CASE WHEN length(text) >= {fb} THEN {fb} ELSE length(text) END AS cl,
             greatest(1, length(text) // {fb}) AS nf
      FROM documents),
    fr AS (
      SELECT doc_id, {', '.join(bit_cols)}
      FROM d, LATERAL (SELECT unnest(range(nf)) AS f) t),
    v AS (
      SELECT doc_id, COUNT(*) AS n, {sum_cols} FROM fr GROUP BY doc_id),
    sigs AS (
      SELECT doc_id, CAST({vote} AS BIGINT) AS vfp FROM v)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.vfp, b.vfp)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.vfp, b.vfp)) <= 3
    """


@register(
    "mm_video_near_dup",
    oracle=_mm_video_oracle(),
    doc="Video near-duplicate pairs end-to-end: payloads slice into "
    "byte-range frames (video_frame_dhash's convention), per-frame dHash "
    "over the stub grid seam, clip signature by distributed bitwise "
    "majority vote (60 map-combinable sums, one shuffle row per clip "
    "per partition), pairs via the shared hamming_pairs band stage — "
    "the fourth modality on one pair machinery "
    "(operators/multimodal.py:video_fingerprint).",
)
def mm_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as mm

    d = table(spark, sf_dir, "documents")
    media = mm.as_media(d, "doc_id", "text", mime="video/raw")
    return mm.video_near_dup_pairs(
        media,
        rows=6,
        cols=10,
        frame_bytes=_VIDEO_FRAME_BYTES,
        max_hamming=3,
        grid_fn=mm._luma_grid_stub,
    )


_AUDIO_FRAMES = 7
_AUDIO_BANDS = 11


def _mm_audio_oracle(frames: int = _AUDIO_FRAMES, bands: int = _AUDIO_BANDS) -> str:
    """DuckDB twin of ``mm_audio_near_dup``: the stub band energies are
    byte-slice MEANS (cell (f, b) averages payload bytes [i, i+step),
    i = (f*bands+b)*step, step = max(1, len // cells); an out-of-range
    cell falls back to the last byte), and the Haitsma-Kalker bit is
    the sign of the double-difference of four such means.  Means are
    rational, so the oracle mirrors the FLOAT arithmetic exactly — the
    registry's deterministic-division rule: both engines compute
    ``CAST(int_sum AS DOUBLE) / int_len`` (one correctly-rounded IEEE
    division of identical operands) and the same parenthesized
    double-difference, so the sign comparison cannot diverge by an
    ulp.  An exact-rational comparison would NOT be safe the other
    way: a tie in exact arithmetic can land off-zero in floats."""
    cells = frames * bands
    cell_cols = []
    for c in range(cells):
        i0 = f"({c} * step)"
        cell_cols.append(
            f"CASE WHEN {i0} >= len"
            f" THEN CAST(ascii(substr(text, len, 1)) AS DOUBLE)"
            f" ELSE CAST(list_sum(list_transform(generate_series({i0} + 1,"
            f" {i0} + least(step, len - {i0})),"
            f" j -> ascii(substr(text, j, 1)))) AS DOUBLE)"
            f" / least(step, len - {i0}) END AS e{c}"
        )
    bits = (frames - 1) * (bands - 1)
    bit_terms = []
    for f in range(1, frames):
        for b in range(bands - 1):
            k = (f - 1) * (bands - 1) + b
            w = 1 << (bits - 1 - k)
            d = (
                f"((e{f * bands + b} - e{f * bands + b + 1})"
                f" - (e{(f - 1) * bands + b} - e{(f - 1) * bands + b + 1}))"
            )
            bit_terms.append(f"CASE WHEN {d} > 0 THEN {w} ELSE 0 END")
    return f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS len,
             greatest(1, length(text) // {cells}) AS step
      FROM documents),
    cells AS (
      SELECT doc_id, {', '.join(cell_cols)} FROM d),
    sigs AS (
      SELECT doc_id, CAST({' + '.join(bit_terms)} AS BIGINT) AS afp FROM cells)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.afp, b.afp)) <= 3
    """


@register(
    "mm_audio_near_dup",
    oracle=_mm_audio_oracle(),
    doc="Audio near-duplicate pairs end-to-end: text bytes as raw "
    "audio payloads, the deterministic byte-slice energy stub (pinned "
    "— the honest decode seam, operators/multimodal.py:352), the "
    "Haitsma-Kalker double-difference fingerprint over Arrow-batched "
    "mapInPandas, and the shared hamming_pairs band stage — with this "
    "row all four modalities (text simhash, image, audio, video) "
    "carry hash-verified driver evidence on the one pair machinery.",
)
def mm_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as mm

    d = table(spark, sf_dir, "documents")
    media = mm.as_media(d, "doc_id", "text", mime="audio/raw")
    return mm.audio_near_dup_pairs(
        media,
        frames=_AUDIO_FRAMES,
        bands=_AUDIO_BANDS,
        max_hamming=3,
        energy_fn=mm._band_energies_stub,
    )


# ----------------------------------------------------------------------
# Round 11: driver-gate rows for the round-10 operator wave — fuzzy
# decontamination, scene-level video dedup, and the cross-modal
# content-ID probe.  Each twin is assembled from oracle pieces that
# are ALREADY gate-green (the simhash CTE chain, the dHash byte
# arithmetic, the substring gaps-and-islands recovery), so a
# divergence here isolates the NEW composition, not the shared math.
# ----------------------------------------------------------------------

_FUZZY_DECON_MOD = 29  # same eval-slice convention as _DECON_MOD below:
# every 29th doc plays the held-out benchmark (~3.4% of the corpus)


@register(
    "mm_fuzzy_decontaminate",
    oracle=f"""
    WITH {_SQL_SIMHASH_CTES},
    hits AS (
      SELECT t.doc_id, COUNT(*) AS matched_evals,
             MIN(bit_count(xor(t.simhash, e.simhash))) AS best_hamming
      FROM sig t JOIN sig e
        ON e.doc_id % {_FUZZY_DECON_MOD} = 0
       AND bit_count(xor(t.simhash, e.simhash)) <= 3
      WHERE t.doc_id % {_FUZZY_DECON_MOD} <> 0
      GROUP BY t.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(h.matched_evals, 0) AS BIGINT) AS matched_evals,
           CAST(h.best_hamming AS INT) AS best_hamming,
           CAST(COALESCE(h.matched_evals, 0) > 0 AS INT) AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % {_FUZZY_DECON_MOD} <> 0
    """,
    doc="NEAR-duplicate benchmark decontamination (operators.dedup."
    "fuzzy_decontaminate): train docs whose 32-bit simhash lands "
    "within Hamming 3 of any held-out eval doc — the fuzzy complement "
    "of dedup_decontaminate (a paraphrased eval doc shares few exact "
    "4-grams but few simhash bits move). The benchmark probes the "
    "train corpus through hamming_probe, so the 100-TB side is never "
    "self-joined; no valve at the gate, so pigeonhole recall is exact "
    "and the oracle brute-forces the tiny eval x train distance scan "
    "over the SAME simhash CTE chain the gated signature query uses.",
)
def mm_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % _FUZZY_DECON_MOD != 0)
    bench = d.filter(F.col("doc_id") % _FUZZY_DECON_MOD == 0)
    return dd.fuzzy_decontaminate(
        train, bench, "doc_id", "text", bits=32, bands=4, max_hamming=3
    )


_SCENE_FRAME_BYTES = 64  # smaller than the near-dup query's 256: more
# frames per clip, so verbatim-copy clip pairs carry runs the gate's
# min_run threshold can see at sf0.01 text lengths
_SCENE_MIN_RUN = 3


def _mm_video_scene_oracle(fb: int = _SCENE_FRAME_BYTES) -> str:
    """DuckDB twin of ``mm_video_scene_pairs``: the video oracle's
    frame-slice convention (frame f of a length-L payload is the
    byte slice [f*fb, (f+1)*fb), max(1, L // fb) full frames) feeds
    the full 60-term dHash weighted sum per frame, and the substring
    oracles' gaps-and-islands chain recovers longest shared runs with
    k=1 (one frame per cell: run length == island size, so no +k-1
    term). The occurrence spread guard is the substring twin's exact
    cap chain over frame-hash frequencies."""

    def byte(j: int) -> str:
        return f"ascii(substr(text, f*{fb} + (({j}) % cl) + 1, 1))"

    return f"""
    WITH d AS (
      SELECT doc_id, text,
             CASE WHEN length(text) >= {fb} THEN {fb} ELSE length(text) END AS cl,
             greatest(1, length(text) // {fb}) AS nf
      FROM documents),
    fr AS (
      SELECT doc_id, f AS pos, CAST({_sql_dhash_terms(byte)} AS BIGINT) AS h
      FROM d, LATERAL (SELECT unnest(range(nf)) AS f) t),
    ffreq AS (SELECT h, COUNT(*) AS d FROM fr GROUP BY h),
    caps AS ({_sql_quantile_cap("ffreq")}),
    f2 AS (
      SELECT w.doc_id, w.pos, w.h
      FROM fr w JOIN ffreq fq ON fq.h = w.h
      JOIN caps ON fq.d <= COALESCE(caps.max_df * {dd.VALVE_HEADROOM}, fq.d)),
    m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.pos - b.pos AS diag, a.pos AS pos_a
      FROM f2 a JOIN f2 b ON a.h = b.h AND a.doc_id < b.doc_id),
    isl AS (
      SELECT id_a, id_b, diag, pos_a,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
      FROM m),
    runs AS (SELECT id_a, id_b, COUNT(*) AS men
             FROM isl GROUP BY id_a, id_b, diag, grp)
    SELECT id_a, id_b,
           CAST(MAX(men) AS BIGINT) AS longest_run_frames,
           CAST(SUM(men) AS BIGINT) AS n_shared_frames
    FROM runs GROUP BY id_a, id_b
    HAVING MAX(men) >= {_SCENE_MIN_RUN}
    """


@register(
    "mm_video_scene_pairs",
    oracle=_mm_video_scene_oracle(),
    doc="Scene-level video dedup (operators.multimodal."
    "video_shared_scene_pairs): clip pairs sharing a verbatim run of "
    ">= 3 consecutive frame hashes — the video analog of exact-"
    "substring passage dedup, invisible to the clip-level majority "
    "vote the way a copied passage is invisible to minhash. Per-frame "
    "dHash feeds the factored substring pipeline "
    "(_span_pairs_from_windows, k=1) with the 10 x p92 occurrence "
    "spread guard on degenerate frames; the oracle composes the "
    "gate-green frame-dHash byte arithmetic with the gate-green "
    "gaps-and-islands CTE chain and the identical cap.",
)
def mm_video_scene_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as mm

    d = table(spark, sf_dir, "documents")
    media = mm.as_media(d, "doc_id", "text", mime="video/raw")
    return mm.video_shared_scene_pairs(
        media,
        rows=6,
        cols=10,
        frame_bytes=_SCENE_FRAME_BYTES,
        min_run_frames=_SCENE_MIN_RUN,
        cap_hot_keys=True,
        grid_fn=mm._luma_grid_stub,
    )


_STILL_MOD = 41  # every 41st doc plays the still-image query batch
_IIV_FRAME_BYTES = 128  # >= the 66 grid bytes a 6x10 dHash reads, so a
# still and frame 0 of the same payload hash identically by
# construction (the cross-modal exactness property under the stub
# decode, for ANY payload length — shorter payloads cycle identically
# on both sides)


def _mm_image_in_video_oracle(
    fb: int = _IIV_FRAME_BYTES, mod: int = _STILL_MOD
) -> str:
    """DuckDB twin of ``mm_image_in_video``: still dHash (the image
    oracle's whole-payload cycle) brute-force scanned against every
    frame dHash (the video oracle's slice cycle) — an oracle can
    afford probe x frames; the Spark side pays probe-bands x
    corpus-bands through hamming_probe."""

    def sbyte(j: int) -> str:
        return f"ascii(substr(text, ({j} % length(text)) + 1, 1))"

    def fbyte(j: int) -> str:
        return f"ascii(substr(text, f*{fb} + (({j}) % cl) + 1, 1))"

    return f"""
    WITH stills AS (
      SELECT doc_id AS still_id,
             CAST({_sql_dhash_terms(sbyte)} AS BIGINT) AS sh
      FROM documents WHERE doc_id % {mod} = 0),
    d AS (
      SELECT doc_id, text,
             CASE WHEN length(text) >= {fb} THEN {fb} ELSE length(text) END AS cl,
             greatest(1, length(text) // {fb}) AS nf
      FROM documents),
    fr AS (
      SELECT doc_id AS media_id, f AS frame_no,
             CAST({_sql_dhash_terms(fbyte)} AS BIGINT) AS fh
      FROM d, LATERAL (SELECT unnest(range(nf)) AS f) t)
    SELECT s.still_id, fr.media_id,
           CAST(fr.frame_no AS INT) AS frame_no,
           CAST(bit_count(xor(s.sh, fr.fh)) AS INT) AS hamming
    FROM stills s JOIN fr ON bit_count(xor(s.sh, fr.fh)) <= 3
    """


@register(
    "mm_image_in_video",
    oracle=_mm_image_in_video_oracle(),
    doc="Cross-modal content lookup (operators.multimodal."
    "image_in_video_frames): which video frames near-match a batch of "
    "still images — image_dhash over the stills probed against "
    "video_frame_dhash through hamming_probe (the content-ID shape: "
    "the frame corpus is never self-joined, a query batch pays "
    "probe-bands x corpus-bands candidates). No valve at the gate, so "
    "the pigeonhole guarantee is exact across sides and the oracle "
    "brute-forces the stills x frames distance scan. This row is "
    "hamming_probe's driver-gate evidence.",
)
def mm_image_in_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as mm

    d = table(spark, sf_dir, "documents")
    stills = mm.as_media(
        d.filter(F.col("doc_id") % _STILL_MOD == 0), "doc_id", "text",
        mime="image/raw",
    )
    media = mm.as_media(d, "doc_id", "text", mime="video/raw")
    return mm.image_in_video_frames(
        stills,
        media,
        rows=6,
        cols=10,
        frame_bytes=_IIV_FRAME_BYTES,
        max_hamming=3,
        grid_fn=mm._luma_grid_stub,
    )


_ASEG_FRAME_BYTES = 64  # scene-pairs' convention: small frames -> long
# enough sub-fingerprint sequences that shared segments carry runs the
# min_run threshold can see at sf0.01 text lengths
_ASEG_BANDS = 11  # 10-bit Haitsma-Kalker words (the operator default)
_ASEG_WINDOW = 4  # 4-word sliding join key (~40 bits; see the operator
# docstring for why raw 10-bit words can never be posting keys)
_ASEG_MIN_RUN = 4


def _mm_audio_segment_oracle(
    fb: int = _ASEG_FRAME_BYTES,
    bands: int = _ASEG_BANDS,
    window: int = _ASEG_WINDOW,
    min_run: int = _ASEG_MIN_RUN,
) -> str:
    """DuckDB twin of ``mm_audio_segment_pairs`` — the hardest of the
    four sequence twins, composed from three gate-green pieces: (1)
    the sequence energy stub's frame-slice convention
    (``_frame_band_energies_stub``: ``max(2, len // fb)`` frames,
    frame f is chunk ``[f*fb, (f+1)*fb)`` falling back to the LAST
    byte when empty; band b averages chunk bytes ``[b*step,
    b*step+step)``, ``step = max(1, cl // bands)``, falling back to
    the chunk's last byte) mirrored in the registry's exact-IEEE
    float discipline — both engines compute ``CAST(int_sum AS
    DOUBLE) / int_len`` and the identically-parenthesized
    double-difference, so no sign can diverge by an ulp (the
    ``mm_audio_near_dup`` technique, per-frame instead of whole-clip
    and with the lagged previous-frame energies through a window
    function); (2) the (bands-1)-bit MSB-first sub-fingerprint word
    per frame TRANSITION; (3) the substring oracles' cap +
    gaps-and-islands chain over a ``window``-word sliding key. The
    oracle joins on the word TUPLE where Spark joins on
    ``xxhash64`` of it — identical pair sets absent a 64-bit hash
    collision, the same equivalence every substring twin relies on."""
    cap = _sql_quantile_cap("sfreq")
    en_cols = []
    for b in range(bands):
        st = f"({b} * step)"
        en_cols.append(
            f"CASE WHEN {st} >= cl"
            f" THEN CAST(ascii(substr(text, cs + cl, 1)) AS DOUBLE)"
            f" ELSE CAST(list_sum(list_transform(generate_series(cs + {st} + 1,"
            f" cs + {st} + least(step, cl - {st})),"
            f" j -> ascii(substr(text, j, 1)))) AS DOUBLE)"
            f" / least(step, cl - {st}) END AS e{b}"
        )
    lags = ", ".join(
        f"lag(e{b}) OVER (PARTITION BY doc_id ORDER BY f) AS p{b}"
        for b in range(bands)
    )
    bit_terms = []
    for b in range(bands - 1):
        w = 1 << (bands - 2 - b)
        d = f"((e{b} - e{b + 1}) - (p{b} - p{b + 1}))"
        bit_terms.append(f"CASE WHEN {d} > 0 THEN {w} ELSE 0 END")
    leads = ", ".join(
        f"lead(sfp, {i}) OVER (PARTITION BY doc_id ORDER BY pos) AS w{i}"
        for i in range(1, window)
    )
    gram = (
        "concat_ws(',', sfp, "
        + ", ".join(f"w{i}" for i in range(1, window))
        + ")"
    )
    return f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS len,
             greatest(2, length(text) // {fb}) AS nf
      FROM documents),
    fr AS (
      SELECT doc_id, f, text,
             CASE WHEN f * {fb} >= len THEN len - 1 ELSE f * {fb} END AS cs,
             CASE WHEN f * {fb} >= len THEN 1
                  ELSE least({fb}, len - f * {fb}) END AS cl
      FROM d, LATERAL (SELECT unnest(range(nf)) AS f) t),
    fr2 AS (SELECT doc_id, f, text, cs, cl,
                   greatest(1, cl // {bands}) AS step FROM fr),
    en AS (SELECT doc_id, f, {', '.join(en_cols)} FROM fr2),
    en2 AS (SELECT doc_id, f, {', '.join('e%d' % b for b in range(bands))},
                   {lags} FROM en),
    words AS (
      SELECT doc_id, f - 1 AS pos,
             CAST({' + '.join(bit_terms)} AS BIGINT) AS sfp
      FROM en2 WHERE f >= 1),
    wins AS (
      SELECT doc_id, pos, sfp, {leads} FROM words),
    w1 AS (
      SELECT doc_id, pos, {gram} AS gram FROM wins
      WHERE w{window - 1} IS NOT NULL),
    sfreq AS (SELECT gram, COUNT(*) AS d FROM w1 GROUP BY gram),
    caps AS ({cap}),
    w2 AS (
      SELECT w.doc_id, w.pos, w.gram
      FROM w1 w JOIN sfreq fq ON fq.gram = w.gram
      JOIN caps ON fq.d <= COALESCE(caps.max_df * {dd.VALVE_HEADROOM}, fq.d)),
    m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.pos - b.pos AS diag, a.pos AS pos_a
      FROM w2 a JOIN w2 b ON a.gram = b.gram AND a.doc_id < b.doc_id),
    isl AS (
      SELECT id_a, id_b, diag, pos_a,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
      FROM m),
    runs AS (SELECT id_a, id_b, COUNT(*) AS men
             FROM isl GROUP BY id_a, id_b, diag, grp)
    SELECT id_a, id_b,
           CAST(MAX(men) + {window - 1} AS BIGINT) AS longest_run_subfps,
           CAST(SUM(men) AS BIGINT) AS n_shared_subfps
    FROM runs GROUP BY id_a, id_b
    HAVING MAX(men) + {window - 1} >= {min_run}
    """


@register(
    "mm_audio_segment_pairs",
    oracle=_mm_audio_segment_oracle(),
    doc="Segment-level audio dedup (operators.multimodal."
    "audio_shared_segment_pairs): clip pairs sharing >= 4 consecutive "
    "identical Haitsma-Kalker sub-fingerprint words at a fixed "
    "alignment — a sampled jingle or re-broadcast segment, invisible "
    "to the clip-level near-dup vote the way a copied passage is "
    "invisible to minhash. The volume-cancelling double-difference "
    "word sequence feeds the factored substring pipeline on a 4-word "
    "xxhash64 sliding key (raw 10-bit words would be a linear-growth "
    "posting pathology) with the 10 x p92 spread guard; with this row "
    "all four sequence modalities (text substring, video scene, audio "
    "segment, + the incremental stores) carry hash-verified driver "
    "evidence on the one gaps-and-islands machinery.",
)
def mm_audio_segment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as mm

    d = table(spark, sf_dir, "documents")
    media = mm.as_media(d, "doc_id", "text", mime="audio/raw")
    return mm.audio_shared_segment_pairs(
        media,
        frame_bytes=_ASEG_FRAME_BYTES,
        bands=_ASEG_BANDS,
        min_run=_ASEG_MIN_RUN,
        window=_ASEG_WINDOW,
        cap_hot_keys=True,
    )


# ----------------------------------------------------------------------
# General event-time as-of join
# ----------------------------------------------------------------------

@register(
    "asof_event_value",
    oracle="""
    WITH q AS (
      SELECT o_orderkey, o_custkey,
             make_timestamp(2024, 1, CAST(dayofmonth(o_orderdate) AS INT), 12, 0, 0)
               AS cutoff_ts
      FROM orders WHERE o_custkey < 150 AND o_orderkey < 3000)
    SELECT o_orderkey, o_custkey, cutoff_ts,
           (SELECT e.value FROM events e
             WHERE e.user_id = q.o_custkey AND e.ts <= q.cutoff_ts
             ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) AS asof_value
    FROM q
    """,
    doc="True per-row as-of join (operators.asof.asof_join): union + "
    "last(ignorenulls) window — one shuffle on the key, one ordered "
    "pass, no range-join explosion; scales to billions of events.",
)
def asof_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_custkey") < 150) & (F.col("o_orderkey") < 3000)
    )
    cutoff = F.make_timestamp(
        F.lit(2024), F.lit(1), F.dayofmonth("o_orderdate"), F.lit(12), F.lit(0), F.lit(0)
    )
    queries = o.select("o_orderkey", "o_custkey", cutoff.alias("cutoff_ts"))
    events = table(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("ts"), F.col("value"), F.col("event_id")
    )
    joined = asof_ops.asof_join(
        left=queries.withColumn("user_id", F.col("o_custkey")),
        right=events,
        key="user_id",
        left_ts="cutoff_ts",
        right_ts="ts",
        value_cols=["value"],
        tie_col="event_id",
    )
    return joined.select(
        "o_orderkey", "o_custkey", "cutoff_ts", F.col("value_asof").alias("asof_value")
    )


# ----------------------------------------------------------------------
# Corpus hygiene: PII masking + per-document keywords
# ----------------------------------------------------------------------

@register(
    "text_pii_mask",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g'),
             '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS masked
    FROM documents WHERE doc_id < 300
    """,
    doc="PII redaction (emails, phone-number shapes, IPv4) as pure "
    "regexp_replace chains — codegen'd, one scan pass, no Python; the "
    "standard pre-training hygiene filter.",
)
def text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    masked = F.regexp_replace(
        F.col("text"), r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
    )
    masked = F.regexp_replace(masked, r"\+?[0-9][0-9()\- ]{7,}[0-9]", "<PHONE>")
    masked = F.regexp_replace(masked, r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>")
    return d.select("doc_id", masked.alias("masked"))


@register(
    "text_topk_terms",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE doc_id < 200
    ), counts AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM tf WHERE term <> '' GROUP BY doc_id, term
    ), ranked AS (
      SELECT doc_id, term, tf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tf DESC, term) AS rn
      FROM counts)
    SELECT doc_id, term, tf FROM ranked WHERE rn <= 3
    """,
    doc="Per-document top-3 terms by frequency (the TF stage of "
    "TF-IDF): explode -> count -> ranked window with a deterministic "
    "tie-break. The document is the window partition, so the rank "
    "never shuffles more than one doc's terms to a reducer.",
)
def text_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    terms = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    counts = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("term"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf")
    )


@register(
    "text_tfidf_topk",
    oracle="""
    WITH tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents WHERE doc_id < 200)
      WHERE term <> '' GROUP BY doc_id, term
    ), docfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents WHERE doc_id < 200
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             tf.tf * (ln((n.n_docs + 1.0) / (docfreq.df + 1.0)) + 1) AS tf_idf
      FROM tf JOIN docfreq USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT doc_id, term, tf, tf_idf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tf_idf DESC, term) AS rn
      FROM scored)
    SELECT doc_id, term, tf, ROUND(tf_idf, 6) AS tf_idf
    FROM ranked WHERE rn <= 3
    """,
    doc="Per-document top-3 terms by smoothed TF-IDF (operators.text."
    "tfidf_topk): the corpus-statistic upgrade of text_topk_terms — "
    "document frequency is a global aggregate joined back per term, N "
    "rides in as a crossJoined 1-row aggregate (no driver count in the "
    "plan), and the ranking window is partitioned by document.",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return tx.tfidf_topk(d, "doc_id", "text", k=3)


@register(
    "text_pack_shards",
    oracle="""
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS cum_tokens
      FROM toks)
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           CAST(FLOOR((cum_tokens - 1) / 4096) AS INT) AS shard_id
    FROM packed
    """,
    doc="Token-budget shard packing (the training-data sequence-packing "
    "shape): running token sum over a deterministic document order, "
    "shard = floor(cum/budget), via operators.text.pack_token_shards "
    "on its default whitespace basis (the oracle-stable gate form; the "
    "operator's tokenizer_fn knob swaps in a real subword tokenizer "
    "through the Arrow seam for production budgeting). Uses operators."
    "ordered.ordered_running_sum — a two-phase parallel prefix sum "
    "(range-partition, partition-local window, broadcast offsets) — so "
    "no data-sized single-reducer global window appears in the plan.",
)
def text_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return tx.pack_token_shards(d, "doc_id", "text", budget=4096)


@register(
    "text_clean",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(text, '<[^>]*>', ' ', 'g'),
               'https?://[^ ]+', ' ', 'g'),
             ' +', ' ', 'g')) AS clean_text,
           n_chars,
           CAST(length(trim(regexp_replace(
             regexp_replace(
               regexp_replace(text, '<[^>]*>', ' ', 'g'),
               'https?://[^ ]+', ' ', 'g'),
             ' +', ' ', 'g'))) AS BIGINT) AS n_chars_clean
    FROM documents
    """,
    doc="Boilerplate stripping — the first transform of a web-corpus "
    "curation pipeline: drop HTML tags and URLs, collapse runs of "
    "spaces, trim. Pure regexp_replace chain inside codegen (the "
    "synthetic corpus is already clean, so the transform is near-"
    "identity here; the regex paths and char-count deltas are what "
    "the oracle pins).",
)
def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), "<[^>]*>", " "),
                "https?://[^ ]+",
                " ",
            ),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        "n_chars",
        F.length(clean).cast("long").alias("n_chars_clean"),
    )


@register(
    "sample_domain_mix",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT + 1.0)
               / 1152921504606846976.0 AS u,
             CASE source WHEN 'src0' THEN 1.0
                         WHEN 'src1' THEN 0.5
                         WHEN 'src2' THEN 0.25
                         ELSE 0.1 END AS rate
      FROM documents)
    SELECT doc_id, source, ROUND(u, 6) AS u
    FROM keyed WHERE u < rate
    """,
    doc="Deterministic domain reweighting (operators.sampling."
    "domain_mix): per-source keep rates as a broadcast dimension join, "
    "md5-derived uniform coin per row — the data-mixing step that "
    "shapes a raw corpus into a target source distribution, exactly "
    "reproducible across runs/engines (hash-oracle-checked, unlike any "
    "seeded sampler).",
)
def sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import domain_mix

    d = table(spark, sf_dir, "documents")
    out = domain_mix(
        d,
        "doc_id",
        "source",
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1,
    )
    return out.select("doc_id", "source", F.round("u", 6).alias("u"))


@register(
    "text_chunk_overlap",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), ch AS (
      SELECT doc_id,
             CAST(u.s / 24 AS INT) AS chunk_id,
             t[u.s + 1 : u.s + 32] AS ctoks
      FROM toks, UNNEST(range(0,
             CAST(greatest(floor((len(t) - 32 + 23) / 24) * 24, 0) AS BIGINT) + 1,
             24)) AS u(s))
    SELECT doc_id, chunk_id,
           array_to_string(ctoks, ' ') AS chunk_text,
           CAST(len(ctoks) AS INT) AS chunk_tokens
    FROM ch
    """,
    doc="Sliding-window chunking (operators.text.chunk_documents): "
    "32-token windows every 24 tokens (8-token overlap), stopping at "
    "the first window that covers the last token — the context-length "
    "shaping step of a training/RAG pipeline. The fan-out is pure "
    "codegen (sequence -> transform-slice -> posexplode), zero "
    "shuffle: chunking stays map-side and only the chunk rows ever "
    "partition downstream.",
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import chunk_documents

    d = table(spark, sf_dir, "documents")
    return chunk_documents(d, "doc_id", "text", chunk_size=32, stride=24)


def _observe(df: DataFrame, telemetry: dict | None, name: str, *metrics) -> DataFrame:
    """``df`` with ``metrics`` observed as ``telemetry[name]``, a new
    ``pyspark.sql.Observation``; ``df`` itself when ``telemetry`` is None."""
    if telemetry is None:
        return df
    obs = Observation(name)
    telemetry[name] = obs
    return df.observe(obs, *metrics)


@register(
    "pipeline_curate_corpus",
    oracle="""
    WITH stats AS (
      SELECT doc_id, text, lang, n_chars,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents),
    kept AS (
      SELECT * FROM stats
      WHERE lang = 'en' AND n_chars BETWEEN 100 AND 20000 AND n_tokens >= 20),
    surv AS (
      SELECT MIN(doc_id) AS doc_id, MIN(n_tokens) AS n_tokens,
             COUNT(*) AS n_copies
      FROM kept GROUP BY md5(text)),
    packed AS (
      SELECT doc_id, n_tokens, n_copies,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS cum
      FROM surv)
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, n_copies,
           CAST(FLOOR((cum - 1) / 2048) AS INT) AS shard_id
    FROM packed
    """,
    doc="End-to-end corpus curation — the composition a training-data "
    "pipeline actually runs, as ONE declarative plan: language + "
    "length-gate filter (pushed into the parquet scan) -> exact dedup "
    "with deterministic min-id survivor (groupBy on md5: the shuffle "
    "carries 16-byte fingerprints + ids, never document bodies; "
    "n_tokens rides through the agg since duplicates tokenize "
    "identically, saving a join-back) -> token-budget shard packing "
    "via the two-phase prefix sum (operators.ordered) — no "
    "single-reducer window anywhere.",
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return curate_corpus(d)


def curate_corpus(d: DataFrame, telemetry: dict | None = None) -> DataFrame:
    """The curation plan behind ``pipeline_curate_corpus``.

    ``telemetry``, when supplied, is populated with named
    ``pyspark.sql.Observation`` objects — ``input`` / ``post_filter`` /
    ``post_dedup`` row (and token) counts collected as CollectMetrics
    nodes INSIDE the single plan execution, the retention accounting a
    production curation run reports without re-running any stage
    (each ``Observation.get`` blocks until the query's action runs).

    Placement audit (round 9, after the valve-telemetry AQE failures —
    see ``operators.dedup._drop_hot_keys``): these observes are safe as
    LAZY CollectMetrics because they sit on the SPINE of the plan —
    every row of the result flows through them, so the nodes land in
    stages that always materialize, never in a join build side AQE can
    prune or a subtree a self-join duplicates. Re-verified by draining
    both composite funnels at the bench SF. Keep new funnel metrics on
    the spine; anything observed off-spine must use the eager pattern.
    """
    d = _observe(d, telemetry, "input", F.count(F.lit(1)).alias("rows"))
    toks = F.size(F.split(F.col("text"), " "))
    kept = d.filter(
        (F.col("lang") == "en")
        & F.col("n_chars").between(100, 20000)
        & (toks >= 20)
    ).select(F.md5("text").alias("_fp"), "doc_id", toks.alias("n_tokens"))
    kept = _observe(
        kept,
        telemetry,
        "post_filter",
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_tokens").alias("tokens"),
    )
    surv = kept.groupBy("_fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("n_tokens").alias("n_tokens"),
        F.count("*").alias("n_copies"),
    ).drop("_fp")
    packed = ordered_running_sum(surv, ["doc_id"], "n_tokens", out_col="cum")
    out = packed.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "n_copies",
        F.floor((F.col("cum") - 1) / 2048).cast("int").alias("shard_id"),
    )
    # The dedup-stage metrics ride on the FINAL select, which is
    # row-and-token-preserving over the dedup output. They must NOT sit
    # directly below ordered_running_sum: its pinned bucketed frame is
    # consumed by two plan branches (totals + local window), so a
    # mid-plan CollectMetrics there can fire per consuming branch on a
    # cache miss (and the legacy string-keyed form's
    # repartitionByRange additionally runs a range-bound SAMPLING job
    # over its child — observed 2x counts).
    return _observe(
        out,
        telemetry,
        "post_dedup",
        F.count(F.lit(1)).alias("rows"),
        F.sum("n_tokens").alias("tokens"),
    )


@register(
    "sample_weighted_reservoir",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang,
             -ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT + 1.0)
                 / 1152921504606846976.0) / n_chars AS priority
      FROM documents WHERE n_chars > 0
    ), ranked AS (
      SELECT doc_id, lang, priority,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY priority, doc_id) AS rn
      FROM keyed)
    SELECT doc_id, lang, ROUND(priority, 6) AS priority
    FROM ranked WHERE rn <= 20
    """,
    doc="Deterministic weighted reservoir sample, 20 docs per language "
    "weighted by n_chars (operators.sampling.weighted_reservoir): "
    "Efraimidis-Spirakis exponential keys -ln(u)/w with md5-derived "
    "uniforms instead of an RNG — the sample is a pure function of the "
    "data, so unlike seeded sampleBy (sample_stratified) it is exactly "
    "hash-oracle-checked. Per-stratum ranking window; no global sort.",
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_reservoir

    d = table(spark, sf_dir, "documents")
    out = weighted_reservoir(d, "doc_id", "n_chars", k=20, strata_col="lang")
    return out.select("doc_id", "lang", F.round("priority", 6).alias("priority"))


_DSIR_B = 2048  # hashed feature buckets at the gate SF
_DSIR_MOD = 29  # the eval-slice convention (_FUZZY_DECON_MOD): every
# 29th doc plays the curated target corpus
_DSIR_N = 50

_SQL_DSIR_GRAMS = """unnest(list_concat(
        string_split(text, ' '),
        list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
          i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])
      )) AS g"""


@register(
    "sample_dsir",
    oracle=f"""
    WITH raw AS (SELECT doc_id, text FROM documents WHERE doc_id % {_DSIR_MOD} <> 0),
    tgt AS (SELECT doc_id, text FROM documents WHERE doc_id % {_DSIR_MOD} = 0),
    rg AS (SELECT doc_id, {_SQL_DSIR_GRAMS} FROM raw),
    tg AS (SELECT doc_id, {_SQL_DSIR_GRAMS} FROM tgt),
    rf AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT % {_DSIR_B} AS f,
                  COUNT(*) AS c
           FROM rg GROUP BY doc_id, f),
    tf AS (SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT % {_DSIR_B} AS f,
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
      SELECT ln(CAST((SELECT SUM(tc) FROM tcnt) + {_DSIR_B} AS DOUBLE))
               - ln(CAST((SELECT SUM(rc) FROM rcnt) + {_DSIR_B} AS DOUBLE)) AS norm),
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
    ORDER BY score DESC, doc_id ASC LIMIT {_DSIR_N}
    """,
    doc="DSIR data selection (operators.sampling.dsir_select — Xie et "
    "al. 2023): per-document log-likelihood ratio under hashed "
    "unigram+bigram bag-of-ngrams models of the raw vs target corpora "
    "(Laplace-smoothed, total-mass normalized; 15-hex md5 bucket ids "
    "— the uniform_key idiom), resampled by Gumbel-top-n with a "
    "domain-separated md5 coin clamped below 1.0 — the Gumbel-max "
    "trick makes the deterministic top-n equivalent to "
    "softmax-weighted sampling without replacement, so even the "
    "SELECTION is hash-oracle-checked (scores to 6 dp, winner order "
    "exact). Two linear corpus passes; the 2048-row log-ratio "
    "table broadcasts; TakeOrderedAndProject selection.",
)
def sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import dsir_select

    d = table(spark, sf_dir, "documents")
    return dsir_select(
        d.filter(F.col("doc_id") % _DSIR_MOD != 0),
        d.filter(F.col("doc_id") % _DSIR_MOD == 0),
        "doc_id",
        "text",
        n=_DSIR_N,
        buckets=_DSIR_B,
    )


@register(
    "sample_stratified",
    oracle=None,  # sampling: property-tested (fractions/determinism), not hash-matched
    doc="Deterministic stratified sampling by language (sampleBy with "
    "a fixed seed): the data-mixing primitive for training corpora — "
    "per-stratum Bernoulli sampling in one scan, no shuffle. Engine-"
    "specific RNG means no cross-engine hash; pytest asserts per-"
    "stratum fractions and seed-stability instead.",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.sampleBy("lang", fractions={"en": 0.5, "es": 0.2, "de": 0.1}, seed=42).select(
        "doc_id", "lang"
    )


# ----------------------------------------------------------------------
# Round 7: decontamination, repetition quality, token-budget mixing
# ----------------------------------------------------------------------

# Benchmark membership for the decontamination query: every 29th doc
# plays the held-out eval set (~3.4% of the corpus — the realistic
# asymmetry: benchmarks are tiny next to the training corpus).
_DECON_MOD = 29
_DECON_N = 4  # token 4-grams, distinct from jaccard's 3-gram shingles


@register(
    "dedup_decontaminate",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(t) - {_DECON_N - 1}),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS gram
      FROM toks),
    ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % {_DECON_MOD} = 0),
    hits AS (
      SELECT g.doc_id, COUNT(*) AS shared_ngrams
      FROM grams g JOIN ev USING (gram)
      WHERE g.doc_id % {_DECON_MOD} <> 0
      GROUP BY g.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(h.shared_ngrams, 0) AS BIGINT) AS shared_ngrams,
           CAST(COALESCE(h.shared_ngrams, 0) > 0 AS INT) AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % {_DECON_MOD} <> 0
    """,
    doc="Benchmark decontamination (operators.dedup.decontaminate): "
    "flag train docs sharing any token 4-gram with the held-out eval "
    "slice — the leakage filter every pre-training pipeline runs. The "
    "small benchmark gram set is broadcast and the 100-TB train gram "
    "stream filters against it map-side (broadcast LEFT SEMI) BEFORE "
    "any shuffle: only actual hits ever reach an exchange.",
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % _DECON_MOD != 0)
    bench = d.filter(F.col("doc_id") % _DECON_MOD == 0)
    return dd.decontaminate(train, bench, "doc_id", "text", ngram_n=_DECON_N)


@register(
    "text_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), base AS (
      SELECT doc_id, len(t) AS n, len(list_distinct(t)) AS n_uniq,
             list_transform(generate_series(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i+1]) AS grams
      FROM toks
    ), cnt AS (
      SELECT doc_id, gram, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(grams) AS gram FROM base) g
      GROUP BY doc_id, gram
    ), top AS (
      SELECT doc_id, MAX(c) AS top_cnt, CAST(SUM(c) AS BIGINT) AS n_bigrams
      FROM cnt GROUP BY doc_id)
    SELECT b.doc_id,
           ROUND(CAST(b.n - b.n_uniq AS DOUBLE) / b.n, 6) AS dup_token_frac,
           CASE WHEN COALESCE(t.n_bigrams, 0) > 0
                THEN ROUND(CAST(t.top_cnt AS DOUBLE) / t.n_bigrams, 6)
                ELSE 0.0 END AS top_bigram_frac,
           CAST(COALESCE(t.top_cnt, 0) * 5 <= COALESCE(t.n_bigrams, 0)
                AND (b.n - b.n_uniq) * 10 <= 7 * b.n AS INT)
             AS passes_repetition_gate
    FROM base b LEFT JOIN top t USING (doc_id)
    """,
    doc="Repetition-quality battery (operators.text.repetition_stats): "
    "duplicate-token fraction + top-bigram fraction + integer-exact "
    "pass/fail gate — the Gopher-style looping-text filter cheap "
    "length checks miss. Pure codegen projection, ZERO shuffle: runs "
    "at scan speed as a map-only stage at any corpus size.",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return tx.repetition_stats(d, "doc_id", "text")


@register(
    "sample_token_budget",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT + 1.0)
               / 1152921504606846976.0 AS u
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_chars,
             CAST(COALESCE(SUM(n_chars) OVER (
               PARTITION BY source ORDER BY u, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM keyed)
    SELECT doc_id, source, n_chars, cum_before
    FROM c WHERE cum_before < 2000
    """,
    doc="Per-domain token-budget fill (operators.sampling."
    "token_budget_sample): admit docs in md5-random order until each "
    "source has ~2000 chars — the 'B tokens from every source' "
    "corpus-mixing step, exactly reproducible (hash-oracle-checked) "
    "and monotone in the budget. One shuffle on the domain key + one "
    "per-domain running-sum window.",
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import token_budget_sample

    d = table(spark, sf_dir, "documents")
    out = token_budget_sample(
        d, "doc_id", "n_chars", budget=2000, domain_col="source"
    )
    return out.select("doc_id", "source", "n_chars", "cum_before")


@register(
    "dedup_incremental_lsh",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    mh AS (
      SELECT doc_id, j,
             MIN({_SQL_MD5_LONG.format(x="j::VARCHAR || ':' || shingle", n=15)}) AS minh
      FROM sh CROSS JOIN (SELECT unnest(generate_series(0, {_MINHASH_K - 1})) AS j) perms
      GROUP BY doc_id, j),
    bands AS (
      SELECT doc_id, j // 2 AS band,
             string_agg(minh::VARCHAR, ',' ORDER BY j) AS band_key
      FROM mh GROUP BY doc_id, j // 2),
    hfreq AS (SELECT band, band_key, COUNT(*) AS d
              FROM bands WHERE doc_id % {_INC_MOD} <> 0
              GROUP BY band, band_key),
    hcaps AS ({_sql_quantile_cap("hfreq")}),
    cand AS (
      SELECT DISTINCT i.doc_id AS inc_id, h.doc_id AS hist_id
      FROM bands i JOIN bands h
        ON i.band = h.band AND i.band_key = h.band_key
      JOIN hfreq f ON f.band = h.band AND f.band_key = h.band_key
      -- COALESCE mirrors the Spark valve's no-repeated-bucket case:
      -- an empty d>=2 histogram yields a NULL cap, which must keep
      -- every candidate (the hot set is empty), not drop them all
      JOIN hcaps ON f.d <= COALESCE(hcaps.max_df * {dd.VALVE_HEADROOM}, f.d)
      WHERE i.doc_id % {_INC_MOD} = 0 AND h.doc_id % {_INC_MOD} <> 0),
    agreed AS (
      SELECT inc_id, hist_id,
             CAST(SUM(CASE WHEN mi.minh = mhh.minh THEN 1 ELSE 0 END) AS DOUBLE)
               / {_MINHASH_K} AS est
      FROM cand
      JOIN mh mi ON mi.doc_id = inc_id
      JOIN mh mhh ON mhh.doc_id = hist_id AND mi.j = mhh.j
      GROUP BY inc_id, hist_id
      HAVING SUM(CASE WHEN mi.minh = mhh.minh THEN 1 ELSE 0 END)
             >= {_MINHASH_K} * 0.25),
    best AS (
      SELECT inc_id, MIN(hist_id) AS dup_of, MAX(est) AS best_est
      FROM agreed GROUP BY inc_id)
    SELECT d.doc_id, b.dup_of, b.best_est,
           CAST(b.dup_of IS NULL AS INT) AS is_new
    FROM documents d LEFT JOIN best b ON b.inc_id = d.doc_id
    WHERE d.doc_id % {_INC_MOD} = 0
    """,
    doc="Incremental fuzzy dedup (operators.dedup."
    "incremental_minhash_dedup): dedup the daily batch against the "
    "historical corpus via a band equi-join of increment signatures "
    "against the persisted history signature table — history text is "
    "never re-scanned and never self-joins; candidate mass tracks "
    "band collisions, not |history| x |increment|. Deterministic "
    "survivor pick (min history id among matches). The hot-band valve "
    "(10 x p92 spread guard over HISTORY-side bucket sizes, derived "
    "in-plan) bounds every band key's candidate mass at "
    "|increment| x cap; result verified identical to uncapped at both "
    "test SFs, and the oracle derives the same cap.",
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") % _INC_MOD != 0)
    increment = d.filter(F.col("doc_id") % _INC_MOD == 0)
    return dd.incremental_minhash_dedup(
        history, increment, "doc_id", "text",
        num_hashes=_MINHASH_K, rows_per_band=2, min_agree=0.25,
        cap_hot_keys=True,
    )


@register(
    "pipeline_pretrain_corpus",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, n_chars, text, string_split(text, ' ') AS t
      FROM documents),
    bi AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1])) AS gram
      FROM toks WHERE doc_id % {_DECON_MOD} <> 0),
    bcnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM bi GROUP BY doc_id, gram),
    rep AS (SELECT doc_id, MAX(c) AS top_cnt, CAST(SUM(c) AS BIGINT) AS n_bigrams
            FROM bcnt GROUP BY doc_id),
    quality AS (
      SELECT k.doc_id, k.source, k.n_chars, k.text
      FROM toks k LEFT JOIN rep r USING (doc_id)
      WHERE k.doc_id % {_DECON_MOD} <> 0
        AND COALESCE(r.top_cnt, 0) * 5 <= COALESCE(r.n_bigrams, 0)
        AND (len(k.t) - len(list_distinct(k.t))) * 10 <= 7 * len(k.t)
        AND k.n_chars BETWEEN 50 AND 20000),
    g4 AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(t) - 3),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS gram
      FROM toks),
    ev AS (SELECT DISTINCT gram FROM g4 WHERE doc_id % {_DECON_MOD} = 0),
    hits AS (
      SELECT DISTINCT g.doc_id FROM g4 g JOIN ev USING (gram)
      WHERE g.doc_id % {_DECON_MOD} <> 0),
    clean AS (
      SELECT q.* FROM quality q LEFT JOIN hits h USING (doc_id)
      WHERE h.doc_id IS NULL),
    surv AS (
      SELECT MIN(doc_id) AS doc_id, arg_min(source, doc_id) AS source,
             MIN(n_chars) AS n_chars
      FROM clean GROUP BY md5(text)),
    mix AS (
      SELECT doc_id, source, n_chars,
             CAST(COALESCE(SUM(n_chars) OVER (
               PARTITION BY source
               ORDER BY (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                          + 1.0) / 1152921504606846976.0, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
      FROM surv),
    kept AS (SELECT doc_id, source, n_chars FROM mix WHERE cum_before < 4000),
    packed AS (
      SELECT doc_id, source, n_chars,
             SUM(n_chars) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum
      FROM kept)
    SELECT doc_id, source, n_chars,
           CAST(FLOOR((cum - 1) / 2000) AS INT) AS shard_id
    FROM packed
    """,
    doc="END-TO-END pre-training data pipeline as ONE declarative plan "
    "— the round-7 flagship composition: repetition + length quality "
    "gate (zero-shuffle codegen battery) -> benchmark decontamination "
    "(broadcast-semi 4-gram overlap vs the held-out eval slice, "
    "dropping contaminated docs) -> exact dedup (md5 shuffle, "
    "min-id survivor via min_by) -> per-domain token-budget mix "
    "(md5-coin admission, 4000 chars/source) -> shard packing via the "
    "two-phase prefix sum. Catalyst sees the whole pipeline at once: "
    "column pruning reaches the scan, the eval gram set broadcasts, "
    "and no single-reducer window appears anywhere.",
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % _DECON_MOD == 0)
    corpus = d.filter(F.col("doc_id") % _DECON_MOD != 0)
    return pretrain_corpus(corpus, bench)


def pretrain_corpus(
    corpus: DataFrame,
    benchmark: DataFrame,
    telemetry: dict | None = None,
    char_budget_per_source: int = 4000,
    shard_chars: int = 2000,
    token_col: str | None = None,
) -> DataFrame:
    """The composition behind ``pipeline_pretrain_corpus`` — quality
    gate -> decontaminate -> exact dedup -> token-budget mix -> shard
    pack, reusing the operator library's single definitions
    (``repetition_gate``, ``shingles``, ``token_budget_sample``,
    ``ordered_running_sum``) so the composite can never drift from the
    standalone operators. ``telemetry`` collects per-stage retention
    Observations inside the one execution (same contract as
    ``curate_corpus``; no metrics directly below the range-partitioned
    prefix sum — its sampling job would double-fire them).

    ``token_col`` (round 16, opt-in): budget and pack on a REAL token
    count instead of ``n_chars`` — a column the caller precomputed,
    typically ``operators.text.subword_token_counts`` output
    (stub-or-real BPE through the Arrow seam) joined back onto the
    corpus. When set, ``char_budget_per_source`` and ``shard_chars``
    are read in that column's units, the column rides every stage
    (identical texts carry identical counts, so the md5 dedup's min
    is exact), and it appears in the output next to ``n_chars``. At
    the default (``None``) the plan is byte-identical to the pre-knob
    form — the ``pipeline_pretrain_corpus`` gate row is unchanged."""
    from ..operators.dedup import _spread, exploded_shingles
    from ..operators.sampling import token_budget_sample
    from ..operators.text import repetition_gate

    # widen a narrow scan BEFORE the compute-heavy stages: the
    # repetition gate's per-doc fold and the 4-gram explode otherwise
    # serialize on a single-file input's one partition (the standalone
    # operators _spread internally; the composite must too — a user's
    # single multi-GB file would gate on one core). At corpus scale
    # the input is already wide and this passes through; at bench SF
    # it measures neutral (the corpus is small enough that scheduling
    # overhead offsets the parallelism).
    if token_col is not None and token_col not in corpus.columns:
        raise ValueError(
            f"token_col {token_col!r} not in corpus columns {corpus.columns}"
        )
    if token_col in ("doc_id", "source", "n_chars", "text"):
        # already carried / consumed by the pipeline's fixed schema —
        # letting it through would duplicate the column and surface as
        # an ambiguous-reference error far from this knob
        raise ValueError(
            f"token_col {token_col!r} collides with the pipeline's base "
            "columns (doc_id, source, n_chars, text)"
        )
    carried = ["doc_id", "source", "n_chars"] + (
        [token_col] if token_col else []
    )
    weight_col = token_col or "n_chars"

    corpus = _spread(corpus)
    # telemetry spine: the decontamination gram branch below reads this
    # PRE-observe frame so the "input"/"post_quality" CollectMetrics
    # nodes sit on the spine only, exactly as before the round-17
    # gram-branch change.
    spine = _observe(corpus, telemetry, "input", F.count(F.lit(1)).alias("rows"))
    quality = spine.filter(
        repetition_gate(F.col("text")) & F.col("n_chars").between(50, 20000)
    ).select(*carried, "text")
    quality = _observe(quality, telemetry, "post_quality", F.count(F.lit(1)).alias("rows"))

    gram = exploded_shingles("text", 4)
    ev = benchmark.select(gram.alias("gram")).distinct()
    # Round 17 (guide §1.2 step 1 — don't compute things you throw
    # away): the gram branch reads the RAW corpus under only the
    # parquet-pushable n_chars band, NOT the quality frame. Through
    # round 16 it read `quality`, so the repetition gate — an
    # interpreted per-doc sort + aggregate fold (HOFs are
    # CodegenFallback) — executed TWICE per run: once here and once on
    # the survivor spine (the two consumers are separate plan branches;
    # no exchange reuse fires between them). Result-identical by a
    # subset argument: quality ⊆ {corpus : n_chars in band}, so
    # hits_new ∩ quality == hits_old, and the left_anti below only
    # ever subtracts from `quality` — extra hit ids for docs that fail
    # the gate subtract nothing. This is also the oracle's own
    # formulation (its `g4` CTE reads `toks`, not `quality`). The
    # trade: 4-gram explode over gate-failing docs (4% of the corpus
    # at sf0.1: 183 of 4827) vs one full interpreted-fold pass saved —
    # the isolated gram branch measures 1.219 → 0.427 s min-of-6
    # interleaved at sf0.1; the end-to-end pipeline delta is
    # window-noise-bounded there (~6%) because downstream stages
    # dominate, but the removed pass scales with the corpus.
    # Value-equal vs the round-16 form AND the oracle at all three
    # SFs (OPTIMIZATION_r17.md; tools/pretrain_decon_ab_r17_results.json).
    hit_ids = (
        corpus.filter(F.col("n_chars").between(50, 20000))
        .select("doc_id", gram.alias("gram"))
        .join(F.broadcast(ev), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = quality.join(hit_ids, "doc_id", "left_anti")
    clean = _observe(clean, telemetry, "post_decontam", F.count(F.lit(1)).alias("rows"))

    surv = (
        clean.groupBy(F.md5("text").alias("_fp"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.expr("min_by(source, doc_id)").alias("source"),
            F.min("n_chars").alias("n_chars"),
            # identical texts carry identical token counts, so min is
            # the value itself (same argument as n_chars above)
            *([F.min(token_col).alias(token_col)] if token_col else []),
        )
        .drop("_fp")
    )
    kept = token_budget_sample(
        surv,
        "doc_id",
        weight_col,
        char_budget_per_source,
        domain_col="source",
    ).select(*carried)
    packed = ordered_running_sum(kept, ["doc_id"], weight_col, out_col="cum")
    out = packed.select(
        *carried,
        F.floor((F.col("cum") - 1) / shard_chars).cast("int").alias("shard_id"),
    )
    return _observe(out, telemetry, "post_mix", F.count(F.lit(1)).alias("rows"))
