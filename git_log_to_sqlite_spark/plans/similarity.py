"""Similarity-search queries over the ``embeddings`` table — oracle-
gated instantiations of ``operators.similarity`` (brute-force baseline
and IVF-bucketed ANN; see that module for the scale rationale).

Floating-point note: each cosine is a 64-term double fold — identical
operand order in both engines — rounded to 4 dp, far above any
accumulation noise (~1e-13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as sim
from .registry import register, table

_SQL_COS = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    "  * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


@register(
    "sim_cosine_topk",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_SQL_COS}, 4) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY ROUND({_SQL_COS}, 4) DESC, b.vec_id)
               AS rn
      FROM embeddings a JOIN embeddings b ON a.vec_id < 8 AND a.vec_id <> b.vec_id
    ) t WHERE rn <= 5
    """,
    doc="Brute-force cosine top-5 for 8 query vectors (operators."
    "similarity.brute_force_topk): broadcast query side, JVM-side dot "
    "fold, per-query ranking. The exactness baseline every ANN "
    "variant is measured against.",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    out = sim.brute_force_topk(
        queries=e.filter(F.col("vec_id") < 8), corpus=e, id_col="vec_id",
        vec_col="embedding", k=5, round_to=4,
    )
    return out


@register(
    "sim_ann_bucketed",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_SQL_COS}, 4) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY ROUND({_SQL_COS}, 4) DESC, b.vec_id)
               AS rn
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 8
    ) t WHERE rn <= 5
    """,
    doc="IVF-style bucketed ANN (operators.similarity."
    "bucketed_ann_topk): equi-join on the coarse-quantizer cell "
    "(label) replaces the cross join, cutting each query's scan to "
    "corpus/|cells|; recall vs sim_cosine_topk asserted in tests.",
)
def sim_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return sim.bucketed_ann_topk(
        queries=e.filter(F.col("vec_id") < 8), corpus=e, id_col="vec_id",
        vec_col="embedding", bucket_col="label", k=5, round_to=4,
    )


@register(
    "sim_pairs_threshold",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_SQL_COS}, 4) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 64 AND b.vec_id < 64
      AND {_SQL_COS} >= 0.8
    """,
    doc="All-pairs similarity above a threshold on a bounded slice — "
    "the verification stage of a near-dup-by-embedding pipeline "
    "(candidates come from LSH/IVF at scale; the threshold check is "
    "this exact form).",
)
def sim_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)
    # stream side widened like dedup_embedding_cosine (bounded slice,
    # one scan partition otherwise)
    a = sim.vec_side(
        e.repartition(spark.sparkContext.defaultParallelism),
        "vec_id", "embedding", "vec_a", "a",
    )
    b = sim.vec_side(e, "vec_id", "embedding", "vec_b", "b")
    s = sim.pair_cosine("a", "b")
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(s >= 0.8)
        .select("vec_a", "vec_b", F.round(s, 4).alias("cos_sim"))
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT vec_id, label FROM embeddings
    WHERE vec_id < 512 AND vec_id NOT IN (
      SELECT b.vec_id
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id < 512 AND b.vec_id < 512
        AND {_SQL_COS} >= 0.95)
    ORDER BY vec_id
    """,
    doc="Embedding-cosine near-dup dedup: drop every vector that has a "
    "smaller-id neighbor with cosine >= 0.95 (the min-id survivor rule "
    "— deterministic, no transitive chaining). Exact within the slice; "
    "at 100 TB the pair stage is fed by LSH/IVF candidates "
    "(sim_ann_bucketed's cell join) instead of an all-pairs join, and "
    "the survivor anti-join is unchanged.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 512)
    # Widen the STREAM side of the pair join (round 17, guide §2.5
    # input skew): the filtered slice arrives as ONE scan partition
    # (single parquet file), so the nested-loop pair stage — 512^2/2
    # interpreted higher-order dot folds — ran on one core regardless
    # of cluster size (measured 2.6 -> 1.2 s at 32 cores; rows
    # identical). The slice is bounded by the filter (<= 512 rows), so
    # the repartition shuffles a few KB at any corpus scale.
    a = sim.vec_side(
        e.repartition(spark.sparkContext.defaultParallelism),
        "vec_id", "embedding", "vec_a", "a",
    )
    b = sim.vec_side(e, "vec_id", "embedding", "vec_b", "b")
    s = sim.pair_cosine("a", "b")
    dup_ids = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(s >= 0.95)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return (
        e.join(dup_ids, "vec_id", "left_anti")
        .select("vec_id", "label")
        .orderBy("vec_id")
    )


@register(
    "sim_centroid_per_label",
    oracle="""
    WITH dims AS (
      SELECT label, i,
             ROUND(AVG(embedding[i]::DOUBLE), 6) AS centroid_dim
      FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS i) d
      GROUP BY label, i)
    SELECT label, CAST(i AS INT) AS dim_index, centroid_dim FROM dims
    """,
    doc="Per-cluster centroid (first 4 dims shown): the k-means "
    "update step / IVF cell statistics as a grouped aggregate over "
    "exploded dimensions.",
)
def sim_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select(
            "label",
            F.explode(F.sequence(F.lit(1), F.lit(4))).alias("dim_index"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
        )
        .select(
            "label",
            "dim_index",
            F.get(F.col("v"), F.col("dim_index") - 1).alias("dim_val"),
        )
        .groupBy("label", "dim_index")
        .agg(F.round(F.avg("dim_val"), 6).alias("centroid_dim"))
        .select("label", "dim_index", "centroid_dim")
    )


def _lsh_plane_sql(dims: int, num_planes: int) -> str:
    """DuckDB expression for operators.similarity.lsh_bucket: the
    hyperplane weights are md5-derived in Python (the same
    ``_plane_weight`` constants in both engines), so the bucket id is
    oracle-checkable."""
    planes = []
    for p in range(num_planes):
        terms = " + ".join(
            f"({sim._plane_weight(p, d)!r} * embedding[{d + 1}]::DOUBLE)"
            for d in range(dims)
        )
        planes.append(f"(CASE WHEN ({terms}) >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(planes)


@register(
    "sim_ann_multiprobe",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {{bucket}} AS cell FROM embeddings
    ), probes AS (
      SELECT vec_id AS query_id, embedding AS qv,
             unnest([cell, xor(cell, 1), xor(cell, 2), xor(cell, 4), xor(cell, 8)]) AS probe
      FROM b WHERE vec_id < 8
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             ROUND(list_dot_product(p.qv::DOUBLE[], c.embedding::DOUBLE[])
               / (sqrt(list_dot_product(p.qv::DOUBLE[], p.qv::DOUBLE[]))
                * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 4)
               AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
               ROUND(list_dot_product(p.qv::DOUBLE[], c.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(p.qv::DOUBLE[], p.qv::DOUBLE[]))
                  * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) , 4)
               DESC, c.vec_id) AS rn
      FROM probes p JOIN b c ON p.probe = c.cell AND p.query_id <> c.vec_id
    ) t WHERE rn <= 5
    """.replace("{bucket}", _lsh_plane_sql(64, 4)),
    doc="Multi-probe sign-LSH ANN (operators.similarity."
    "multiprobe_ann_topk): query probes its cell + 4 Hamming-1 cells. "
    "Hyperplane weights are md5-derived constants, so even the LSH "
    "cell assignment is oracle-checked (DuckDB computes identical "
    "buckets from the same literals).",
)
def sim_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return sim.multiprobe_ann_topk(
        queries=e.filter(F.col("vec_id") < 8), corpus=e, id_col="vec_id",
        vec_col="embedding", dims=64, num_planes=4, k=5, round_to=4,
    )


@register(
    "sim_kmeans_groups",
    oracle=None,  # iterative refinement: no single-statement SQL twin;
    # the driver records a rows/schema check and pytest asserts planted-
    # cluster purity + run-to-run determinism on the operator itself
    doc="Lloyd's k-means over the embedding column (operators."
    "clustering.kmeans): deterministic lowest-id init, codegen "
    "assignment expression, per-iteration (cluster, dim) partial-sum "
    "shuffle; centroids are driver-held model state (k*dims doubles). "
    "Output is the per-cluster membership census.",
)
def sim_kmeans_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    assigned, _ = kmeans(e, "vec_id", "embedding", k=4, max_iter=8)
    return (
        assigned.groupBy("cluster")
        .agg(F.count("*").alias("n_members"))
        .orderBy("cluster")
    )


@register(
    "sim_ann_ivf",
    oracle=None,  # the quantizer is iterative k-means (no single-
    # statement SQL twin); the driver records a rows/schema check and
    # pytest asserts recall >= sign-LSH multiprobe at the bench SF
    # plus planted-cluster near-exact recall and determinism.  The
    # DETERMINISTIC tail of this operator (assignment + probe +
    # re-rank under pinned centroids) IS oracle-gated — see
    # sim_ann_ivf_assign
    doc="K-means-quantizer IVF ANN (operators.similarity.ivf_ann_topk "
    "+ operators.clustering.kmeans): fitted Voronoi cells quantize the "
    "corpus (codegen assignment, centroids are driver-held model "
    "state), each query probes its n_probe nearest cells via a "
    "broadcast equi-join — the corpus is never re-shuffled. The "
    "production upgrade from random sign-hyperplanes: at the same "
    "scanned fraction, data-adaptive cells buy more recall (0.755 vs "
    "0.675 at sf0.1, asserted in tests).",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans
    from ..operators.similarity import ivf_ann_topk

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    _, centroids = kmeans(e, "vec_id", "embedding", k=8, max_iter=5)
    q = e.filter(F.col("vec_id") < 8)
    return ivf_ann_topk(
        q, e, "vec_id", "embedding", centroids, n_probe=2, k=5, round_to=4
    )


@register(
    "sim_ann_ivf_assign",
    oracle=f"""
    WITH cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
             embedding::DOUBLE[] AS c
      FROM embeddings WHERE vec_id IN (3, 11, 19, 27)),
    sqd AS (
      SELECT e.vec_id, c.cell,
             ROUND(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
                   - 2 * list_dot_product(e.embedding::DOUBLE[], c.c)
                   + list_dot_product(c.c, c.c), 6) AS d
      FROM embeddings e CROSS JOIN cents c),
    ranked AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rnk
      FROM sqd),
    asg AS (SELECT vec_id AS neighbor_id, cell FROM ranked WHERE rnk = 1),
    probes AS (SELECT vec_id AS query_id, cell FROM ranked
               WHERE vec_id < 8 AND rnk <= 2)
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT p.query_id, n.neighbor_id,
             ROUND({_SQL_COS}, 4) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY p.query_id
                                ORDER BY ROUND({_SQL_COS}, 4) DESC,
                                         n.neighbor_id) AS rn
      FROM probes p
      JOIN asg n ON n.cell = p.cell AND n.neighbor_id <> p.query_id
      JOIN embeddings a ON a.vec_id = p.query_id
      JOIN embeddings b ON b.vec_id = n.neighbor_id) t
    WHERE rn <= 5
    """,
    doc="The ORACLE-GATED deterministic tail of IVF ANN (operators."
    "similarity.ivf_ann_topk with dist_round_to): given PINNED "
    "centroids (the embeddings of four fixed ids — 4-row model-state "
    "collect), cell assignment, n_probe=2 cell probing, and exact "
    "cosine re-rank are all hash-stable. Distances use the "
    "cross-engine-stable dot-identity form rounded to 6 dp so the two "
    "engines compute bit-identical doubles before rounding and the "
    "cell decisions cannot diverge on an ulp. The iterative k-means "
    "FIT deliberately stays outside the oracle (sim_ann_ivf, "
    "recall-tested in pytest, exercises it).",
)
def sim_ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_ann_topk

    e = table(spark, sf_dir, "embeddings")
    cent_rows = (
        e.filter(F.col("vec_id").isin(3, 11, 19, 27)).orderBy("vec_id").collect()
    )
    centroids = [[float(x) for x in r["embedding"]] for r in cent_rows]
    return ivf_ann_topk(
        queries=e.filter(F.col("vec_id") < 8), corpus=e, id_col="vec_id",
        vec_col="embedding", centroids=centroids, n_probe=2, k=5,
        round_to=4, dist_round_to=6,
    )


_SEMDD_CENT_IDS = (3, 11, 19, 27)  # sim_ann_ivf_assign's pinned model state
_SEMDD_THR = 0.3  # the synthetic embeddings are near-random (top cos ~0.3);
# a semantic threshold would drop nothing and gate the operator vacuously

_SQL_COS6_AB = (
    "ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    "  * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)"
)
_SQL_CSIM6 = (
    "ROUND(list_dot_product(e.embedding::DOUBLE[], c.c)"
    " / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
    "  * sqrt(list_dot_product(c.c, c.c))), 6)"
)


@register(
    "sem_dedup_assign",
    oracle=f"""
    WITH cents AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell,
             embedding::DOUBLE[] AS c
      FROM embeddings WHERE vec_id IN {_SEMDD_CENT_IDS}),
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
      SELECT a.vec_id, a.cell, {_SQL_CSIM6} AS csim,
             ROW_NUMBER() OVER (PARTITION BY a.cell
                                ORDER BY {_SQL_CSIM6} ASC, a.vec_id ASC) AS rnk
      FROM asg a
      JOIN embeddings e ON e.vec_id = a.vec_id
      JOIN cents c ON c.cell = a.cell),
    drops AS (
      SELECT rb.vec_id, MIN(ra.rnk) AS _r
      FROM ranked ra JOIN ranked rb
        ON ra.cell = rb.cell AND ra.rnk < rb.rnk
      JOIN embeddings a ON a.vec_id = ra.vec_id
      JOIN embeddings b ON b.vec_id = rb.vec_id
      WHERE {_SQL_COS6_AB} >= {_SEMDD_THR}
      GROUP BY rb.vec_id),
    blame AS (
      SELECT d.vec_id, r.vec_id AS dup_of
      FROM drops d JOIN ranked rd ON rd.vec_id = d.vec_id
      JOIN ranked r ON r.cell = rd.cell AND r.rnk = d._r)
    SELECT r.vec_id, r.cell, r.csim AS centroid_sim, b.dup_of,
           CAST(b.dup_of IS NULL AS INT) AS is_kept
    FROM ranked r LEFT JOIN blame b USING (vec_id)
    """,
    doc="SemDeDup (operators.similarity.semantic_dedup — Abbas et al. "
    "2023): cluster-scoped semantic dedup, the ORACLE-GATED "
    "deterministic tail under pinned centroids (sim_ann_ivf_assign's "
    "model-state convention) and the registry rounding knobs — cell "
    "assignment by the rounded dot-identity distance, "
    "farthest-from-centroid-first rank, the upper-triangular drop "
    "rule with lowest-ranked blame, annotate-don't-filter output. "
    "The quantizer FIT stays outside the oracle (kmeans_fit_sample, "
    "property-tested); pairs never cross cells by design.",
)
def sem_dedup_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import semantic_dedup

    e = table(spark, sf_dir, "embeddings")
    cent_rows = (
        e.filter(F.col("vec_id").isin(*_SEMDD_CENT_IDS))
        .orderBy("vec_id")
        .collect()
    )
    centroids = [[float(x) for x in r["embedding"]] for r in cent_rows]
    return semantic_dedup(
        e, "vec_id", "embedding", centroids,
        threshold=_SEMDD_THR, round_to=6, dist_round_to=6,
    )


@register(
    "dedup_embedding_groups",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id < 256 AND b.vec_id < 256 AND {_SQL_COS} >= 0.3),
    sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.label FROM reach r JOIN sym s ON r.node = s.src),
    comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
    SELECT e.vec_id,
           COALESCE(c.component, e.vec_id) AS group_id,
           CAST(e.vec_id = COALESCE(c.component, e.vec_id) AS INT) AS is_survivor
    FROM embeddings e LEFT JOIN comp c ON c.node = e.vec_id
    WHERE e.vec_id < 256
    """,
    doc="Semantic (embedding-space) dedup GROUPS: cosine pairs -> "
    "transitive closure via operators.graph.connected_components -> "
    "min-id group label + one survivor per cluster — the same "
    "pairs-to-clusters pipeline as dedup_minhash_groups, fed by vector "
    "similarity instead of lexical shingles. The 0.3 threshold is "
    "demonstration-tuned to the near-random synthetic corpus (top-10 "
    "cosine ~0.3); production uses ~0.95 with LSH/IVF candidate "
    "generation (sim_ann_bucketed) replacing the bounded all-pairs "
    "slice.",
)
def dedup_embedding_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import assign_dedup_groups

    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 256)
    # same stream-side widening as dedup_embedding_cosine: the bounded
    # slice scans as one partition and would serialize the pair folds
    a = sim.vec_side(
        e.repartition(spark.sparkContext.defaultParallelism),
        "vec_id", "embedding", "id_a", "a",
    )
    b = sim.vec_side(e, "vec_id", "embedding", "id_b", "b")
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(sim.pair_cosine("a", "b") >= 0.3)
        .select("id_a", "id_b")
    )
    out = assign_dedup_groups(e.select("vec_id"), pairs, "vec_id")
    return out.select(
        "vec_id", "group_id", F.col("is_survivor").cast("int").alias("is_survivor")
    )
