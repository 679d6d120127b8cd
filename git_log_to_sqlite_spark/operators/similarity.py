"""Similarity search over embedding columns (``array<float|double>``).

* ``brute_force_topk`` — exact baseline: broadcast the query side, fold
  the dot product JVM-side (``aggregate(zip_with(...))``), rank per
  query. Right when |queries| x |corpus| comparisons fit the cluster.
* ``bucketed_ann_topk`` — the scale path: an IVF-style coarse quantizer
  assigns each vector to a cell; candidates come from an equi-join on
  the cell id, cutting each query's scan to corpus/|cells| (recall
  traded for the probe count; tests assert recall vs brute force).

No Python in the hot path: a 64-dim cosine is ~130 JVM arithmetic ops
inside codegen; a Pandas UDF would move the whole corpus through Arrow
for the same arithmetic.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources.schema_cache import read_parquet_cached

if TYPE_CHECKING:
    from pyspark.sql import Observation


def as_double(arr: Column) -> Column:
    """Cast an embedding array to doubles (once, in a side projection)."""
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Raw dot fold over two double arrays (:func:`as_double` first)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def vnorm(arr: Column) -> Column:
    """L2 norm of an array column (casts to double, JVM-side fold)."""
    v = as_double(arr)
    return F.sqrt(dot(v, v))


def vec_side(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    id_as: str,
    tag: str,
    *extra: Column,
    vec: Column | None = None,
) -> DataFrame:
    """The side projection of every cosine pair stage: ``(id_as,
    *extra, _{tag}v, _{tag}n)`` — the vector cast to double and its L2
    norm, each computed ONCE PER VECTOR, so the pair stage
    (:func:`pair_cosine`) pays one O(dims) dot. Folding the norms on joined
    rows instead re-folds both self-norms per candidate: 3 folds per
    pair instead of 1 on the operator's hottest path. ``vec`` replaces
    the plain cast (:meth:`IvfIndex.append` passes its checked form)."""
    v = F.col(vec_col)
    return df.select(
        F.col(id_col).alias(id_as),
        *extra,
        (as_double(v) if vec is None else vec).alias(f"_{tag}v"),
        vnorm(v).alias(f"_{tag}n"),
    )


def pair_cosine(a: str, b: str, zero_norm: float | None = None) -> Column:
    """Cosine similarity between two :func:`vec_side` projections
    tagged ``a`` and ``b``: their dot over the product of their
    precomputed norms. With ``zero_norm``, a pair whose norm product is
    0 scores ``zero_norm`` instead of dividing by zero (a hard error
    under ANSI mode)."""
    den = F.col(f"_{a}n") * F.col(f"_{b}n")
    sim = dot(F.col(f"_{a}v"), F.col(f"_{b}v")) / den
    if zero_norm is None:
        return sim
    return F.when(den > 0, sim).otherwise(F.lit(zero_norm))


def _topk(
    q: DataFrame,
    c: DataFrame,
    on: Column | None,
    k: int,
    round_to: int | None,
) -> DataFrame:
    """Shared join and ranking tail of every top-k operator: the
    query side ``q`` (``query_id``, tag ``q``) is broadcast against the
    corpus side ``c`` (``neighbor_id``, tag ``c``) on ``on`` (None:
    every pair, a broadcast cross join), self matches dropped; project
    (query_id, neighbor_id, cos_sim), rank per query (similarity desc,
    neighbor id tie-break — deterministic), keep k. ``round_to``
    rounds BEFORE ranking so tie behavior matches the SQL oracles."""
    not_self = F.col("query_id") != F.col("neighbor_id")
    if on is None:
        joined = F.broadcast(q).crossJoin(c).filter(not_self)
    else:
        joined = F.broadcast(q).join(c, on & not_self)
    sim = pair_cosine("q", "c")
    if round_to is not None:
        sim = F.round(sim, round_to)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        joined.select("query_id", "neighbor_id", sim.alias("cos_sim"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _nearest_cells(
    vec_col_name: str,
    centroids: list[list[float]],
    n_probe: int,
    round_to: int | None = None,
) -> Column:
    """The IVF probe as one literal expression: indices of the
    ``n_probe`` nearest centroids (squared euclidean, ties to the lower
    cell id via struct ordering). The reference form that
    ``clustering.nearest_cells_table`` — the fan-out every quantizer
    consumer runs — is tested equal against. ``round_to`` selects the
    cross-engine-stable rounded distance (see
    ``clustering._sq_dist``)."""
    from .clustering import _sq_dist

    dists = F.array(
        *[
            F.struct(
                _sq_dist(vec_col_name, cen, round_to).alias("d"),
                F.lit(j).alias("c"),
            )
            for j, cen in enumerate(centroids)
        ]
    )
    return F.transform(F.slice(F.array_sort(dists), 1, n_probe), lambda s: s["c"])


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    round_to: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query vector: (query_id, neighbor_id,
    cos_sim). The query side is broadcast — keep it small; the corpus
    streams through one pass. ``round_to`` rounds the similarity BEFORE
    ranking (deterministic cross-engine tie behavior)."""
    q = vec_side(queries, id_col, vec_col, "query_id", "q")
    c = vec_side(corpus, id_col, vec_col, "neighbor_id", "c")
    return _topk(q, c, None, k, round_to)


def _plane_weight(p: int, d: int) -> float:
    """Dimension ``d`` of sign-LSH hyperplane ``p``: md5 of
    ``lsh:p:d`` mapped to [-1, 1]."""
    import hashlib

    h = hashlib.md5(f"lsh:{p}:{d}".encode()).hexdigest()
    return (int(h[:8], 16) / 0xFFFFFFFF) * 2.0 - 1.0


def lsh_bucket(vec_col: Column, dims: int, num_planes: int = 4) -> Column:
    """Sign-LSH coarse quantizer: bucket id from the sign pattern of
    ``num_planes`` deterministic random-hyperplane projections.

    Hyperplanes are derived from md5 of ("lsh", plane, dim) — no RNG
    state, so bucket assignment is reproducible across runs, engines,
    and cluster layouts. Vectors at cosine angle theta collide per
    plane with probability 1 - theta/pi (the SimHash bound), so tight
    clusters stay together. Use as the ``bucket_col`` input of
    ``bucketed_ann_topk`` when no fitted quantizer exists.
    """
    v = as_double(vec_col)
    bucket = F.lit(0)
    for p in range(num_planes):
        plane = F.array(*[F.lit(_plane_weight(p, d)) for d in range(dims)])
        proj = dot(v, plane)
        bucket = bucket + F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def multiprobe_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    num_planes: int = 4,
    k: int = 5,
    round_to: int | None = None,
) -> DataFrame:
    """Multi-probe sign-LSH ANN: each query searches its own cell PLUS
    every Hamming-1 neighbor cell (flip one hyperplane sign).

    A vector near a hyperplane lands arbitrarily on either side — the
    recall failure mode of single-cell probing. Probing the
    ``num_planes`` adjacent cells recovers those borderline neighbors
    for (1 + num_planes)/2^num_planes of the corpus scanned per query,
    versus 1/2^num_planes single-probe — the classic recall/cost knob.
    Corpus vectors keep ONE cell id (storage unchanged); only the
    query side fans out, so the probe count never re-shuffles the
    corpus.
    """
    bucket = lsh_bucket(F.col(vec_col), dims, num_planes)
    c = vec_side(corpus, id_col, vec_col, "neighbor_id", "c", bucket.alias("_cb"))
    probes = F.array(bucket, *[bucket.bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)])
    q = vec_side(
        queries, id_col, vec_col, "query_id", "q", F.explode(probes).alias("_qb")
    )
    return _topk(q, c, F.col("_qb") == F.col("_cb"), k, round_to)


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    n_probe: int = 2,
    k: int = 5,
    round_to: int | None = None,
    dist_round_to: int | None = None,
) -> DataFrame:
    """IVF ANN with a FITTED coarse quantizer — the production index
    shape: ``centroids`` come from :func:`~git_log_to_sqlite_spark.
    operators.clustering.kmeans` (data-adaptive Voronoi cells), each
    corpus vector lives in its nearest-centroid cell, and each query
    probes its ``n_probe`` nearest cells. Candidate mass per query is
    ~``n_probe/k_cells`` of the corpus, but unlike random hyperplanes
    the cells follow the data's density, so the same scanned fraction
    buys more recall (asserted vs sign-LSH multiprobe at the bench SF).

    Scale shape: centroids are MODEL STATE — the k-row
    :func:`_centroids_frame` table, collapsed to one broadcast row
    (``clustering.assign_clusters_table`` / ``nearest_cells_table``),
    so both cell assignments are projections with O(1) analyzer cost
    at any k; the probe fan-out
    multiplies only the QUERY side (broadcast), the corpus keeps one
    row per vector and is never re-shuffled; norms fold once per
    vector per side. In a persisted deployment the corpus side
    (cell, vector, norm) is written once at index-build time and
    every query batch is an equi-join against it.

    ``dist_round_to`` switches assignment AND probe to the
    cross-engine-stable rounded distance (``clustering._sq_dist``) so
    a SQL oracle can reproduce the cell decisions exactly — the
    oracle-gated deterministic tail of this operator (the iterative
    k-means FIT stays outside any oracle; pass its output, or any
    pinned centroid list, here).
    """
    from .clustering import assign_clusters_table, nearest_cells_table

    cdf = _centroids_frame(corpus.sparkSession, centroids)
    c = assign_clusters_table(
        vec_side(corpus, id_col, vec_col, "neighbor_id", "c"),
        "_cv",
        cdf,
        round_to=dist_round_to,
    ).withColumnRenamed("cluster", "_cc")
    q_base = vec_side(queries, id_col, vec_col, "query_id", "q")
    q = nearest_cells_table(
        q_base, "_qv", cdf, n_probe, round_to=dist_round_to
    ).select(
        "query_id",
        F.explode("_probe_cells").alias("_qc"),
        "_qv",
        "_qn",
    )
    return _topk(q, c, F.col("_qc") == F.col("_cc"), k, round_to)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: "list[list[float]] | DataFrame",
    threshold: float = 0.95,
    round_to: int | None = None,
    dist_round_to: int | None = None,
    observation: "Observation | None" = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-scoped
    SEMANTIC dedup — near-duplicate *meanings* (a paraphrase, a
    re-render, a boilerplate variant) whose embeddings sit within
    ``threshold`` cosine of each other, which exact/minhash dedup
    cannot see and which the paper showed can be removed at scale
    with minimal quality loss. The paper's exact shape: quantize the
    corpus into k cells, and WITHIN each cell rank members in a
    deterministic priority order, dropping any member within
    ``threshold`` of ANY earlier-ranked member — kept or itself
    dropped (the upper-triangular max-similarity rule, NOT a
    kept-only scan and NOT transitive-closure grouping: a chain
    a~b~c with a !~ c drops both b and c). Pairs never cross cells —
    that is the scheme's scalability contract AND its documented
    recall limit (a boundary pair split across cells survives; the
    paper accepts this).

    Keep order follows the paper's finding that keeping the examples
    FARTHEST from the centroid works best: rank within a cell by
    (centroid_sim ASC, id ASC); a member is dropped iff some
    lower-rank member is >= ``threshold`` cosine-similar, and
    ``dup_of`` is the lowest-ranked such earlier member
    (deterministic, engine-independent under the rounding knobs).
    Returns ALL rows annotated ``(id, cell, centroid_sim, dup_of,
    is_kept)`` — the same annotate-don't-filter contract as
    :func:`~git_log_to_sqlite_spark.operators.dedup.fuzzy_decontaminate`.

    Scale shape: the quantizer is model state
    (:func:`~git_log_to_sqlite_spark.operators.clustering.
    kmeans_fit_sample` — O(sample) at any corpus size); cell
    assignment and both cosines are pure JVM codegen folds; the rank
    window and the pair join share ONE hash partitioning on the cell
    id (the window's exchange is reused for the join sides), and
    candidate mass is sum over cells of |cell|^2/2 — bounded by k,
    the paper's knob. ``centroids`` takes EITHER a Python list OR a
    ``(cell, centroid)`` DataFrame; a list becomes the k-row
    model-state frame (:func:`_centroids_frame`), so both run the
    same table form — O(1) analyzer cost at any k, including the
    paper's LAION setting (k ~ 11k x 768 dims): assignment via
    :func:`~git_log_to_sqlite_spark.operators.clustering.
    assign_clusters_table`'s one-row broadcast array, centroid_sim
    via a broadcast hash join to the k-row table; ``IvfIndex``
    stores exactly this table. Degenerate inputs (thousands of
    EXACT copies) belong to exact dedup first, which groups them in
    one hash shuffle instead of |cell|^2 cosine pairs. ``round_to``
    rounds both cosines before comparing/ordering and
    ``dist_round_to`` selects the cross-engine-stable assignment
    distance — together they make the whole annotation reproducible
    by a SQL oracle (the ``sim_ann_ivf_assign`` precedent).

    ``observation`` arms the cell-size telemetry every other pair
    stage in this repo carries (:func:`_observe_cell_stats`):
    SemDeDup's candidate mass is sum |cell|(|cell|-1)/2, bounded by
    the k knob ONLY while the quantizer actually spreads the corpus —
    a degenerate corpus (every embedding near-identical, or a
    quantizer fitted on unrepresentative data) concentrates in one
    mega-cell that silently pays |corpus|^2/2. Per the paper the fix
    is upstream (exact-dedup first; refit with larger k), so this
    valve OBSERVES and never caps — capping would void the
    upper-triangular semantics the way the fuzzy_decontaminate
    docstring warns. The pair join's only equi-key is the cell id, so
    one oversized cell is one join key whose d(d-1)/2 pairs run in one
    task; the telemetry is how a pipeline sees that coming."""
    ranked = _semantic_ranked(
        df, id_col, vec_col, centroids, round_to, dist_round_to
    )
    if observation is not None:
        _observe_cell_stats(ranked, observation)
    return _semantic_annotate(ranked, id_col, threshold, round_to)


def _centroids_frame(spark, centroids: "list[list[float]]") -> DataFrame:
    """The k-row ``(cell, centroid)`` model-state frame (the one
    :meth:`IvfIndex.build` persists), a ``session.local_frame`` in one
    partition, so the model state writes one file."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    return local_frame(spark, rows, "cell int, centroid array<double>").repartition(1)


def _observe_cell_stats(ranked: DataFrame, observation: "Observation") -> None:
    """Cell-occupancy telemetry for the SemDeDup family — the one pair
    stage that had no observable for its degenerate input (the VERDICT
    r11 scale watch). Emits, over the PINNED ranked frame:

    * ``cells`` — occupied cell count,
    * ``max_cell_rows`` — the largest cell's membership (a mega-cell
      detector: max_cell_rows ~ corpus size means the quantizer is
      not doing its job and the pair join will pay ~|corpus|^2/2),
    * ``pair_mass`` — sum d(d-1)/2 over cells, the EXACT candidate
      row count the upper-triangular join will produce.

    EAGER, per the round-9 doctrine (`_drop_hot_keys` docstring: a
    lazily-planned observe node under AQE loses its metrics row when
    stage-wrapped/pruned/duplicated): a dedicated tiny aggregate
    rooted on the pinned frame, drained JVM-side with ``.count()`` at
    operator-call time — it doubles as the pin's materialization, so
    the annotate stage that follows reads the cache. Deliberately
    annotate-don't-cap: shedding members would break the paper's
    drop rule, so a pipeline alerts on the metrics instead (the
    documented mitigations: exact-dedup first, larger k)."""
    counts = ranked.groupBy("cell").agg(F.count(F.lit(1)).alias("d"))
    d = F.col("d").cast("long")
    # d(d-1)/2 via shiftright: pure long arithmetic (d(d-1) is always
    # even), so the sum is EXACT where the float-division form would
    # round past 2^53 — i.e. precisely the mega-cell regime this valve
    # exists to detect. (The long multiply itself overflows at
    # d ~ 3e9 rows in ONE cell — beyond that the ANSI overflow error
    # is itself the alarm.)
    counts.observe(
        observation,
        F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("long").alias("cells"),
        F.coalesce(F.max(d), F.lit(0)).cast("long").alias("max_cell_rows"),
        F.coalesce(F.sum(F.shiftright(d * (d - 1), 1)), F.lit(0))
        .cast("long")
        .alias("pair_mass"),
    ).count()


def _checked_embedding(vec_col: str, dim: int, context: str) -> Column:
    """Per-row vector-validity guard of :meth:`IvfIndex.append`:
    counting NON-NULL elements against the quantizer dim rejects BOTH a
    wrong-length vector and a right-length one carrying NULL elements
    (an upstream outer join's classic residue) — either would
    null-poison the zip_with distances into a meaningless cell and
    permanently corrupt a persisted table. Inline in the assignment
    projection (free next to the k dot products), so a bad batch
    fails the job BEFORE the parquet commit and a mixed batch cannot
    slip past a sampled pre-check."""
    vec = as_double(F.col(vec_col))
    nn = F.size(F.filter(vec, lambda x: x.isNotNull()))
    # BOTH conditions: nn == dim alone would pass an over-length
    # vector whose null padding leaves exactly dim non-nulls (a
    # schema-migration backfill shape) — still a null-poisoned
    # assignment
    return F.when((F.size(vec) == dim) & (nn == dim), vec).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{context}: vector dim "),
                F.size(vec).cast("string"),
                F.lit(" (non-null "),
                nn.cast("string"),
                F.lit(
                    f") != quantizer dim {dim} — wrong-dim or "
                    "null-element vectors would be cell-assigned by "
                    "null-poisoned distances; rebuild if the embedding "
                    "space changed"
                ),
            )
        )
    )


def _semantic_ranked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: "list[list[float]] | DataFrame",
    round_to: int | None,
    dist_round_to: int | None,
) -> DataFrame:
    """SemDeDup's assignment+rank stage: returns the PINNED
    ``(_id, _v, _n, cell, _csim, _rank)`` frame. Pinned because it feeds both
    self-join sides and the annotation spine, whose pruned
    ReadSchemas differ — structurally different subtrees, so
    ReuseExchange never fires and the scan -> assignment (k distance
    folds) -> cosine -> window tree would execute three times
    (measured: 3 scans, 2 window executions, 0 reuses at the bench
    SF; ~2x wall clock). One row per vector, input-proportional —
    the same trade as every pair-stage pin in this repo; the joined
    centroid columns are dropped BEFORE the pin so high dims don't
    double the cache bytes."""
    from .caching import pin
    from .clustering import assign_clusters_table

    base = vec_side(df, id_col, vec_col, "_id", "")
    if not isinstance(centroids, DataFrame):
        centroids = _centroids_frame(df.sparkSession, centroids)
    # centroids as DATA (see assign_clusters_table): assignment via the
    # one-row broadcast array, centroid_sim via a broadcast hash join
    # back to the k-row table — O(1) analyzer cost at any k
    ranked = assign_clusters_table(
        base, "_v", centroids, round_to=dist_round_to
    ).withColumnRenamed("cluster", "cell")
    cenj = centroids.select(
        "cell",
        F.col("centroid").alias("_cenv"),
        F.sqrt(dot(F.col("centroid"), F.col("centroid"))).alias("_cenn"),
    )
    ranked = ranked.join(F.broadcast(cenj), "cell")
    # zero-norm guard #1: a zero vector (failed encoder, empty input)
    # would make this 0/0 — a hard DIVIDE_BY_ZERO under ANSI mode.
    # NaN-out its centroid_sim instead: NaN sorts GREATEST, so zero
    # vectors deterministically rank LAST in their cell (ties by id).
    csim = pair_cosine("", "cen", zero_norm=float("nan"))
    if round_to is not None:
        csim = F.round(csim, round_to)
    return pin(
        ranked.withColumn("_csim", csim)
        .drop("_cenv", "_cenn")  # csim is materialized; don't cache k x dims per row
        .withColumn(
            "_rank",
            F.row_number().over(
                Window.partitionBy("cell").orderBy(F.asc("_csim"), F.asc("_id"))
            ),
        )
    )


def _semantic_annotate(
    ranked: DataFrame,
    id_col: str,
    threshold: float,
    round_to: int | None,
) -> DataFrame:
    """SemDeDup's upper-triangular drop stage over a pinned
    :func:`_semantic_ranked` frame: cell-local (rank_a < rank_b) pair
    join, drop b on >= threshold cosine, blame the lowest-ranked such
    a (min (rank, id) structs — deterministic). The join keys on the
    cell id alone, so each cell's pairs are one sort-merge group: the
    cost is sum over cells of d(d-1)/2, in one task per cell."""
    a = ranked.select(
        F.col("cell").alias("_ca"), F.col("_rank").alias("_ra"),
        F.col("_id").alias("_ia"), F.col("_v").alias("_av"),
        F.col("_n").alias("_an"),
    )
    b = ranked.select(
        F.col("cell").alias("_cb"), F.col("_rank").alias("_rb"),
        F.col("_id").alias("_ib"), F.col("_v").alias("_bv"),
        F.col("_n").alias("_bn"),
    )
    pair_cond = (F.col("_ca") == F.col("_cb")) & (F.col("_ra") < F.col("_rb"))
    # zero-norm guard #2: a pair cosine involving a zero vector would
    # be 0/0 — DIVIDE_BY_ZERO under ANSI, and under non-ANSI a NaN
    # that Spark compares LARGER than any number, which would mark
    # every zero vector a "duplicate" of an arbitrary unrelated
    # cell-mate. A zero-norm pair carries no similarity evidence, so
    # it scores -inf: zero vectors are never dropped and never blamed
    # (identical zero vectors belong to exact dedup, which groups
    # them in one hash shuffle).
    sim = pair_cosine("a", "b", zero_norm=float("-inf"))
    if round_to is not None:
        sim = F.round(sim, round_to)
    drops = (
        a.join(b, pair_cond)
        .filter(sim >= F.lit(threshold))
        .groupBy(F.col("_ib").alias("_id"))
        .agg(F.min(F.struct("_ra", "_ia"))["_ia"].alias("dup_of"))
    )
    return (
        ranked.join(drops, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "cell",
            F.col("_csim").alias("centroid_sim"),
            "dup_of",
            F.col("dup_of").isNull().cast("int").alias("is_kept"),
        )
    )


class IvfIndex:
    """Persisted IVF index — the build-once / probe-many deployment of
    :func:`ivf_ann_topk`: the fitted corpus (one row per vector:
    id, cast vector, precomputed norm, assigned cell) lives as parquet
    PARTITIONED BY CELL at ``path`` (``{base}/index``; :meth:`compact`
    keeps the cell layout), and the centroids (model state, k x dims
    doubles) live beside it as a tiny parquet at ``{base}/centroids``.
    Each probe batch then reads only the probed cells: the batch's
    cell set is collected (bounded by k) and STATICALLY prunes the
    partitioned scan — see :meth:`probe` for why dynamic partition
    pruning is not relied on (measured: it never fired on bare
    batches) — so a batch probing m of k cells reads ~m/k of the index
    bytes, asserted on the executed scan's own metrics in tests.
    Rebuild the index when the corpus drifts (centroid fit is a batch
    job, the same cadence as any ANN index rebuild).
    """

    def __init__(
        self,
        spark,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        self.spark = spark
        self.base = path.rstrip("/")
        self.path = f"{self.base}/index"
        self.id_col = id_col
        self.vec_col = vec_col

    def exists(self) -> bool:
        """True iff the index table exists at ``path``.

        Only a genuinely-missing path maps to False. Any OTHER failure
        (transient IO, permissions, a momentarily unreachable object
        store) propagates: conflating it with "never built" would make
        :meth:`append`'s fail-fast guard advise calling build() — whose
        mode("overwrite") would destroy a live index — on an index
        that merely hiccuped.
        """
        from pyspark.errors import AnalysisException

        try:
            self.spark.read.parquet(self.path).schema
            return True
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e):
                return False
            raise

    def read(self) -> DataFrame:
        return read_parquet_cached(self.spark, self.path)

    def compact(self, num_files: int | None = None) -> None:
        """Rewrite the index into ``num_files`` parquet files (default:
        the session's default parallelism) — the offline maintenance
        pass for ingest cadences where one appended file-set per day
        makes small files dominate the scan. Content is append-only,
        so compaction is rewrite-identical; the rewrite lands in a
        sibling temp dir and swaps in via the Hadoop FileSystem API
        (works on any scheme the session can reach). Run between
        appends, not concurrently with one.

        The rewrite clusters by ``cell`` and writes partitionBy it: a
        flat rewrite would demote the partition column to data,
        silently lose partition pruning, and make the NEXT partitioned
        append produce Spark's 'Conflicting directory structures'
        failure on read."""
        sc = self.spark.sparkContext
        n = num_files or sc.defaultParallelism
        tmp = self.path + "__compact_tmp"
        old = self.path + "__compact_old"
        (
            self.read()
            .repartition(n, "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(tmp)
        )
        hpath = sc._jvm.org.apache.hadoop.fs.Path
        fs = hpath(self.path).getFileSystem(sc._jsc.hadoopConfiguration())
        # staged swap, no delete-before-rename: a crash between the two
        # renames leaves the data intact at __compact_old (manual
        # recovery: rename it back); the index is never deleted while
        # it is the only copy
        fs.delete(hpath(old), True)
        if not fs.rename(hpath(self.path), hpath(old)):
            raise IOError(f"compaction stage-out failed: {self.path} -> {old}")
        if not fs.rename(hpath(tmp), hpath(self.path)):
            fs.rename(hpath(old), hpath(self.path))  # roll back
            raise IOError(f"compaction swap failed: {tmp} -> {self.path}")
        fs.delete(hpath(old), True)

    def build(
        self,
        corpus: DataFrame,
        k: int = 8,
        max_iter: int = 10,
        fit_sample_size: int | None = 4096,
        stage_times: "dict | None" = None,
    ) -> None:
        """Fit the quantizer on ``corpus`` and (over)write the index.

        The fit defaults to the bounded-sample quantizer training
        (:func:`~git_log_to_sqlite_spark.operators.clustering.
        kmeans_fit_sample`, ``fit_sample_size`` vectors): one
        bounded-output job however large the corpus, versus
        ``max_iter`` full scans for the distributed loop — the FAISS
        IVF training shape, and the difference between an O(sample)
        and an O(corpus x iterations) rebuild at 100 TB. Pass
        ``fit_sample_size=None`` for the full-corpus Lloyd's fit.

        BEHAVIOR CHANGE (since the bounded-sample fit landed): the
        default was previously the full-corpus Lloyd's loop, so an
        unchanged ``build()`` call now fits on a 4096-row
        deterministic sample and produces DIFFERENT centroids (and
        slightly different probe recall) than before. The sample is
        md5-ordered, so the new default is still deterministic across
        runs; callers needing the exact pre-change centroids opt out
        with ``fit_sample_size=None``. Also noted in README
        "Behavior changes".

        The centroids are written BEFORE the index, so an existing
        index table (:meth:`exists`) implies its quantizer exists.

        ``stage_times``: pass a dict to receive per-stage wall-clock
        seconds — ``fit`` (the quantizer training action),
        ``centroids_write`` (the k-row model-state write), and
        ``assign_write`` (the cell assignment pipelined into the
        partitioned index write: assignment is a lazy projection the
        write executes, so the two are ONE job by design — timing
        them apart would require an extra materialization). A rebuild
        is the most contention-variance-prone extra in the bench
        (write amplification), so the per-stage split is what lets a
        reader attribute a slow whole-run number to fit dispatch vs
        write contention instead of re-litigating it from floor lore.
        """
        import time

        from .clustering import assign_clusters_table, kmeans, kmeans_fit_sample

        fit = corpus.select(
            self.id_col, as_double(F.col(self.vec_col)).alias("_v")
        )
        t0 = time.perf_counter()
        if fit_sample_size is None:
            _, centroids = kmeans(fit, self.id_col, "_v", k=k, max_iter=max_iter)
        else:
            centroids = kmeans_fit_sample(
                fit, self.id_col, "_v", k=k, max_iter=max_iter,
                sample_size=fit_sample_size,
            )
        if stage_times is not None:
            stage_times["fit"] = round(time.perf_counter() - t0, 3)
        cdf = _centroids_frame(self.spark, centroids)
        t0 = time.perf_counter()
        cdf.write.mode("overwrite").parquet(f"{self.base}/centroids")
        if stage_times is not None:
            stage_times["centroids_write"] = round(time.perf_counter() - t0, 3)
        indexed = assign_clusters_table(
            vec_side(corpus, self.id_col, self.vec_col, "neighbor_id", "c"),
            "_cv",
            cdf,
        ).withColumnRenamed("cluster", "cell")
        t0 = time.perf_counter()
        indexed.write.mode("overwrite").partitionBy("cell").parquet(self.path)
        if stage_times is not None:
            stage_times["assign_write"] = round(time.perf_counter() - t0, 3)

    def centroids(self) -> list[list[float]]:
        rows = (
            read_parquet_cached(self.spark, f"{self.base}/centroids")
            .orderBy("cell")
            .collect()
        )
        return [list(r["centroid"]) for r in rows]

    def append(self, new_vectors: DataFrame) -> None:
        """Grow the index WITHOUT refitting — the daily-ingest shape:
        the quantizer is model state fitted at build time, so new
        vectors are assigned to the EXISTING cells (one codegen projection, no
        shuffle beyond the partitioned write) and appended to the
        cell-partitioned parquet. The existing index is never
        re-scanned or re-written — an append touches only the new
        rows, so daily growth costs O(increment) however large the
        index. Probes see appended rows immediately (the cell scan
        reads every file of the probed partitions). Rebuild when the
        corpus distribution drifts; :meth:`cell_sizes` is the
        observable (a cell absorbing a disproportionate share of
        appends means the Voronoi tessellation no longer fits the
        data and probe candidate mass is skewing). An index that was
        never built raises ``FileNotFoundError``.

        Every appended vector is validated against the stored
        quantizer IN the assignment projection (a per-row
        non-null-element count vs the quantizer dim — free next to
        the k dot products), because ``zip_with`` pads mismatched
        dims with nulls AND propagates null elements: a wrong-dim or
        null-element vector would otherwise be assigned by a
        null-poisoned distance and sit permanently in the wrong
        cell. A sampled pre-check can't catch a mixed batch; the
        inline guard fails the job before the parquet commit, so a
        bad batch leaves the index untouched."""
        if not self.exists():
            # Fail HERE, not as a path-not-found AnalysisException from
            # a lazy read deep inside the write — appending to a
            # never-built index is a caller setup error with an obvious
            # fix.
            raise FileNotFoundError(
                f"IvfIndex at {self.path!r} has no table yet; "
                "call build(corpus) first"
            )
        from .clustering import assign_clusters_table

        # assignment via the centroid TABLE the index already persists
        # — no driver collect of the quantizer, so append stays
        # O(increment) even under a large-k coarse quantizer; only the
        # 1-int dim probe touches the driver
        cents_df = read_parquet_cached(self.spark, f"{self.base}/centroids")
        dim = cents_df.select(F.size("centroid")).first()[0]
        checked = _checked_embedding(
            self.vec_col, dim, f"IvfIndex.append at {self.base}"
        )
        assigned = assign_clusters_table(
            vec_side(
                new_vectors, self.id_col, self.vec_col, "neighbor_id", "c",
                vec=checked,
            ),
            "_cv",
            cents_df,
        ).withColumnRenamed("cluster", "cell")
        assigned.write.mode("append").partitionBy("cell").parquet(self.path)

    def cell_sizes(self) -> DataFrame:
        """``(cell, n_vectors)`` — the index-health observable: cell
        balance is the quantizer's job, and a skewing cell after
        appends is the rebuild signal. Partition-pruned count per
        cell (parquet row-group metadata makes this near-free)."""
        return self.read().groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_vectors")
        )

    def probe(
        self,
        queries: DataFrame,
        n_probe: int = 2,
        k: int = 5,
    ) -> DataFrame:
        """Top-k neighbors per query against the persisted index,
        ranked by unrounded cosine similarity.

        HARD CONTRACT on ``queries``: the probe side is FORCE-broadcast
        (after the n_probe cell fan-out — n_probe rows per query of
        ~8 B x dims each); unhinted, a bad estimate could shuffle the
        INDEX instead. A probe batch must therefore fit a broadcast
        (tens of MB = ~100k queries at 64 dims); for corpus-sized
        "probes" chunk the batch and union, which is exact since
        per-query top-k is independent across chunks.

        Partition pruning is STATIC, not dynamic: the batch's probed
        cells are collected (a bounded model-state-class collect —
        at most min(|batch| x n_probe, k) ints, the same class as the
        ``centroids()`` read) and applied as an ``isin`` filter
        on the partition column, so the scan reads exactly the probed
        cells' files whatever the planner estimates. Spark's dynamic
        partition pruning is NOT relied on because its insertion rule
        requires a selective predicate (a Filter) on the build side,
        and a real probe batch — a LocalRelation, a checkpoint, a
        plain parquet table — has none: measured on an 8x-replicated
        sf0.1 corpus, the DPP-shaped join read all 64 files / 16,000
        rows of the index for a single-cell probe batch (round 14,
        BASELINE.md).

        This makes ``probe`` EAGER: the (bounded) fan-out frame is
        pinned via ``localCheckpoint`` when this method is CALLED —
        one materialization feeds both the cell-set collect and the
        join, so a non-deterministic ``queries`` source (an unordered
        limit, a sample, a table appended to mid-flight) cannot leave
        the pruned scan disagreeing with the cells the join actually
        probes.

        The fan-out runs via ``clustering.nearest_cells_table`` over
        the stored centroid table: one broadcast row, so analyzer cost
        is O(1) at any k, which a deployment grows with the corpus to
        keep cells bounded."""
        from .clustering import nearest_cells_table

        base = vec_side(queries, self.id_col, self.vec_col, "query_id", "q")
        cents_df = read_parquet_cached(self.spark, f"{self.base}/centroids")
        q = (
            nearest_cells_table(base, "_qv", cents_df, n_probe)
            .select(
                "query_id",
                F.explode("_probe_cells").alias("_qc"),
                "_qv",
                "_qn",
            )
            .localCheckpoint(eager=True)
        )
        probed = sorted(
            r["_qc"] for r in q.select("_qc").distinct().collect()
        )
        index = self.read().filter(F.col("cell").isin(probed))
        return _topk(q, index, F.col("_qc") == F.col("cell"), k, None)


def bucketed_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    k: int = 5,
    round_to: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: candidates restricted to the
    query's coarse cell (``bucket_col``). With balanced cells this is
    a 1/|cells| scan per query; recall depends on quantizer quality.

    HARD CONTRACT on the ``queries`` side: the broadcast is FORCED —
    the hint is what keeps the corpus un-shuffled (each executor
    streams its corpus partitions against the in-memory query batch;
    unhinted, a bad size estimate could silently shuffle the corpus
    on the cell key instead). So the PROBE BATCH must fit a broadcast:
    each query row is its cast vector + norm (~8 B x dims + 16 B), and
    an executor holds one copy — 100k x 64-dim queries is ~50 MB,
    fine; a corpus-sized query side is not. Callers probing with
    something corpus-sized are computing all-pairs similarity and
    want :func:`~git_log_to_sqlite_spark.plans.similarity` 's
    threshold-pair shape instead; otherwise chunk the probe batch and
    union the results — top-k per query is independent across chunks,
    so chunking is exact."""
    q = vec_side(
        queries, id_col, vec_col, "query_id", "q", F.col(bucket_col).alias("_qb")
    )
    c = vec_side(
        corpus, id_col, vec_col, "neighbor_id", "c", F.col(bucket_col).alias("_cb")
    )
    return _topk(q, c, F.col("_qb") == F.col("_cb"), k, round_to)
