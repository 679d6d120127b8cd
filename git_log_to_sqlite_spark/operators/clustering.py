"""Embedding clustering: Lloyd's k-means over an ``array<double>``
column with deterministic initialization — the curation primitive
behind corpus bucketing, IVF index building (the coarse quantizer for
``operators.similarity``'s bucketed ANN), and diversity sampling.

Execution model per iteration:

* **assignment** (:func:`assign_clusters_table`) crosses the corpus
  with the centroids collapsed to ONE broadcast row and takes, per
  row, the argmin via ``array_min`` over ``(dist, cluster)`` structs
  of a higher-order ``transform`` (struct comparison breaks distance
  ties toward the lower cluster id, so results are deterministic) —
  no shuffle of the corpus, no Python;
* **update** shuffles ``(cluster, dim)`` partial sums — one
  ``posexplode`` + groupBy per iteration, k*dims result rows.

Centroids are MODEL STATE, not data: k*dims doubles collected to the
driver per iteration and rebroadcast as that one-row centroid-array
table — bounded regardless of corpus size (the standard structure for
distributed k-means; only the per-row assignment and the partial sums
are distributed work). :func:`assign_clusters` is the same assignment
with the centroids inlined as plan literals — the reference form the
table form is tested equal against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# A k-means fit stops once no centroid moves more than this (squared).
_TOL = 1e-6


def _sq_dist(
    vec_col: str, centroid: list[float], round_to: int | None = None
) -> F.Column:
    """Squared euclidean distance to a literal centroid.

    Default (``round_to=None``): the direct ``sum((v_i - c_i)^2)``
    left fold — the k-means hot path, one subtraction-square per dim.

    With ``round_to``: the CROSS-ENGINE-STABLE form used by the
    oracle-gated IVF query — ``dot(v,v) - 2*dot(v,c) + dot(c,c)``
    built from the same left-fold dot product the cosine oracles rely
    on, then rounded. A SQL twin computing the identical three
    ``list_dot_product`` terms and combination arithmetic produces the
    bit-identical double, so after rounding the assignment/probe ORDER
    (rounded distance, then cell id) can never diverge between engines
    on a last-ulp difference — which a raw-distance comparison can,
    because the direct fold and a dot-identity necessarily differ in
    float path.
    """
    c = F.array(*[F.lit(float(x)) for x in centroid])
    if round_to is None:
        diff2 = F.zip_with(F.col(vec_col), c, lambda a, b: (a - b) * (a - b))
        return F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x)
    from .similarity import dot

    v = F.col(vec_col)
    raw = dot(v, v) - F.lit(2.0) * dot(v, c) + dot(c, c)
    return F.round(raw, round_to)


def assign_clusters(
    df: DataFrame,
    vec_col: str,
    centroids: list[list[float]],
    round_to: int | None = None,
) -> DataFrame:
    """Adds a ``cluster`` column: index of the nearest centroid
    (squared euclidean; ties break to the lower index), with the
    centroids inlined as plan literals — the reference form
    :func:`assign_clusters_table` is tested equal against. ``round_to``
    selects :func:`_sq_dist`'s cross-engine-stable rounded form —
    pass it when an SQL oracle must reproduce the assignment."""
    choices = F.array(
        *[
            F.struct(
                _sq_dist(vec_col, c, round_to).alias("d"), F.lit(j).alias("c")
            )
            for j, c in enumerate(centroids)
        ]
    )
    return df.withColumn("cluster", F.array_min(choices)["c"])


def assign_clusters_table(
    df: DataFrame,
    vec_col: str,
    centroids_df: DataFrame,
    round_to: int | None = None,
) -> DataFrame:
    """:func:`assign_clusters` with the centroids as DATA instead of
    plan literals — the assignment every quantizer consumer runs. The
    literal version inlines k x dims literal nodes into the plan, and
    its analysis+codegen cost grows with k (at SemDeDup's LAION setting,
    k ~ 11k x 768 dims, that is ~17M expression nodes through the
    analyzer). Here the centroids collapse to ONE row
    holding a cell-ordered ``array<struct<c, cen>>`` (k x dims
    doubles of DATA — megabytes), broadcast via a 1-row cross join,
    and the argmin runs as a higher-order ``transform`` +
    ``array_min`` over that array column: the same per-row arithmetic
    and the IDENTICAL tie-break (struct comparison on (distance,
    cell), ties to the lower cell id), with O(1) analyzer cost at any
    k and no shuffle (the broadcast is one row; the corpus never
    moves).

    ``centroids_df`` is ``(cell int, centroid array<double>)`` with
    cells 0..k-1 (:class:`~git_log_to_sqlite_spark.operators.
    similarity.IvfIndex` stores exactly this table). ``round_to``
    selects the same cross-engine-stable rounded dot-identity
    distance as the literal form, which stays as the reference the
    two modes are asserted EQUAL — not just similar — against in
    tests."""
    choices = _table_choices(vec_col, round_to)
    return (
        df.crossJoin(F.broadcast(_collapsed_centroids(centroids_df)))
        .withColumn("cluster", F.array_min(choices)["c"])
        .drop("_cens")
    )


def _collapsed_centroids(centroids_df: DataFrame) -> DataFrame:
    """The ONE-row form of a ``(cell, centroid)`` table: a cell-ordered
    ``array<struct<c, cen>>`` column — the broadcastable model-state
    shape both table-form consumers cross-join against."""
    return centroids_df.select(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("cell").alias("c"), F.col("centroid").alias("cen"))
            )
        ).alias("_cens")
    )


def _table_choices(vec_col: str, round_to: int | None) -> F.Column:
    """``array<struct<d, c>>`` of (distance to each centroid, cell id)
    over the ``_cens`` array column — the exact arithmetic and struct
    tie-break of the literal :func:`_sq_dist` form, as a higher-order
    function over DATA."""
    v = F.col(vec_col)
    dot = lambda x, y: F.aggregate(  # noqa: E731 — _sq_dist's exact fold
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, t: acc + t
    )
    if round_to is None:
        dist = lambda c: F.aggregate(  # noqa: E731
            F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    else:
        dist = lambda c: F.round(  # noqa: E731
            dot(v, v) - F.lit(2.0) * dot(v, c) + dot(c, c), round_to
        )
    return F.transform(
        F.col("_cens"), lambda s: F.struct(dist(s["cen"]).alias("d"), s["c"].alias("c"))
    )


def nearest_cells_table(
    df: DataFrame,
    vec_col: str,
    centroids_df: DataFrame,
    n_probe: int,
    round_to: int | None = None,
) -> DataFrame:
    """The n-probe fan-out every IVF probe runs, with the centroids as
    DATA — the table form of the literal ``similarity._nearest_cells``
    reference, exactly as :func:`assign_clusters_table` is the table
    form of :func:`assign_clusters`. Adds ``_probe_cells``: the ordered
    array of the ``n_probe`` nearest cell ids.

    The centroids collapse to the one-row broadcast array
    (:func:`_collapsed_centroids`) and the per-row distances run as a
    higher-order transform over that array column, so analyzer cost
    is O(1) at any k — a deployment grows k WITH the corpus to keep
    cells bounded, and the literal fan-out's analysis+codegen grows
    with k (round 15: ~28-50 s per 100-row batch at k=80). Ordering
    and tie-break are the IDENTICAL struct comparison — (distance,
    cell), ties to the lower cell id — asserted EQUAL to the literal
    form in tests."""
    choices = _table_choices(vec_col, round_to)
    picked = F.transform(
        F.slice(F.array_sort(choices), 1, n_probe), lambda s: s["c"]
    )
    return (
        df.crossJoin(F.broadcast(_collapsed_centroids(centroids_df)))
        .withColumn("_probe_cells", picked)
        .drop("_cens")
    )


def kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    max_iter: int = 10,
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means. Returns ``(assigned, centroids)`` where
    ``assigned`` is the input plus a ``cluster`` column and
    ``centroids`` the final k centers.

    Deterministic: initial centroids are the vectors of the k lowest
    ids (reproducible across runs and partitionings, unlike random
    init; callers wanting k-means++ quality can pass a pre-sampled df).
    Stops early when no centroid moves more than ``_TOL`` (squared).
    Empty clusters keep their previous centroid.
    """
    # Deliberately NOT pinned: the loop does re-scan df per iteration,
    # but an A/B at the bench SF measured no win from caching it
    # (pinned 4.2-9.6 s vs unpinned 3.8 s for the 5-iteration fit) —
    # per-iteration cost is plan compile of the fresh centroid state
    # plus job dispatch, not the scan, and the cache build only adds
    # overhead. Callers with an expensive upstream (a parsed or
    # filtered corpus rather than a plain parquet read) should pin
    # the input themselves before calling.
    init_rows = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    centroids = [list(r[vec_col]) for r in init_rows]
    if len(centroids) < k:
        raise ValueError(f"need at least k={k} rows, got {len(centroids)}")
    dims = len(centroids[0])

    def _assign(cents: list[list[float]]) -> DataFrame:
        # per-iteration assignment via the one-row broadcast centroid
        # table: its analyzer cost is flat in k, and it is paid FRESH
        # every iteration here
        from .similarity import _centroids_frame

        return assign_clusters_table(
            df, vec_col, _centroids_frame(df.sparkSession, cents)
        )

    for _ in range(max_iter):
        assigned = _assign(centroids)
        new_rows = (
            assigned.select("cluster", F.posexplode(vec_col).alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("mean"))
            .collect()
        )
        new_centroids = [list(c) for c in centroids]  # empty cluster -> keep
        by_cluster: dict[int, list[tuple[int, float]]] = {}
        for r in new_rows:
            by_cluster.setdefault(r["cluster"], []).append((r["dim"], r["mean"]))
        for cl, pairs in by_cluster.items():
            vec = [0.0] * dims
            for dim, mean in pairs:
                vec[dim] = mean
            new_centroids[cl] = vec
        shift = max(
            sum((a - b) ** 2 for a, b in zip(old, new))
            for old, new in zip(centroids, new_centroids)
        )
        centroids = new_centroids
        if shift <= _TOL:
            break

    return _assign(centroids), centroids


def kmeans_fit_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    max_iter: int = 10,
    sample_size: int = 4096,
) -> list[list[float]]:
    """Fit k-means centroids on a BOUNDED deterministic sample — the
    standard coarse-quantizer training shape (FAISS trains IVF
    quantizers on ~39-256 points per centroid, not the corpus): one
    ``TakeOrderedAndProject`` job collects ``sample_size`` vectors
    ordered by ``(md5(id), id)`` — a deterministic pseudo-random
    spread over the corpus, unlike an id-prefix sample which would
    bias toward one ingest region — and Lloyd's runs driver-side over
    the sample (``sample_size x dims`` doubles, model-state sized by
    construction).

    This is the scale-correct fit for an IVF quantizer, not just a
    small-SF speedup: the distributed :func:`kmeans` loop costs
    ``max_iter`` full corpus scans plus per-iteration plan compile
    and job dispatch — measured 11.4-11.7 s
    at bench SF where the sample fit is the same quality at a fraction
    of the cost — and at 100 TB those full scans are the entire build
    cost, while a fixed-size sample is one bounded-output job no
    matter the corpus. Quality is the standard argument: centroids
    estimate cluster MEANS, and a few hundred points per centroid
    bound the estimator error independent of corpus size. Determinism
    matches :func:`kmeans`'s contract: the sample order is total
    (md5 then id), init is farthest-point seeding from the lowest id
    (see below), assignment ties break to the lower cluster index
    (numpy argmin), and empty clusters keep their previous centroid.

    Returns the fitted centroids (``k x dims`` floats). Use
    :func:`assign_clusters_table` (over
    ``similarity._centroids_frame``) for the distributed assignment
    pass;
    :func:`kmeans` remains the full-corpus fit for callers that want
    every row to pull on the centroids.
    """
    import numpy as np

    if sample_size < k:
        raise ValueError(f"sample_size ({sample_size}) must be >= k ({k})")
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample_size)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need at least k={k} rows, got {len(rows)}")
    ids = [r[id_col] for r in rows]
    x = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    # Deterministic farthest-point (k-center) seeding over the sample:
    # start at the lowest id, then greedily take the point farthest
    # from its nearest chosen seed (argmax ties resolve to the first
    # sample position — itself deterministic via the md5-total order).
    # Unlike lowest-k-ids init this cannot collapse two seeds into one
    # dense cluster while missing another entirely.
    first = min(range(len(ids)), key=lambda i: ids[i])
    seed_idx = [first]
    min_d2 = ((x - x[first]) ** 2).sum(axis=1)
    while len(seed_idx) < k:
        nxt = int(min_d2.argmax())
        seed_idx.append(nxt)
        min_d2 = np.minimum(min_d2, ((x - x[nxt]) ** 2).sum(axis=1))
    c = x[seed_idx].copy()
    for _ in range(max_iter):
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=-1)
        assign = d2.argmin(axis=1)  # ties -> lower cluster id, like array_min
        new_c = c.copy()  # empty cluster -> keep previous centroid
        for j in range(k):
            members = x[assign == j]
            if len(members):
                new_c[j] = members.mean(axis=0)
        shift = ((new_c - c) ** 2).sum(axis=1).max()
        c = new_c
        if shift <= _TOL:
            break
    return [[float(v) for v in row] for row in c]
