"""Similarity search over embedding columns (extension — BASELINE.json
north star; no reference counterpart beyond the text-embedding hook
``data/ctu_dataset.py:43-52``).

- :func:`brute_force_topk` — exact cosine top-k: broadcast the query
  set against the corpus, JVM dot products (``aggregate``/``zip_with``),
  per-query window top-k. The correctness baseline; linear scan, fully
  parallel — at 100 TB it is one pass over the corpus per query batch.
- :func:`random_hyperplane_lsh` / :func:`lsh_topk` — the scale path:
  sign-random-projection buckets (SimHash-for-vectors). Probing only
  same-bucket candidates bounds work per query; multi-probe (flip one
  bit) trades recall for fan-out. Recall is measured against the brute
  baseline in tests, as an approximate index should be.
- :func:`embedding_neardup_pairs` — near-duplicate detection at a
  cosine threshold, LSH-bucketed self-join.
- :func:`pq_train` / :func:`pq_encode` / :func:`pq_topk` — product
  quantization (r5): vectors compress to m code bytes, queries scan
  codes via ADC lookup tables, and an optional exact-rerank stage
  refines the shortlist — the billion-vector memory posture.
- :func:`sq8_train` / :func:`sq8_encode` / :func:`sq8_topk` — int8
  scalar quantization (r5): 4× compression with per-dim scales,
  dequantize-on-the-fly cosine entirely in JVM codegen (no UDF).

Everything stays in double precision so a DuckDB oracle
(``list_cosine_similarity`` over DOUBLE[]) agrees to float tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..checkpoint import cut_lineage
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..functions.hashing import KNUTH, MERSENNE_31
from ..functions.vectors import cosine_similarity, dot


def l2_squared(a, b):
    """Squared L2 distance between two array columns — the same
    strictly-sequential left fold as :func:`cosine_similarity`'s dot
    (bit-identical to a python loop over the elements)."""
    return F.aggregate(
        F.zip_with(a, b.cast("array<double>"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    round_sim: int | None = 6,
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k — cosine (descending ``sim``) or squared-L2
    (``metric="l2"``, ascending ``sim``). ``queries`` (query_id, vec)
    is broadcast — the corpus never shuffles; ranking shuffles only
    (query, sim, id) triples. Ties break on corpus id for
    determinism."""
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("__qvec")
    )
    c = corpus.select(F.col(id_col), F.col(vec_col).alias("__cvec"))
    if metric == "l2":
        score = l2_squared(
            F.col("__qvec").cast("array<double>"), F.col("__cvec")
        )
        order = F.asc("sim")
    else:
        score = cosine_similarity(F.col("__qvec"), F.col("__cvec"))
        order = F.desc("sim")
    sims = c.crossJoin(broadcast(q)).select(query_id, id_col, score.alias("sim"))
    w = Window.partitionBy(query_id).orderBy(order, F.col(id_col))
    out = (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    if round_sim is not None:
        out = out.withColumn("sim", F.round("sim", round_sim))
    return out.select(query_id, id_col, "rank", "sim")


def random_hyperplane_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
    out: str = "bucket",
) -> DataFrame:
    """Sign-random-projection bucket id in [0, 2^n_planes).

    Hyperplane p's component j is a deterministic pseudo-random value
    derived from (p, j, seed) — the same arithmetic generator as the
    embedder init, so the "index" needs no stored model object: any
    executor (or engine) can regenerate the planes from the seed.
    """
    plane_component = (
        lambda p, j: (
            F.pmod((p * F.lit(10_007) + j + F.lit(seed)) * F.lit(KNUTH), F.lit(MERSENNE_31)).cast("double")
            / F.lit(float(MERSENNE_31))
            - 0.5
        )
    )
    # bucket = sum over planes of (dot(vec, plane_p) > 0) << p
    def plane_dot(p):
        return F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.transform(
                    F.sequence(F.lit(0), F.size(F.col(vec_col)) - 1),
                    lambda j: plane_component(F.lit(p), j),
                ),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    bucket = None
    for p in range(n_planes):
        bit = F.when(plane_dot(p) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else (bucket + bit)
    return df.withColumn(out, bucket.cast("int"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: compare only corpus vectors whose LSH bucket
    matches the query's (multiprobe>1 also probes buckets one bit-flip
    away). Join on bucket replaces the cross join — the 100 TB path."""
    c = random_hyperplane_lsh(corpus, vec_col, n_planes, seed=seed).select(
        F.col(id_col), F.col(vec_col).alias("__cvec"), "bucket"
    )
    q = random_hyperplane_lsh(queries, vec_col, n_planes, seed=seed).select(
        F.col(query_id), F.col(vec_col).alias("__qvec"), "bucket"
    )
    if multiprobe > 1:
        # probe the home bucket plus every bucket one bit-flip away
        probes = F.expr(
            f"array_distinct(concat(array(bucket), "
            f"transform(sequence(0, {n_planes - 1}), p -> bucket ^ shiftleft(1, p))))"
        )
        q = q.withColumn("bucket", F.explode(probes))
    sims = q.join(c, "bucket").select(
        query_id,
        id_col,
        cosine_similarity(F.col("__qvec"), F.col("__cvec")).alias("sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.col(id_col))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "rank", F.round("sim", 6).alias("sim"))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 42,
    exact: bool = False,
) -> DataFrame:
    """Cosine near-duplicate pairs (id_a < id_b, sim ≥ threshold).
    ``exact=True`` does the full O(n²) self-join (oracle baseline);
    default buckets with LSH first — highly-similar vectors almost
    always share all hyperplane signs."""
    if exact:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        h = random_hyperplane_lsh(df, vec_col, n_planes, seed=seed)
        a = h.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), "bucket")
        b = h.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), "bucket")
        pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(cosine_similarity(F.col("__va"), F.col("__vb")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .distinct()
    )


def ivf_index(
    corpus: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float = 1.0,
):
    """IVF coarse quantizer: MLlib KMeans centroids over (a sample of)
    the corpus; returns (assigned corpus persisted with a ``list_id``
    column, fitted model). Centroid fit is one MLlib job; assignment is
    one pass. At 100 TB: fit on a sample, assign in the ingest job, and
    persist ``list_id`` as a partition column so a probe prunes files.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    prepared = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__fv"),
    )
    fit_on = prepared if sample_fraction >= 1.0 else prepared.sample(sample_fraction, seed)
    model = KMeans(k=n_lists, seed=seed, featuresCol="__fv", predictionCol="list_id").fit(fit_on)
    # cut_lineage, not persist: the returned index artifact has no
    # unpersist moment (callers hold it for many ivf_topk calls); a
    # CacheManager entry would pin memory for the session, while
    # localCheckpoint blocks are GC-reclaimed when the index is dropped
    # (cluster posture: reliable checkpoint files need cleanCheckpoints
    # on — see checkpoint.py)
    assigned = cut_lineage(model.transform(prepared).drop("__fv"), eager=True)
    return assigned, model


class _CentroidModel:
    """Minimal stand-in for an MLlib clustering model: just the
    centroids, which is all :func:`ivf_topk` reads."""

    def __init__(self, centers):
        self._centers = centers

    def clusterCenters(self):
        return list(self._centers)


def _assign_lists(centers, vec_col: str, n: int = 1):
    """Distributed nearest-centroid assignment: the same Arrow numpy
    kernel as :func:`ivf_topk`'s probe step (stable argsort — ties go
    to the lowest list id). Returns an ``array<int>`` column of the
    ``n`` nearest list ids."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centers, dtype=float)

    def fn(vecs):
        V = np.vstack(vecs.to_list()).astype(float)
        d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        idx = np.argsort(d2, axis=1, kind="stable")[:, :n]
        return pd.Series([row.astype("int32").tolist() for row in idx])

    fn.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf(fn, "array<int>")(F.col(vec_col))


def ivf_index_deterministic(
    corpus: DataFrame,
    n_lists: int = 8,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """IVF coarse quantizer with a fully deterministic, engine-portable
    fit — Lloyd's iterations where every step is either per-row float64
    numpy (assignment: the :func:`ivf_topk` probe kernel) or an exact
    decimal fold (centroid update: per-(list, dim) decimal(30,9) sums ÷
    counts, associative ⇒ partitioning-independent), seeded by the
    ``n_lists`` lowest-``id_col`` vectors. The whole trajectory is
    bit-reproducible by the numpy/``decimal`` twin in
    ``operators/ivf_oracle.py`` (same pattern as
    ``plans/train_oracle.py``), which makes the ``ann_ivf`` driver row
    hash-checkable — MLlib's :func:`ivf_index` stays as the scale path
    when reproducibility across engines isn't required.

    Scale posture: assignment is one Arrow pass per iteration; the
    update explodes vectors to (list, dim, value) triples — a dim-fold
    row blowup feeding a tiny groupBy (``n_lists × dim`` result). At
    100 TB fit on a sample (the centroids only need a sketch of the
    distribution), then run one final full assignment pass.
    """
    from ..functions.exact_agg import DECIMAL_TYPE

    first = corpus.orderBy(id_col).limit(n_lists).select(vec_col).collect()
    centers = [[float(v) for v in r[vec_col]] for r in first]
    if len(centers) < n_lists:
        raise ValueError(f"corpus has fewer than n_lists={n_lists} rows")

    for _ in range(n_iters):
        assigned = corpus.withColumn(
            "list_id", _assign_lists(centers, vec_col, 1)[0]
        )
        stats = (
            assigned.select(
                "list_id",
                F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                    "pos", "val"
                ),
            )
            .groupBy("list_id", "pos")
            .agg(
                F.sum(F.col("val").cast(DECIMAL_TYPE)).alias("s"),
                F.count("val").alias("n"),
            )
            .collect()
        )
        new_centers = [list(c) for c in centers]  # empty list keeps its centroid
        for r in stats:
            new_centers[r["list_id"]][r["pos"]] = float(r["s"]) / r["n"]
        centers = new_centers

    assigned = cut_lineage(
        corpus.withColumn("list_id", _assign_lists(centers, vec_col, 1)[0]),
        eager=True,
    )
    return assigned, _CentroidModel(centers)


def ivf_topk(
    corpus_assigned: DataFrame,
    model,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    round_sim: int | None = 6,
    broadcast_threshold: int = 100_000,
    query_count: int | None = None,
) -> DataFrame:
    """IVF probe: each query searches only its ``n_probes`` nearest
    centroid lists — the candidate set shrinks ~n_lists/n_probes-fold
    vs brute force. Centroids live in the UDF closure (tiny); probe
    assignment runs DISTRIBUTED over the query frame (an Arrow-batched
    argmin against the broadcast centroid matrix), so a query *table* of
    any size works — the old driver-side ``collect`` of the query frame
    was unbounded. The probe→corpus join is broadcast when the probe
    side is provably small (``count ≤ broadcast_threshold``) and a
    plain shuffle join otherwise; pass ``query_count`` when the caller
    already knows it to skip the sizing job entirely.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    centers = np.array(
        [c.toArray() if hasattr(c, "toArray") else np.asarray(c) for c in model.clusterCenters()]
    )

    def probe_fn(vecs):
        V = np.vstack(vecs.to_list()).astype(float)
        d2 = ((V[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        # stable sort: equidistant centroids always probe in list order
        idx = np.argsort(d2, axis=1, kind="stable")[:, :n_probes]
        return pd.Series([row.astype("int32").tolist() for row in idx])

    probe_fn.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    probe_udf = pandas_udf(probe_fn, "array<int>")

    probes = queries.select(
        F.col(query_id), F.col(vec_col).alias("__qvec")
    ).withColumn("list_id", F.explode(probe_udf(F.col("__qvec"))))
    # prefer a caller-supplied count over re-running the query frame's
    # lineage just to pick a join strategy (an extra Spark job per call)
    n_queries = query_count if query_count is not None else queries.count()
    if n_queries * n_probes <= broadcast_threshold:
        probes = broadcast(probes)
    cands = corpus_assigned.join(probes, "list_id").select(
        query_id,
        id_col,
        cosine_similarity(F.col("__qvec"), F.col(vec_col)).alias("sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.col(id_col))
    out = cands.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    if round_sim is not None:
        out = out.withColumn("sim", F.round("sim", round_sim))
    return out.select(query_id, id_col, "rank", "sim")


def topk_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_id: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the
    exact one: |approx ∩ exact| / |exact|. The self-audit column every
    approximate index should ship with its results — two small
    aggregations over (query, id) pairs."""
    hits = (
        approx.select(query_id, id_col)
        .join(exact.select(query_id, id_col), [query_id, id_col], "inner")
        .groupBy(query_id)
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    totals = exact.groupBy(query_id).agg(F.count(F.lit(1)).alias("__tot"))
    return (
        totals.join(hits, query_id, "left")
        .select(
            query_id,
            F.round(
                F.coalesce(F.col("__hits"), F.lit(0)) / F.col("__tot"), 6
            ).alias("recall"),
        )
    )


def semantic_search(
    docs: DataFrame,
    query_texts: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    dim: int = 32,
    model_fn=None,
) -> DataFrame:
    """End-to-end text search: embed the corpus and the query strings
    with the same encoder (N6 — the deterministic surrogate by default,
    a real sentence encoder via ``model_fn``), then exact cosine top-k.
    Returns (query_idx, query_text, doc_id, score, rank).

    The query side is a handful of driver strings → embedded locally
    through the same UDF (one-row frame) and broadcast; the corpus side
    is one parallel pass. For standing query workloads swap
    :func:`brute_force_topk` for :func:`lsh_topk` over the same
    embedded frames."""
    from .embedder import text_embedding

    spark = docs.sparkSession
    corpus = text_embedding(docs.select(id_col, text_col), text_col, dim=dim, model_fn=model_fn)
    qdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(query_texts)], "query_idx int, query_text string"
    )
    queries = text_embedding(qdf, "query_text", dim=dim, model_fn=model_fn, out="q_emb")
    scored = corpus.crossJoin(broadcast(queries)).select(
        "query_idx",
        "query_text",
        F.col(id_col),
        cosine_similarity(F.col("text_emb"), F.col("q_emb")).alias("score"),
    )
    w = Window.partitionBy("query_idx").orderBy(F.desc("score"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ------------------------------------------------ product quantization
#
# The canonical billion-vector posture (IVF-PQ): vectors compress to m
# subspace code bytes (64 float32 dims at m=8/k=256 → 8 bytes, 32×),
# so a 100 TB embedding store's index fits in executor memory and the
# scan reads codes, not vectors. Distances are asymmetric (ADC): the
# QUERY side precomputes a per-subspace lookup table against the
# codebooks; each corpus row costs m table lookups instead of d
# multiplies. Recall is measured against the exact baseline in tests;
# `rerank` re-scores the ADC shortlist with true vectors — the
# standard two-stage pipeline.
#
# Determinism: codebooks are trained DRIVER-side (seeded numpy Lloyd
# iterations over a knuth-ordered sample — no BLAS batch-size
# sensitivity, no partitioning dependence), encoding is a per-row
# argmin, and every tie breaks on the lowest index — two runs produce
# identical codes and rankings.


def _model_centers(model):
    import numpy as np

    return np.array(
        [
            c.toArray() if hasattr(c, "toArray") else np.asarray(c)
            for c in model.clusterCenters()
        ],
        dtype=np.float64,
    )


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iters: int = 10,
    sample: int = 10_000,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual_model=None,
    list_col: str = "list_id",
):
    """Train product-quantization codebooks: split the d dims into
    ``m`` contiguous subspaces and run Lloyd k-means per subspace on a
    deterministic sample (knuth-ordered by id — engine-portable, no
    ``rand()``). Returns ``codebooks`` ndarray (m, k, d/m). The sample
    bounds driver memory; at 100 TB the codebooks only need a sketch
    of the distribution (the same argument as the IVF fit).

    ``residual_model`` (VERDICT r5 #3 — the FAISS-IVFPQ accuracy win):
    train on the residual ``vec - centroid[list]`` instead of the raw
    vector; ``corpus`` must then carry ``list_col`` (an IVF-assigned
    frame). Residuals concentrate around the origin, so the same m×k
    codebook budget spends its resolution on the within-list geometry
    instead of re-encoding the coarse position — higher recall at
    identical memory."""
    import numpy as np

    from ..functions.hashing import knuth_hash

    cols = [id_col, vec_col] + ([list_col] if residual_model is not None else [])
    rows = (
        corpus.select(*cols)
        .orderBy(knuth_hash(F.col(id_col), seed), F.col(id_col))
        .limit(sample)
        .collect()
    )
    X = np.array([[float(v) for v in r[vec_col]] for r in rows], dtype=np.float64)
    if residual_model is not None:
        centers = _model_centers(residual_model)
        X = X - centers[np.array([int(r[list_col]) for r in rows], dtype=np.int64)]
    return _pq_fit(X, m, k, n_iters)


def _pq_fit(X, m: int, k: int, n_iters: int):
    """Per-subspace Lloyd k-means on a driver sample matrix (the shared
    core of :func:`pq_train` and :func:`opq_train`)."""
    import numpy as np

    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    if n < k:
        raise ValueError(f"sample ({n} rows) smaller than k={k}")
    dsub = d // m
    codebooks = np.zeros((m, k, dsub))
    for mm in range(m):
        sub = X[:, mm * dsub : (mm + 1) * dsub]
        # seeded init: k distinct sample rows in knuth order
        cent = sub[:k].copy()
        for _ in range(n_iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # ties -> lowest index
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        codebooks[mm] = cent
    return codebooks


def _pq_reconstruct(X, codebooks):
    """Encode-then-decode ``X`` through the codebooks (the PQ
    approximation X̂ the OPQ Procrustes step fits against)."""
    import numpy as np

    cb = np.asarray(codebooks)
    m, _k, dsub = cb.shape
    Xhat = np.empty_like(X)
    for mm in range(m):
        sub = X[:, mm * dsub : (mm + 1) * dsub]
        d2 = ((sub[:, None, :] - cb[mm][None, :, :]) ** 2).sum(axis=2)
        Xhat[:, mm * dsub : (mm + 1) * dsub] = cb[mm][np.argmin(d2, axis=1)]
    return Xhat


def pq_error(X, codebooks, rotation=None):
    """Mean squared quantization error of ``X`` under the (optionally
    rotated) codebooks — the objective OPQ minimizes; exposed so tests
    can pin the OPQ ≤ PQ guarantee."""
    import numpy as np

    XR = X if rotation is None else X @ rotation
    return float(((XR - _pq_reconstruct(XR, codebooks)) ** 2).sum(axis=1).mean())


def opq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iters: int = 10,
    opq_iters: int = 8,
    sample: int = 10_000,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Optimized Product Quantization (Ge et al., CVPR 2013; the
    r5-VERDICT stretch beside residual encoding): learn an orthogonal
    rotation R that redistributes correlated variance across the m
    subspaces before PQ. Alternating minimization from R = I — (1) fit
    codebooks on X·R, (2) solve the orthogonal Procrustes problem
    R = U·Vᵀ with U,S,Vᵀ = svd(Xᵀ·X̂) — each step is non-increasing in
    quantization error, so OPQ error ≤ plain-PQ error on the training
    sample BY CONSTRUCTION (pinned in tests, no data assumptions).

    Returns ``(rotation, codebooks)`` — pass both to
    :func:`pq_encode` / :func:`pq_topk` (``rotation=``). Driver cost is
    the same bounded sample as :func:`pq_train` plus an O(d³) SVD per
    iteration (d ≤ a few hundred for embedding columns).
    """
    import numpy as np

    from ..functions.hashing import knuth_hash

    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(knuth_hash(F.col(id_col), seed), F.col(id_col))
        .limit(sample)
        .collect()
    )
    X = np.array([[float(v) for v in r[vec_col]] for r in rows], dtype=np.float64)
    d = X.shape[1]
    R = np.eye(d)
    best = None
    for _ in range(opq_iters):
        codebooks = _pq_fit(X @ R, m, k, n_iters)
        err = pq_error(X, codebooks, rotation=R)
        # keep the best (R, C) seen — each Lloyd fit cold-starts, so a
        # later iteration CAN land in a worse local minimum; tracking
        # the minimum (whose candidate set includes the R = I plain-PQ
        # solution of iteration 0) makes OPQ ≤ PQ a construction, not
        # a hope
        if best is None or err < best[0]:
            best = (err, R.copy(), codebooks)
        Xhat = _pq_reconstruct(X @ R, codebooks)
        U, _s, Vt = np.linalg.svd(X.T @ Xhat)
        R = U @ Vt
    _err, R, codebooks = best
    return R, codebooks


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: tuple[str, ...] = (),
    residual_model=None,
    list_col: str = "list_id",
    rotation=None,
) -> DataFrame:
    """Encode each vector to ``m`` subspace codes — one Arrow pass, the
    codebooks in the kernel closure (tiny: m×k×d/m doubles). Output:
    ``(id_col, codes array<int>[, extra_cols])`` — the compressed
    representation :func:`pq_topk` scans instead of the vectors.
    With ``residual_model`` the row's coarse centroid is subtracted
    before encoding (pair with ``pq_train(residual_model=...)`` and
    ``ivf_pq_topk(residual=True)``). ``rotation``: the OPQ orthogonal
    matrix from :func:`opq_train`, applied (after any residual
    subtraction) inside the same Arrow pass."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cb = np.asarray(codebooks, dtype=np.float64).copy()
    m, k, dsub = cb.shape
    centers = None if residual_model is None else _model_centers(residual_model)
    rot = None if rotation is None else np.asarray(rotation, dtype=np.float64).copy()

    def encode_block(V):
        if rot is not None:
            V = V @ rot
        codes = np.empty((len(V), m), dtype=np.int32)
        for mm in range(m):
            sub = V[:, mm * dsub : (mm + 1) * dsub]
            d2 = ((sub[:, None, :] - cb[mm][None, :, :]) ** 2).sum(axis=2)
            codes[:, mm] = np.argmin(d2, axis=1)
        return pd.Series([row.tolist() for row in codes])

    if centers is None:

        def enc_fn(vecs):
            return encode_block(np.vstack(vecs.to_list()).astype(np.float64))

        enc_fn.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
        udf = pandas_udf(enc_fn, "array<int>")
        code_col = udf(F.col(vec_col))
    else:

        def enc_fn(vecs, lists):
            V = np.vstack(vecs.to_list()).astype(np.float64)
            V = V - centers[lists.to_numpy(dtype=np.int64)]
            return encode_block(V)

        enc_fn.__annotations__ = {
            "vecs": pd.Series,
            "lists": pd.Series,
            "return": pd.Series,
        }
        udf = pandas_udf(enc_fn, "array<int>")
        code_col = udf(F.col(vec_col), F.col(list_col))
    return corpus.select(
        F.col(id_col), code_col.alias("codes"), *[F.col(c) for c in extra_cols]
    )


def pq_topk(
    encoded: DataFrame,
    codebooks,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    rerank: DataFrame | None = None,
    rerank_factor: int = 4,
    rotation=None,
) -> DataFrame:
    """Approximate L2 top-k by asymmetric distance (ADC): each query
    precomputes an (m × k) lookup table of subspace distances to the
    codebooks (driver-side — the query set is the small side, same
    convention as :func:`brute_force_topk`); each corpus row then costs
    m lookups over its codes. Returns (query_id, id, rank, dist).

    ``rerank``: pass the ORIGINAL vector frame to re-score the top
    ``k × rerank_factor`` ADC candidates with exact L2 — the standard
    two-stage shortlist→refine pipeline (the join touches only the
    shortlist's vectors, not the corpus).

    ``rotation``: the OPQ matrix used at encode time — applied to the
    QUERIES before the LUT build; the exact rerank stays on the
    un-rotated vectors (an orthogonal rotation preserves L2, so the
    refine stage needs no change)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cb = np.asarray(codebooks, dtype=np.float64).copy()
    m, kk, dsub = cb.shape
    qrows = queries.select(query_id, vec_col).collect()
    qids = [r[query_id] for r in qrows]
    Q = np.array([[float(v) for v in r[vec_col]] for r in qrows], dtype=np.float64)
    QR = Q if rotation is None else Q @ np.asarray(rotation, dtype=np.float64)
    # LUT[q, mm, c] = ||q_sub - codebook[mm, c]||^2
    lut = np.empty((len(qids), m, kk))
    for mm in range(m):
        qs = QR[:, mm * dsub : (mm + 1) * dsub]
        lut[:, mm, :] = ((qs[:, None, :] - cb[mm][None, :, :]) ** 2).sum(axis=2)

    def adc_fn(codes):
        Cm = np.vstack(codes.to_list()).astype(np.int64)  # (B, m)
        out = np.zeros((len(Cm), len(qids)))
        for mm in range(m):
            out += lut[:, mm, Cm[:, mm]].T
        return pd.Series([row.tolist() for row in out])

    adc_fn.__annotations__ = {"codes": pd.Series, "return": pd.Series}
    udf = pandas_udf(adc_fn, "array<double>")
    spark = encoded.sparkSession
    # schema inferred from the values: query ids keep their own type
    qmap = spark.createDataFrame(
        [(i, q) for i, q in enumerate(qids)], ["__qidx", query_id]
    )
    scored = (
        encoded.select(F.col(id_col), udf("codes").alias("__d"))
        # _outer: a plain posexplode of the UDF's attribute makes Spark
        # push an inferred size/isnotnull filter under the projection,
        # running the ADC kernel twice; a NULL __qidx joins nothing
        .select(id_col, F.posexplode_outer("__d").alias("__qidx", "dist"))
        .join(broadcast(qmap), "__qidx")
    )
    shortlist_k = k * rerank_factor if rerank is not None else k
    w = Window.partitionBy(query_id).orderBy(F.asc("dist"), F.col(id_col))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist_k)
    )
    if rerank is None:
        return out.select(query_id, id_col, "rank", "dist")
    # refine: exact L2 on the shortlist only
    qvecs = spark.createDataFrame(
        [(q, [float(v) for v in vec]) for q, vec in zip(qids, Q)],
        [query_id, "__qvec"],
    )
    exact = (
        out.select(query_id, id_col)
        .join(rerank.select(F.col(id_col), F.col(vec_col).alias("__cvec")), id_col)
        .join(broadcast(qvecs), query_id)
        .select(
            query_id,
            id_col,
            F.aggregate(
                F.zip_with(
                    F.col("__qvec"),
                    F.col("__cvec").cast("array<double>"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("dist"),
        )
    )
    w2 = Window.partitionBy(query_id).orderBy(F.asc("dist"), F.col(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "rank", "dist")
    )


def ivf_pq_topk(
    encoded: DataFrame,
    codebooks,
    model,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    rerank: DataFrame | None = None,
    rerank_factor: int = 4,
    residual: bool = False,
) -> DataFrame:
    """The composed billion-vector pipeline — IVF list pruning + PQ
    codes + optional exact rerank: ``encoded`` must carry ``list_id``
    (``pq_encode(ivf_assigned, ..., extra_cols=("list_id",))``). Each
    query touches only its ``n_probes`` nearest lists' CODES (m bytes
    a row), then ADC ranks the candidates and ``rerank`` refines the
    shortlist against true vectors. At 100 TB with ``list_id`` as a
    partition column, the probe prunes FILES and the scan reads codes
    — the full memory/IO posture of a production vector store.

    ``residual=True`` (VERDICT r5 #3): the codes are residual-encoded
    (``pq_train``/``pq_encode`` with ``residual_model``), so the ADC
    lookup table is built per (query, probed list) from
    ``q - centroid[list]`` — the FAISS-IVFPQ formulation; same memory,
    higher recall, one LUT per probe pair (n_queries × n_probes of
    them, all tiny)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    centers = _model_centers(model)

    def probe_fn(vecs):
        V = np.vstack(vecs.to_list()).astype(float)
        d2 = ((V[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        idx = np.argsort(d2, axis=1, kind="stable")[:, :n_probes]
        return pd.Series([row.astype("int32").tolist() for row in idx])

    probe_fn.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    probe_udf = pandas_udf(probe_fn, "array<int>")
    # explode_outer keeps the probe kernel to one evaluation (a plain
    # explode of the UDF's attribute runs it twice, see pq_topk); a
    # NULL list_id joins nothing below
    probed = queries.select(
        query_id, probe_udf(F.col(vec_col)).alias("__lists")
    ).select(query_id, F.explode_outer("__lists").alias("list_id"))

    # restrict the code scan to the probed lists, then ADC-rank with
    # the per-query candidate set (the join key carries which queries
    # probe which lists)
    cands = encoded.join(broadcast(probed), "list_id")
    cb = np.asarray(codebooks, dtype=np.float64).copy()
    m, kk, dsub = cb.shape
    qrows = queries.select(query_id, vec_col).collect()

    def build_lut(qv):
        lut = np.empty((m, kk))
        for mm in range(m):
            qs = qv[mm * dsub : (mm + 1) * dsub]
            lut[mm] = ((cb[mm] - qs[None, :]) ** 2).sum(axis=1)
        return lut

    if residual:
        # one LUT per (query, probed list) — the probe set is re-derived
        # here with the exact kernel probe_fn runs, so both sides agree
        lut_by_ql = {}
        for r in qrows:
            qv = np.array([float(v) for v in r[vec_col]], dtype=np.float64)
            d2 = ((qv[None, :] - centers) ** 2).sum(axis=1)
            lists = np.argsort(d2, kind="stable")[:n_probes]
            for li in lists:
                lut_by_ql[(r[query_id], int(li))] = build_lut(qv - centers[li])

        def adc_fn(qids, lids, codes):
            Cm = np.vstack(codes.to_list()).astype(np.int64)
            lid_arr = lids.to_numpy(dtype=np.int64)
            out = np.empty(len(Cm))
            for i, q in enumerate(qids):
                lut = lut_by_ql[(q, int(lid_arr[i]))]
                out[i] = lut[np.arange(m), Cm[i]].sum()
            return pd.Series(out)

        adc_fn.__annotations__ = {
            "qids": pd.Series,
            "lids": pd.Series,
            "codes": pd.Series,
            "return": pd.Series,
        }
        udf = pandas_udf(adc_fn, "double")
        scored = cands.select(
            query_id, F.col(id_col), udf(query_id, "list_id", "codes").alias("dist")
        )
    else:
        lut_by_q = {}
        for r in qrows:
            qv = np.array([float(v) for v in r[vec_col]], dtype=np.float64)
            lut_by_q[r[query_id]] = build_lut(qv)

        def adc_pair_fn(qids, codes):
            Cm = np.vstack(codes.to_list()).astype(np.int64)
            out = np.empty(len(Cm))
            for i, q in enumerate(qids):
                lut = lut_by_q[q]
                out[i] = lut[np.arange(m), Cm[i]].sum()
            return pd.Series(out)

        adc_pair_fn.__annotations__ = {
            "qids": pd.Series,
            "codes": pd.Series,
            "return": pd.Series,
        }
        udf = pandas_udf(adc_pair_fn, "double")
        scored = cands.select(
            query_id, F.col(id_col), udf(query_id, "codes").alias("dist")
        )
    shortlist_k = k * rerank_factor if rerank is not None else k
    w = Window.partitionBy(query_id).orderBy(F.asc("dist"), F.col(id_col))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= shortlist_k)
    )
    if rerank is None:
        return out.select(query_id, id_col, "rank", "dist")
    spark = encoded.sparkSession
    qvecs = spark.createDataFrame(
        [(r[query_id], [float(v) for v in r[vec_col]]) for r in qrows],
        [query_id, "__qvec"],
    )
    exact = (
        out.select(query_id, id_col)
        .join(rerank.select(F.col(id_col), F.col(vec_col).alias("__cvec")), id_col)
        .join(broadcast(qvecs), query_id)
        .select(
            query_id,
            id_col,
            F.aggregate(
                F.zip_with(
                    F.col("__qvec"),
                    F.col("__cvec").cast("array<double>"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("dist"),
        )
    )
    w2 = Window.partitionBy(query_id).orderBy(F.asc("dist"), F.col(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "rank", "dist")
    )


# ------------------------------------------------ scalar quantization
#
# The lighter compression rung below PQ: per-dimension symmetric int8
# (float32 → 1 byte, 4×), with distances computed on dequantized codes
# — entirely JVM-side expressions (zip_with/aggregate), no UDF, no
# model object beyond a per-dim scale vector. The right tool when 4×
# is enough and exactness-per-dimension matters (PQ's subspace
# centroids give 32× but quantize jointly).


def sq8_train(corpus: DataFrame, vec_col: str = "embedding") -> list[float]:
    """Per-dimension symmetric scales ``s_j = max|x_j| / 127`` — one
    exact max aggregation (posexplode → per-position max: the shuffle
    carries (pos, |x|) pairs, result is d rows). Deterministic: max is
    order-free."""
    rows = (
        corpus.select(F.posexplode(F.col(vec_col).cast("array<double>")))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("col"))).alias("mx"))
        .collect()
    )
    scales = [0.0] * (max(r["pos"] for r in rows) + 1)
    for r in rows:
        scales[r["pos"]] = (r["mx"] / 127.0) if r["mx"] > 0 else 1.0
    return scales


def _scales_lit(scales: list[float]):
    return F.array(*[F.lit(float(s)) for s in scales])


def sq8_encode(
    corpus: DataFrame,
    scales: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize each vector to int8 codes ``round(x/s)`` clipped to
    [-127, 127] — a pure JVM ``zip_with`` (codegen, no UDF). Output:
    ``(id_col, codes array<tinyint>)``."""
    codes = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        _scales_lit(scales),
        lambda x, s: F.greatest(
            F.lit(-127), F.least(F.lit(127), F.round(x / s, 0).cast("int"))
        ).cast("tinyint"),
    )
    return corpus.select(F.col(id_col), codes.alias("codes"))


def sq8_topk(
    encoded: DataFrame,
    scales: list[float],
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """Approximate cosine top-k over the int8 store: codes dequantize
    on the fly (``code * s_j``) inside the same JVM fold the exact
    path uses — the scan stays whole-stage-codegen with zero Python.
    Queries broadcast, per-query window top-k, id tiebreak."""
    deq = F.zip_with(
        F.col("codes").cast("array<double>"), _scales_lit(scales), lambda c, s: c * s
    )
    c = encoded.select(F.col(id_col), deq.alias("__cvec"))
    q = queries.select(F.col(query_id), F.col(vec_col).alias("__qvec"))
    sims = c.crossJoin(broadcast(q)).select(
        query_id,
        id_col,
        cosine_similarity(F.col("__qvec"), F.col("__cvec")).alias("sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.col(id_col))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "rank", F.round("sim", 6).alias("sim"))
    )


# -------------------------------------- incremental store maintenance
#
# A 100 TB pipeline APPENDS: each crawl batch lands new vectors (and
# new documents — ``dedup.minhash_dedup_against`` is the text half of
# this pair). The ANN family is batch-fit, so appends must (a) reuse
# the frozen codebook/scales — bit-identical to re-assigning the grown
# corpus with the same model, never a silent approximation — and (b)
# carry drift counters that tell the pipeline WHEN the frozen fit has
# gone stale and a refit pass is due.


def _assign_with_err(centers, vec_col: str):
    """Nearest-centroid assignment + its squared L2 quantization error
    in one Arrow pass — same d2 expression and stable tie-break as
    :func:`_assign_lists`, so the ``list_id`` halves are bit-equal."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centers, dtype=float)

    def fn(vecs):
        V = np.vstack(vecs.to_list()).astype(float)
        d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        idx = np.argsort(d2, axis=1, kind="stable")[:, 0]
        return pd.DataFrame(
            {
                "list_id": idx.astype("int32"),
                "qerr": d2[np.arange(len(V)), idx],
            }
        )

    fn.__annotations__ = {"vecs": pd.Series, "return": pd.DataFrame}
    return pandas_udf(fn, "struct<list_id:int, qerr:double>")(F.col(vec_col))


def ivf_append(
    store_assigned: DataFrame,
    model,
    new: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mass_threshold: float = 0.3,
    err_ratio_threshold: float = 1.5,
    old_stats: DataFrame | None = None,
    with_stats: bool = False,
) -> tuple:
    """Append ``new`` vectors to an existing IVF store WITHOUT
    refitting: assign them to the FROZEN coarse centroids (the same
    kernel the fit's final pass runs, so the appended store is
    bit-identical to re-assigning the grown corpus against the same
    model — the invariant the tests pin), and compute per-list drift
    counters.

    Returns ``(store, drift)``. ``drift`` has one row per touched
    list: ``(list_id, n_old, n_new, err_old, err_new, new_share,
    refit)`` — ``refit`` flags a list whose appended mass exceeds
    ``mass_threshold`` of its total or whose new-arrival mean
    quantization error exceeds ``err_ratio_threshold ×`` the old mean
    (the arrivals no longer look like the distribution the centroids
    were fit on). ``drift.refit.any()`` is the pipeline's refit
    trigger.

    ``old_stats``: the running ``(list_id, n, err_sum)`` frame from
    :func:`ivf_append_stats` (or a previous ``with_stats=True``
    append). WITHOUT it the old-side stats re-scan the standing store
    — fine for a one-off, O(store) per append in a loop; WITH it each
    append touches only the batch (drift state is n_lists rows, merged
    associatively). ``with_stats=True`` additionally returns the
    updated stats frame as a third element — persist it beside the
    store and feed it to the next append (the streaming wrapper does
    exactly this)."""
    centers = _model_centers(model)
    new_assigned = cut_lineage(
        new.withColumn("__a", _assign_with_err(centers, vec_col))
        .withColumn("list_id", F.col("__a.list_id"))
        .withColumn("__qerr", F.col("__a.qerr"))
        .drop("__a"),
        eager=True,
    )
    if old_stats is None:
        old_stats = ivf_append_stats(store_assigned, model, vec_col)
    new_sums = new_assigned.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum("__qerr").alias("err_sum_new"),
    )
    drift = (
        new_sums.join(
            old_stats.select(
                "list_id",
                F.col("n").alias("n_old"),
                (F.col("err_sum") / F.col("n")).alias("err_old"),
            ),
            "list_id",
            "left",
        )
        .na.fill({"n_old": 0})
        .withColumn("err_new", F.col("err_sum_new") / F.col("n_new"))
        .withColumn(
            "new_share",
            F.col("n_new") / (F.col("n_new") + F.col("n_old")),
        )
        .withColumn(
            "refit",
            (F.col("new_share") > mass_threshold)
            | (
                F.col("err_new")
                > F.lit(err_ratio_threshold) * F.coalesce("err_old", "err_new")
            ),
        )
        .select(
            "list_id", "n_old", "n_new", "err_old", "err_new", "new_share", "refit"
        )
    )
    store = store_assigned.unionByName(
        new_assigned.select(*store_assigned.columns)
    )
    if not with_stats:
        return store, drift
    updated = (
        old_stats.join(new_sums, "list_id", "full")
        .select(
            "list_id",
            (F.coalesce("n", F.lit(0)) + F.coalesce("n_new", F.lit(0))).alias("n"),
            (
                F.coalesce("err_sum", F.lit(0.0))
                + F.coalesce("err_sum_new", F.lit(0.0))
            ).alias("err_sum"),
        )
    )
    return store, drift, updated


def ivf_append_stats(
    store_assigned: DataFrame, model, vec_col: str = "embedding"
) -> DataFrame:
    """The running drift state of an IVF store — ``(list_id, n,
    err_sum)`` per coarse list (err_sum = summed squared quantization
    error; advisory doubles, not bit-pinned). Compute ONCE at store
    build, then let ``ivf_append(with_stats=True)`` maintain it
    associatively so appends never re-scan the standing store."""
    centers = _model_centers(model)
    return (
        store_assigned.withColumn("__a", _assign_with_err(centers, vec_col))
        .groupBy("list_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("__a.qerr")).alias("err_sum"),
        )
    )


def sq8_append(
    encoded_store: DataFrame,
    scales: list,
    new: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    clip_threshold: float = 0.01,
) -> tuple:
    """The SQ8 analog of :func:`ivf_append`: encode ``new`` with the
    FROZEN per-dimension scales (bit-identical to :func:`sq8_encode`
    on the grown corpus) and union into the code store. Drift here is
    SATURATION: a component whose magnitude exceeds ``127 × s_j``
    clips, and clipped mass silently flattens cosine contrast.
    Returns ``(store, drift)`` with a one-row drift frame ``(n_new,
    clip_frac, max_scale_ratio, refit)`` — ``max_scale_ratio`` is the
    largest ``|x_j| / (127·s_j)`` seen (how much the scales would need
    to grow), ``refit`` fires when the clipped-component fraction
    exceeds ``clip_threshold``. All JVM expressions, no UDF — the same
    codegen posture as the sq8 family."""
    clip_pair = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        _scales_lit(scales),
        lambda x, s: F.struct(
            (F.abs(F.round(x / s, 0)) > 127).cast("int").alias("clipped"),
            (F.abs(x) / (F.lit(127.0) * s)).alias("ratio"),
        ),
    )
    drift = (
        new.select(
            F.aggregate(
                clip_pair,
                F.struct(
                    F.lit(0).cast("bigint").alias("c"),
                    F.lit(0).cast("bigint").alias("n"),
                    F.lit(0.0).alias("mx"),
                ),
                lambda acc, v: F.struct(
                    (acc["c"] + v["clipped"]).alias("c"),
                    (acc["n"] + 1).cast("bigint").alias("n"),
                    F.greatest(acc["mx"], v["ratio"]).alias("mx"),
                ),
            ).alias("__s")
        )
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            # empty batch → 0/0; a no-op append is clean, not unknown
            F.coalesce(F.sum("__s.c") / F.sum("__s.n"), F.lit(0.0)).alias(
                "clip_frac"
            ),
            F.coalesce(F.max("__s.mx"), F.lit(0.0)).alias("max_scale_ratio"),
        )
        .withColumn("refit", F.col("clip_frac") > clip_threshold)
    )
    store = encoded_store.unionByName(sq8_encode(new, scales, id_col, vec_col))
    return store, drift


def opq_rotate(
    df: DataFrame,
    R,
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """Apply the learned rotation to a vector column — one Arrow pass,
    R in the closure (d×d doubles, tiny)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    Rc = np.asarray(R, dtype=np.float64).copy()

    def rot_fn(vecs):
        V = np.vstack(vecs.to_list()).astype(np.float64)
        out = V @ Rc
        return pd.Series([row.tolist() for row in out])

    rot_fn.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    udf = pandas_udf(rot_fn, "array<double>")
    return df.withColumn(out_col or vec_col, udf(F.col(vec_col)))


def ivf_pq_append(
    encoded_store: DataFrame,
    codebooks,
    model,
    new: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = True,
    mass_threshold: float = 0.3,
    old_counts: DataFrame | None = None,
    with_counts: bool = False,
) -> tuple:
    """The compressed-store analog of :func:`ivf_append` — the full
    incremental posture of a production vector store: new vectors are
    coarse-assigned with the FROZEN centroids, (residual-)encoded with
    the FROZEN codebooks (bit-identical to encoding the grown corpus
    — pinned in tests), unioned into the m-byte code store, and
    per-list drift counters decide when the next refit pass runs.
    The code store keeps no raw vectors, so old-side quantization
    error cannot be recomputed — drift here is the appended MASS share
    plus the new arrivals' own coarse error (``err_new``, reported for
    monitoring); pair with :func:`ivf_append` on a raw-vector store
    when the error-ratio trigger is needed. ``encoded_store`` is a
    ``pq_encode(..., extra_cols=("list_id",))`` frame; queries keep
    using :func:`ivf_pq_topk` unchanged."""
    centers = _model_centers(model)
    assigned = cut_lineage(
        new.withColumn("__a", _assign_with_err(centers, vec_col))
        .withColumn("list_id", F.col("__a.list_id"))
        .withColumn("__qerr", F.col("__a.qerr"))
        .drop("__a"),
        eager=True,
    )
    enc_new = pq_encode(
        assigned,
        codebooks,
        id_col=id_col,
        vec_col=vec_col,
        extra_cols=("list_id",),
        residual_model=model if residual else None,
    )
    new_stats = assigned.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_new"), F.avg("__qerr").alias("err_new")
    )
    # ``old_counts`` ((list_id, n) — e.g. a previous ``with_counts``
    # return) keeps the per-append cost O(batch); without it the code
    # store is counted once per append (cheap — counts only — but
    # still a store scan)
    if old_counts is None:
        old_counts = encoded_store.groupBy("list_id").agg(
            F.count(F.lit(1)).alias("n")
        )
    drift = (
        new_stats.join(
            old_counts.select("list_id", F.col("n").alias("n_old")),
            "list_id",
            "left",
        )
        .na.fill({"n_old": 0})
        .withColumn(
            "new_share", F.col("n_new") / (F.col("n_new") + F.col("n_old"))
        )
        .withColumn("refit", F.col("new_share") > mass_threshold)
        .select("list_id", "n_old", "n_new", "err_new", "new_share", "refit")
    )
    store = encoded_store.unionByName(enc_new.select(*encoded_store.columns))
    if not with_counts:
        return store, drift
    updated = (
        old_counts.join(
            new_stats.select("list_id", "n_new"), "list_id", "full"
        )
        .select(
            "list_id",
            (F.coalesce("n", F.lit(0)) + F.coalesce("n_new", F.lit(0))).alias("n"),
        )
    )
    return store, drift, updated


def save_ivf_store(
    store_assigned: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Persist an IVF-assigned store (vectors or PQ codes) partitioned
    by ``list_id`` — the physical layout the probe path prunes: a
    query touching ``n_probes`` of ``n_lists`` lists reads only those
    lists' FILES (Spark partition pruning, asserted in tests), which
    at 100 TB is the difference between scanning the store and
    scanning ``n_probes/n_lists`` of it. Appends
    (:func:`ivf_append`/:func:`ivf_pq_append`) compose: write the new
    batch with ``mode="append"`` — rows land inside their existing
    ``list_id=`` directories, no rewrite of the standing files."""
    store_assigned.write.partitionBy("list_id").mode(mode).parquet(path)


def load_ivf_store(spark, path: str) -> DataFrame:
    """Read a :func:`save_ivf_store` layout; ``list_id`` filters (the
    probe join / a manual ``filter``) prune at the FILE level."""
    return spark.read.parquet(path)
