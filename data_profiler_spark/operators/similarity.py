"""Similarity search over embedding columns (array<float> / array<double>).

- ``ann_topk_bruteforce``: exact cosine top-k.
- IVF: ``kmeans_like_centroids`` / ``kmeans_refined_centroids`` build
  :class:`Centroids`, ``ivf_assign`` gives every vector its nearest
  centroid, ``ann_topk_ivf`` scores a query against its ``nprobe``
  nearest buckets only, and ``embedding_near_dup_pairs`` scores the
  pairs inside each bucket.
- PQ: ``pq_encode`` compresses vectors to ``m`` codes (:class:`PQCodes`)
  and ``pq_topk`` ranks them by asymmetric distance; ``ivfpq_topk``
  composes both (IVFADC).

Centroids and codebooks are small explicit values held at the driver.
All arithmetic on them — assignment, encoding, probe lists, lookup
tables — is the numpy kernel in ``vectors.py``, run at the driver and in
``mapInPandas`` batches. It replays the oracles' doubles exactly and
rejects null, ragged, NaN and zero-norm vectors by id. The JVM keeps
the per-pair scoring (the ``dot``/``norm`` folds and the lookup-table
sum) and the top-k rank windows, which compile to a map-side partial
``WindowGroupLimit``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_profiler_spark.core.session import local_frame
from data_profiler_spark.operators import vectors

# the kernel runs inside mapInPandas tasks: ship it with the closures so
# Python workers need no importable copy of this package
cloudpickle.register_pickle_by_value(vectors)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


@dataclass(frozen=True)
class Centroids:
    """Centroid ids (int array) and their float64 (C, dim) vectors."""

    ids: np.ndarray
    vecs: np.ndarray


@dataclass(frozen=True)
class PQCodes:
    """``pq_encode``'s (id, codes) rows with the codebook and ``m`` they
    were encoded with."""

    frame: DataFrame
    codebook: np.ndarray
    m: int


def _query_matrix(queries: DataFrame, id_col: str, vec_col: str,
                  query_rows: list | None, dim: int) -> tuple[list, np.ndarray]:
    """The query side at the driver: ``query_rows`` ([(id, vec)]) when the
    caller has them, else one collect of the small ``queries`` frame."""
    if query_rows is None:
        query_rows = queries.select(id_col, vec_col).collect()
    ids = [r[0] for r in query_rows]
    return ids, vectors.as_matrix(ids, [r[1] for r in query_rows], "query", dim or None)


def ann_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    query_rows: list | None = None,
) -> DataFrame:
    """Exact cosine top-k per query.

    Physical plan: BROADCAST the (small) query set against the (huge)
    corpus — the corpus is scanned once, no shuffle of vectors; the only
    shuffle is the per-query top-k, and the ``row_number() <= k`` rank
    filter compiles to a map-side Partial ``WindowGroupLimit``, so only
    P x Q x k survivors reach the exchange.

    ``query_rows``: optional pre-collected ``[(query_id, [vec])]``; when
    given, the broadcast query side is a local relation (no scan job
    inside the broadcast build). ``__qn`` is the JVM norm fold over the
    same doubles either way."""
    if query_rows is not None:
        qid_type = queries.schema[query_id_col].dataType.simpleString()
        q = local_frame(
            corpus.sparkSession,
            [(qid, [float(x) for x in v]) for qid, v in query_rows],
            f"`{query_id_col}` {qid_type}, __qvec array<double>",
        ).select(
            F.col(query_id_col),
            F.col("__qvec"),
            norm(F.col("__qvec")).alias("__qn"),
        )
    else:
        q = queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            norm(F.col(vec_col)).alias("__qn"),
        )
    # precompute each corpus vector's norm once: scoring per (row, query)
    # pair is then just the dot fold
    joined = corpus.withColumn("__cn", norm(F.col(vec_col))).crossJoin(
        F.broadcast(q)
    )
    scored = joined.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            dot(F.col(vec_col), F.col("__qvec")) / (F.col("__cn") * F.col("__qn")), 6
        ).alias("sim"),
    )

    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("sim"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


def kmeans_like_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> Centroids:
    """Deterministic centroid pick: the ``n_centroids`` lowest-id vectors
    (a seeded-sample stand-in; swap for k-means|| when MLlib is allowed),
    as centroid ids 0..C-1.

    One corpus scan: ``orderBy(id).limit(C)`` compiles to
    TakeOrderedAndProject — each scan partition keeps only its local
    top-C — and the C rows are collected. Every consumer broadcasts the
    centroids to all tasks, so holding them at the driver costs nothing
    extra."""
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
    vecs = vectors.as_matrix([r[0] for r in rows], [r[1] for r in rows], id_col)
    return Centroids(np.arange(len(rows)), vecs)


def kmeans_refined_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 3,
) -> Centroids:
    """Deterministic Lloyd refinement of the lowest-id seed centroids
    (MLlib-free, no randomness):

      repeat `iters` times:
        assign every vector to its nearest centroid (one narrow pass);
        new centroid = per-dimension mean of its members (ONE shuffle of
        C x dim partial sums — the avg aggregates, not the vectors),
        collected to the driver;
        empty clusters keep their previous centroid.

    One collect for the seeds plus one per iteration. Refined centroids
    improve bucket balance / recall but are NOT oracle-reproducible in
    portable SQL (iterative), so the driver-checked queries keep the
    lowest-id stub; recall of the refined path is asserted in
    tests/test_similarity_multimodal.py."""
    cents = kmeans_like_centroids(corpus, id_col, vec_col, n_centroids)
    if not len(cents.ids):
        return cents
    for _ in range(iters):
        means = (
            ivf_assign(corpus, cents, id_col, vec_col)
            .groupBy("centroid_id")
            .agg(*[F.avg(F.col(vec_col)[i]) for i in range(cents.vecs.shape[1])])
            .collect()
        )
        vecs = cents.vecs.copy()
        for r in means:
            vecs[r[0]] = r[1:]
        cents = Centroids(cents.ids, vecs)
    return cents


def ivf_assign(
    corpus: DataFrame, centroids: Centroids, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, centroid_id): each vector's nearest centroid, in one
    narrow ``mapInPandas`` pass with the centroids in the task closure
    (no shuffle).

    The comparator is dot(v,c)/|c|, not full cosine: |v| is constant
    across one vector's candidates, so dividing by it cannot change the
    argmax. Ties go to the lowest centroid_id, the oracle's
    (csim DESC, centroid_id) order."""
    C, cids = centroids.vecs, centroids.ids
    cn = vectors.norms(cids.tolist(), C, "centroid")
    id_t = corpus.schema[id_col].dataType.simpleString()
    vec_t = corpus.schema[vec_col].dataType.simpleString()

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(C) == 0:
                continue
            X = vectors.as_matrix(pdf[id_col], pdf[vec_col], id_col, C.shape[1])
            yield pd.DataFrame({
                id_col: pdf[id_col],
                vec_col: pdf[vec_col],
                "centroid_id": cids[vectors.nearest(X, C, cn)].astype("int32"),
            })

    return corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        assign, f"`{id_col}` {id_t}, `{vec_col}` {vec_t}, centroid_id int"
    )


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: Centroids | None = None,
    query_rows: list | None = None,
) -> DataFrame:
    """IVF approximate top-k: only the nprobe nearest centroid buckets are
    scanned per query. At 1000-executor scale the assignment is a cached
    bucketed table and each query touches nprobe/C of the corpus.

    ``centroids`` injects precomputed centroids — e.g.
    ``kmeans_refined_centroids`` — instead of the deterministic lowest-id
    seed. The (query, centroid) probe list is built at the driver (full
    cosine, ties to the lowest centroid_id) and ships as one local
    relation; ``query_rows`` spares the collect of ``queries``."""
    cents = (
        centroids
        if centroids is not None
        else kmeans_like_centroids(corpus, id_col, vec_col, n_centroids)
    )
    assigned = ivf_assign(corpus, cents, id_col, vec_col)

    C = cents.vecs
    qids, Q = _query_matrix(queries, query_id_col, vec_col, query_rows, C.shape[1])
    sims = vectors.dots(Q, C) / (
        vectors.norms(qids, Q, "query")[:, None]
        * vectors.norms(cents.ids.tolist(), C, "centroid")
    )
    probe = vectors.top(sims, nprobe)
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    probes = local_frame(
        corpus.sparkSession,
        [
            (qid, Q[i].tolist(), int(cents.ids[c]))
            for i, qid in enumerate(qids)
            for c in probe[i]
        ],
        f"`{query_id_col}` {qid_type}, __qvec array<double>, centroid_id int",
    )

    cand = assigned.withColumn("__cn", norm(F.col(vec_col))).join(
        F.broadcast(probes.withColumn("__qn", norm(F.col("__qvec")))),
        on="centroid_id",
    )
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            dot(F.col(vec_col), F.col("__qvec")) / (F.col("__cn") * F.col("__qn")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


def adaptive_n_centroids(n_rows: int, target_bucket: int = 500) -> int:
    """Centroid count sized so each IVF bucket holds ~``target_bucket``
    vectors: C = max(8, ceil(N / target_bucket)). Pair work per bucket is
    then O(target_bucket^2) — CONSTANT as N grows (total work O(N *
    target_bucket), linear), instead of the fixed-C O(N^2 / C) quadratic."""
    return max(8, -(-int(n_rows) // int(target_bucket)))


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int | None = None,
    target_bucket: int = 500,
    centroids: Centroids | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold, bucketed by IVF centroid.

    Scale path: assign every vector to its nearest centroid (one narrow
    pass), then score each bucket's pairs with ONE numpy GEMM per bucket
    inside an Arrow-batched ``applyInPandas``. ``n_centroids=None``
    (default) sizes C adaptively from one count job (see
    ``adaptive_n_centroids``), so bucket size — and therefore per-task
    memory (O(target_bucket^2) sims matrix, ~2 MB at the default) and
    total pair work — stays bounded as N grows; parallelism = C tasks,
    which grows linearly with N.

    Semantics: deterministic-approximate — a pair is reported iff both
    vectors share a primary centroid AND cosine >= threshold. The bucketing
    is fully deterministic (lowest-id centroids, rank-stable assignment), so
    results are reproducible and SQL-oracle checkable.

    ``centroids`` injects prebuilt centroids (no count job), e.g. built
    over the raw scan so the centroid collect does not re-execute a
    defensive repartition of the full vector table."""
    if centroids is None:
        if n_centroids is None:
            n_centroids = adaptive_n_centroids(df.count(), target_bucket)
        centroids = kmeans_like_centroids(df, id_col, vec_col, n_centroids)
    assigned = ivf_assign(df, centroids, id_col, vec_col)

    thr = float(threshold)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, sim double"
    empty = {"id_a": [], "id_b": [], "sim": []}

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(empty)
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        X = vectors.as_matrix(ids, pdf[vec_col].to_numpy()[order], id_col)
        norms = np.sqrt((X * X).sum(axis=1))
        parts: list[pd.DataFrame] = []
        # row-chunked GEMM bounds the sims matrix to chunk x n doubles even
        # on a skew-fat bucket
        chunk = 2048
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            sims = np.round(
                (X[s:e] @ X.T) / np.outer(norms[s:e], norms), 6
            )
            ii, jj = np.nonzero(sims >= thr)
            gi = ii + s
            keep = jj > gi  # upper triangle only: ids sorted -> id_a < id_b
            if keep.any():
                parts.append(
                    pd.DataFrame(
                        {
                            "id_a": ids[gi[keep]],
                            "id_b": ids[jj[keep]],
                            "sim": sims[ii[keep], jj[keep]],
                        }
                    )
                )
        if not parts:
            return pd.DataFrame(empty)
        return pd.concat(parts, ignore_index=True)

    return assigned.groupBy("centroid_id").applyInPandas(score_bucket, out_schema)


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid — TPAMI 2011)
# ---------------------------------------------------------------------------


def _cb_row(spark, codebook: np.ndarray) -> DataFrame:
    """The codebook as ONE broadcastable row: the array of entry vectors
    in id order."""
    return local_frame(spark, [(codebook.tolist(),)], "__cb array<array<double>>")


def _subdist(v: Column, cb: Column, j: Column, c: Column, sub: int) -> Column:
    """Squared L2 distance between vector ``v``'s subspace-``j`` slice and
    codebook entry ``c``'s same slice — an ascending-index left fold, the
    order the DuckDB oracle replays."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(sub)),
        F.lit(0.0),
        lambda acc, t: acc
        + F.pow(
            F.element_at(v, (j * sub + t).cast("int"))
            - F.element_at(F.element_at(cb, (c + 1).cast("int")), (j * sub + t).cast("int")),
            2,
        ),
    )


def pq_encode(
    corpus: DataFrame,
    centroids: Centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
) -> PQCodes:
    """Product-quantization encoding: compress each vector to ``m`` small
    integer codes — subspace ``j``'s code is the codebook entry whose
    ``j``-th slice is L2-nearest (FIRST index on ties, matching
    ``array_position``/``list_position`` in the oracle). 64 doubles
    (512 B) become 8 codes (~8 B): the memory step that makes
    billion-vector ANN fit a cluster.

    ``centroids`` is the codebook — train with
    :func:`kmeans_like_centroids` (deterministic lowest-id seeds, which
    keeps the whole PQ pipeline oracle-replayable) or
    :func:`kmeans_refined_centroids` for better quantization error.

    Plan: ONE corpus scan, no shuffle: a narrow ``mapInPandas`` pass with
    the k x dim codebook in the task closure. ``_pq_encode_expr`` keeps
    the pure-Column form as the reference (equality is pytest-asserted).
    """
    CB = centroids.vecs
    if CB.shape[1] % m:
        raise ValueError(f"dim {CB.shape[1]} not divisible by m {m}")
    id_t = corpus.schema[id_col].dataType.simpleString()

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = vectors.as_matrix(pdf[id_col], pdf[vec_col], id_col, CB.shape[1])
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": list(vectors.pq_codes(X, CB, m))}
            )

    frame = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        encode, f"`{id_col}` {id_t}, codes array<int>"
    )
    return PQCodes(frame, CB, m)


def _pq_encode_expr(
    corpus: DataFrame, centroids: Centroids, id_col: str, vec_col: str, m: int
) -> DataFrame:
    """Pure-Column encode: the m x k distance matrix materializes once per
    row via nested ``transform`` lambdas, argmin = first
    ``array_position`` on the ``array_min``. Kept as the reference the
    numpy encode is asserted against."""
    sub = centroids.vecs.shape[1] // m
    v = F.col(vec_col).cast("array<double>")
    cb = F.col("__cb")
    dmat = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.sequence(F.lit(0), F.size(cb) - 1),
            lambda c: _subdist(v, cb, j, c, sub),
        ),
    )
    ds = F.col("__d")
    codes = F.transform(
        F.sequence(F.lit(1), F.lit(m)),
        lambda j: (
            F.array_position(
                F.element_at(ds, j.cast("int")),
                F.array_min(F.element_at(ds, j.cast("int"))),
            )
            - 1
        ).cast("int"),
    )
    return (
        corpus.crossJoin(F.broadcast(_cb_row(corpus.sparkSession, centroids.vecs)))
        .select(F.col(id_col), dmat.alias("__d"))
        .select(F.col(id_col), codes.alias("codes"))
    )


def _adc_topk(
    scored: DataFrame, query_id: str, id_col: str, m: int, k_top: int
) -> DataFrame:
    """Rank candidates carrying ``codes`` and their query's ``__lut``
    (m x k ADC table) by asymmetric distance: the sum of m table lookups,
    top ``k_top`` per query (ties to the lower id)."""
    adist = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.element_at(F.col("__lut"), j.cast("int")),
            (F.element_at(F.col("codes"), j.cast("int")) + 1).cast("int"),
        ),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("adist").asc(), F.col(id_col).asc()
    )
    return (
        scored.select(F.col(query_id), F.col(id_col), F.round(adist, 6).alias("adist"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_top)
    )


def pq_topk(
    codes: PQCodes,
    queries: DataFrame,
    query_id: str = "query_id",
    query_vec: str = "qvec",
    id_col: str = "vec_id",
    k_top: int = 5,
    query_rows: list | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: approximate squared L2 of
    (query, doc) = sum over subspaces of ||q_j - codebook[code_j]_j||^2 —
    the doc's full vector is never touched, only its ``m`` codes.

    Each query's m x k distance table (Jégou §V) is computed once at the
    driver and broadcast as a local relation against the encoded corpus
    (Q x N stays row-local, no shuffle); a candidate then costs m
    lookups, and top-k per query is a WindowGroupLimit rank.
    ``query_rows`` spares the collect of ``queries``."""
    CB = codes.codebook
    qids, Q = _query_matrix(queries, query_id, query_vec, query_rows, CB.shape[1])
    luts = vectors.subdist(Q, CB, codes.m)
    qid_type = queries.schema[query_id].dataType.simpleString()
    qlut = local_frame(
        queries.sparkSession,
        [(qid, luts[i].tolist()) for i, qid in enumerate(qids)],
        f"`{query_id}` {qid_type}, __lut array<array<double>>",
    )
    return _adc_topk(
        codes.frame.crossJoin(F.broadcast(qlut)), query_id, id_col, codes.m, k_top
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "qvec",
    n_coarse: int = 4,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    k_top: int = 5,
    seed_source: DataFrame | None = None,
    query_rows: list | None = None,
) -> DataFrame:
    """IVF+PQ — the standard billion-vector ANN architecture (FAISS
    IVFADC; Jégou et al. 2011 §IV): a coarse quantizer routes each vector
    to one of ``n_coarse`` inverted lists, the RESIDUAL (vector minus its
    coarse centroid) is product-quantized to ``m`` codes, and a query
    scans only its ``nprobe`` nearest lists, scoring candidates by
    asymmetric distance between its residual and their codes.

    Why both stages matter at 10^9+ vectors: IVF alone still ships full
    vectors (memory-bound); PQ alone still scans every code (compute-
    bound). Composed, the scan touches nprobe/n_coarse of the corpus and
    each candidate costs m byte-lookups.

    Deterministic end to end, so the whole three-stage pipeline replays
    bit-exactly in the SQL oracle: the coarse centroids are the
    ``n_coarse`` lowest-id vectors and the residual codebook is the
    residuals of the ``n_codes`` lowest-id vectors — one TakeOrdered
    collect of those rows (from ``seed_source`` when given, e.g. the raw
    scan without a defensive repartition). Assign + residual + encode is
    ONE narrow ``mapInPandas`` pass; the probe list and each (query,
    list) ADC table are built at the driver and broadcast into the probe
    equi-join on centroid_id; top-k per query is a WindowGroupLimit rank.
    """
    seed = kmeans_like_centroids(
        seed_source if seed_source is not None else corpus,
        id_col, vec_col, max(n_coarse, n_codes),
    ).vecs
    C, dim = seed[:n_coarse], seed.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    cn = vectors.norms(list(range(len(C))), C, "centroid")
    RCB = seed[:n_codes] - C[vectors.nearest(seed[:n_codes], C, cn)]
    id_type = corpus.schema[id_col].dataType.simpleString()

    def assign_encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = vectors.as_matrix(pdf[id_col], pdf[vec_col], id_col, dim)
            best = vectors.nearest(X, C, cn)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "centroid_id": best.astype("int32"),
                "codes": list(vectors.pq_codes(X - C[best], RCB, m)),
            })

    enc = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        assign_encode, f"`{id_col}` {id_type}, centroid_id int, codes array<int>"
    )
    qids, Q = _query_matrix(queries, query_id, query_vec, query_rows, dim)
    probe = vectors.top(vectors.dots(Q, C) / cn, nprobe)
    # each query's residual against each of its probed centroids
    R = (Q[:, None, :] - C[probe]).reshape(-1, dim)
    luts = vectors.subdist(R, RCB, m).reshape(*probe.shape, m, len(RCB))
    qid_type = queries.schema[query_id].dataType.simpleString()
    probes_lut = local_frame(
        corpus.sparkSession,
        [
            (qid, int(c), luts[i, p].tolist())
            for i, qid in enumerate(qids)
            for p, c in enumerate(probe[i])
        ],
        f"`{query_id}` {qid_type}, centroid_id int, __lut array<array<double>>",
    )
    return _adc_topk(
        enc.join(F.broadcast(probes_lut), "centroid_id"), query_id, id_col, m, k_top
    )
