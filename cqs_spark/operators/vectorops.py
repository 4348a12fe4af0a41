"""Dense-vector retrieval operators: exact top-k, IVF, centroid routing.

The reference serves dense retrieval through an HNSW graph
(src/hnsw/mod.rs) with a brute-force fallback (src/search/query.rs:316)
and routes queries by nearest category centroid
(src/search/router.rs:1453).  Spark-first equivalents:

  cosine_topk       exact brute-force: broadcast probes × corpus scan
  ivf_assign        assign each vector to its nearest coarse centroid
  ivf_topk          probe only the query's centroid bucket (the
                    IVF scale path: scan 1/n_centroids of the corpus)
  centroid_classify nearest-centroid classification (router shape)

Exact top-k is the oracle-checkable baseline; IVF is the same-API
approximate path whose recall/cost trade is controlled by the
centroid count.  No persistent index structure is needed — the
"index" IS the assignment table, rebuilt by one cross-join pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from cqs_spark.functions.vector import dot
from cqs_spark.staging import stage


def _with_norm(df: DataFrame, id_col: str, vec_col: str, prefix: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(f"{prefix}id"),
        F.col(vec_col).cast("array<double>").alias(f"{prefix}v"),
    ).withColumn(f"{prefix}nrm", F.sqrt(dot(f"{prefix}v", f"{prefix}v")))


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k per probe: (qid, id, cos, rn).

    Probes are broadcast (the small side by construction); the corpus
    streams through one BroadcastNestedLoopJoin — no corpus shuffle.
    Deterministic tie-break on id.
    """
    c = _with_norm(corpus, id_col, vec_col, "")
    p = _with_norm(probes, id_col, vec_col, "q")
    cond = F.col("id") != F.col("qid") if exclude_self else F.lit(True)
    cos = dot("qv", "v") / F.nullif(F.col("qnrm") * F.col("nrm"), F.lit(0.0))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "id")
    return (
        c.join(F.broadcast(p), cond)
        .select("qid", "id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 50,
    iters: int = 5,
) -> DataFrame:
    """Trained IVF coarse centroids via distributed spherical k-means.

    Lloyd's iterations with cosine assignment (the metric ivf_topk
    searches under): init = the k smallest-id vectors (deterministic,
    no RNG), then per iteration one broadcast-assign pass + one
    groupBy(centroid) aggregate whose per-dimension means are D
    ``avg(element_at(...))`` columns — all JVM-side, one shuffle per
    iteration, no explode (corpus × dim rows never materialize).
    Centroids (k × D doubles) collect to the driver between iterations
    to keep the next assign a broadcast of literals rather than a
    lineage replay.  Returns (centroid_id, vec) — feed to
    ivf_assign/ivf_topk in place of the sampled-centroid shortcut.

    Reference parallel: HNSW needs no training (src/hnsw/mod.rs), but
    IVF quality at 100 TB hinges on centroids matching the data
    distribution — k sampled rows is the bootstrap, k-means the upgrade.
    """
    spark = corpus.sparkSession
    vecs = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    first = vecs.select(F.size("v")).first()
    if first is None:
        return spark.createDataFrame([], "centroid_id long, vec array<double>")
    dim = first[0]
    cen_rows = [
        (i, r["v"])
        for i, r in enumerate(vecs.orderBy("id").limit(k).collect())
    ]
    for _ in range(iters):
        cen = spark.createDataFrame(cen_rows, "cid long, cv array<double>")
        cos = dot("cv", "v") / F.nullif(
            F.sqrt(dot("cv", "cv")) * F.sqrt(dot("v", "v")), F.lit(0.0)
        )
        w = Window.partitionBy("id").orderBy(F.desc("cos"), "cid")
        assigned = (
            vecs.join(F.broadcast(cen))
            .select("id", "v", "cid", cos.alias("cos"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )
        means = assigned.groupBy("cid").agg(
            *[
                F.avg(F.element_at("v", i + 1)).alias(f"_d{i}")
                for i in range(dim)
            ]
        )
        updated = {
            r["cid"]: [r[f"_d{i}"] for i in range(dim)]
            for r in means.collect()
        }
        # Empty clusters keep their previous centroid (deterministic;
        # the standard small-k fallback).
        cen_rows = [
            (cid, updated.get(cid, prev)) for cid, prev in cen_rows
        ]
    return spark.createDataFrame(
        cen_rows, "centroid_id long, vec array<double>"
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign every vector to its nearest centroid: (id, centroid_id).

    One broadcast pass over the corpus; ties broken by centroid id.
    """
    return _ivf_assign_n(corpus, centroids, id_col, vec_col, 1)


def _ivf_assign_n(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    n: int,
) -> DataFrame:
    """Top-n nearest centroids per vector: (id, centroid_id) — the
    multi-probe generalization of ivf_assign."""
    c = _with_norm(df, id_col, vec_col, "")
    cen = _with_norm(centroids, id_col, vec_col, "c")
    cos = dot("cv", "v") / F.nullif(F.col("cnrm") * F.col("nrm"), F.lit(0.0))
    w = Window.partitionBy("id").orderBy(F.desc("cos"), "centroid_id")
    return (
        c.join(F.broadcast(cen))
        .select("id", F.col("cid").alias("centroid_id"), cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .select("id", "centroid_id")
    )


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF search: top-k within the probe's nearest ``nprobe`` buckets.

    (qid, id, cos, rn).  Cost per probe is nprobe·|corpus|/|centroids|
    instead of |corpus| — the 100 TB scale path; recall rises with
    nprobe (queries near a Voronoi boundary miss neighbors in the
    adjacent cell at nprobe=1 — the standard IVF recall lever).
    """
    assign = ivf_assign(corpus, centroids, id_col, vec_col).withColumnRenamed("id", "t_id")
    probe_assign = _ivf_assign_n(probes, centroids, id_col, vec_col, nprobe).select(
        F.col("id").alias("qid"), F.col("centroid_id").alias("q_centroid")
    )
    c = (
        _with_norm(corpus, id_col, vec_col, "")
        .join(assign, F.col("id") == F.col("t_id"))
        .drop("t_id")
    )
    p = _with_norm(probes, id_col, vec_col, "q").join(F.broadcast(probe_assign), "qid")
    cos = dot("qv", "v") / F.nullif(F.col("qnrm") * F.col("nrm"), F.lit(0.0))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "id")
    return (
        c.join(
            F.broadcast(p),
            (F.col("centroid_id") == F.col("q_centroid")) & (F.col("id") != F.col("qid")),
        )
        .select("qid", "id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


def ivf_topk_trained(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_centroids: int = 50,
    iters: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF search over TRAINED spherical-k-means centroids — the
    quality path wiring ``kmeans_centroids`` into the same (qid, id,
    cos, rn) API as ``ivf_topk``.

    Sampled-row centroids are the bootstrap; a codebook trained on the
    actual distribution tightens Voronoi cells so a fixed nprobe scans
    buckets that better contain the true neighbors (recall at equal
    cost — the IVF analogue of the reference rebuilding HNSW per
    corpus, src/hnsw/mod.rs).  Training cost is one broadcast-assign +
    one aggregate per Lloyd iteration; at 100 TB train on a sampled
    subset and assign the full corpus once.
    """
    cen = kmeans_centroids(corpus, id_col, vec_col, k=n_centroids, iters=iters)
    cen = cen.select(
        F.col("centroid_id").alias(id_col), F.col("vec").alias(vec_col)
    )
    return ivf_topk(corpus, cen, probes, id_col, vec_col, k=k, nprobe=nprobe)


def lsh_hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic random hyperplanes (seeded hash expansion — no RNG,
    per the determinism contract)."""
    from cqs_spark.index.reuse import fake_embedding

    return [fake_embedding(f"hyperplane:{i}", dim) for i in range(n_planes)]


def lsh_bucket_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    multiprobe: bool = True,
) -> DataFrame:
    """Sign-LSH ANN: bucket by hyperplane sign bits, exact rerank in-bucket.

    (qid, id, cos, rn).  Each vector hashes to one of 2^n_planes
    buckets (sign of dot with each plane); a probe scans its own
    bucket plus — with ``multiprobe`` — the n_planes hamming-1
    neighbors (the standard recall raiser: a near neighbor differs in
    at most the planes it sits closest to).  Expected cost per probe:
    (1 + n_planes) · |corpus| / 2^n_planes.  Scores are always TRUE
    cosines — approximation only prunes candidates; tests grade recall
    against the exact brute-force oracle (cosine_topk), the SURVEY §5
    pattern for any approximate path.
    """
    planes = lsh_hyperplanes(n_planes, dim)

    def sig(vec_expr):
        bits = None
        for j, p in enumerate(planes):
            plane = F.array(*[F.lit(float(x)) for x in p])
            bit = F.when(dot(vec_expr, plane) >= 0, F.lit(2 ** j)).otherwise(F.lit(0))
            bits = bit if bits is None else bits + bit
        return bits

    c = _with_norm(corpus, id_col, vec_col, "").withColumn("bkt", sig(F.col("v")))
    p = _with_norm(probes, id_col, vec_col, "q").withColumn("bkt", sig(F.col("qv")))
    if multiprobe:
        flips = F.array(F.lit(0), *[F.lit(2 ** j) for j in range(n_planes)])
        p = p.select(
            "qid", "qv", "qnrm",
            F.explode(flips).alias("_flip"),
            F.col("bkt").alias("_b0"),
        ).select(
            "qid", "qv", "qnrm",
            F.expr("_b0 ^ _flip").alias("bkt"),
        )
    cos = dot("qv", "v") / F.nullif(F.col("qnrm") * F.col("nrm"), F.lit(0.0))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "id")
    return (
        c.join(F.broadcast(p), "bkt")
        .filter(F.col("id") != F.col("qid"))
        .select("qid", "id", cos.alias("cos"))
        .distinct()  # multiprobe can reach the same pair via 2 buckets
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


def centroid_classify(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str,
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid classification (query-router shape): (id, pred).

    Reference: reclassify_with_centroid, src/search/router.rs:1453 —
    broadcast centroid matrix + argmax.
    """
    c = _with_norm(df, id_col, vec_col, "")
    cen = centroids.select(
        F.col(label_col).alias("clabel"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cnrm", F.sqrt(dot("cv", "cv")))
    cos = dot("cv", "v") / F.nullif(F.col("cnrm") * F.col("nrm"), F.lit(0.0))
    w = Window.partitionBy("id").orderBy(F.desc("cos"), "clabel")
    return (
        c.join(F.broadcast(cen))
        .select("id", "clabel", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", F.col("clabel").alias("pred"))
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid 2011) — the memory-scale
# ANN path: a D-dim float vector compresses to m uint8 codes (here
# 64 dims -> 8 bytes, 32x), so a 100 TB embedding corpus's codes fit
# in a fraction of executor memory while the float vectors stay on
# parquet for the final exact re-rank only.
# ---------------------------------------------------------------------------

def _pq_train_arr(X, m: int, ks: int, iters: int) -> list:
    """numpy k-means per subspace over a prepared sample matrix — the
    shared kernel of pq_train (normalized full vectors) and
    ivfpq_topk (cell residuals, which must NOT be re-normalized)."""
    import numpy as np

    d = X.shape[1]
    dsub = d // m
    books = []
    for i in range(m):
        S = X[:, i * dsub : (i + 1) * dsub]
        C = S[:ks].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(ks):
                mask = assign == j
                if mask.any():
                    C[j] = S[mask].mean(axis=0)
        books.append(C.tolist())
    return books


def pq_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    ks: int = 16,
    iters: int = 8,
    sample_n: int = 2048,
) -> list:
    """Train per-subspace codebooks on a deterministic corpus sample.

    Splits D dims into ``m`` subspaces and runs numpy k-means (init =
    first ``ks`` sample rows per subspace, fixed ``iters`` — no RNG)
    on the ``sample_n`` smallest-id vectors, L2-normalized so subspace
    L2 distance ranks like full-vector cosine.  Codebook training on a
    bounded sample is the standard PQ recipe — the codebook is
    m × ks × (D/m) floats regardless of corpus size, so this driver
    collect is O(sample) and scale-independent.  Returns a nested
    python list codebooks[m][ks][D/m].

    ``sample_n`` is clamped to 65 536 rows: the kernel is
    O(sample²·iters) numpy on the driver, and the clamp keeps a
    careless caller from turning the bounded-sample recipe into a
    driver OOM — past ~64k rows more sample stops improving a
    ks≤256 codebook anyway.
    """
    import numpy as np

    sample_n = min(sample_n, 65536)
    rows = (
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("id")
        .limit(sample_n)
        .collect()
    )
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    return _pq_train_arr(X, m, ks, iters)


def pq_encode(
    corpus: DataFrame, codebooks: list, id_col: str, vec_col: str
) -> DataFrame:
    """Encode each vector to its m nearest-code ids: (id, codes).

    Arrow-batched mapInPandas; the codebook ships in the task closure
    (m × ks × dsub floats — KBs).  Vectors are L2-normalized before
    coding to match pq_train.
    """
    import pandas as pd  # noqa: F401

    m = len(codebooks)
    dsub = len(codebooks[0][0])

    def run(batches):
        import numpy as np

        B = [np.asarray(b, dtype=np.float64) for b in codebooks]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(list(pdf["v"]), dtype=np.float64)
            X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(X), m), dtype=np.int64)
            for i in range(m):
                S = X[:, i * dsub : (i + 1) * dsub]
                d2 = ((S[:, None, :] - B[i][None, :, :]) ** 2).sum(axis=2)
                codes[:, i] = d2.argmin(axis=1)
            yield pd.DataFrame({"id": pdf["id"], "codes": list(codes)})

    src = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    return src.mapInPandas(run, "id long, codes array<long>")


def pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    m: int = 8,
    ks: int = 16,
    iters: int = 8,
    refine: int = 4,
) -> DataFrame:
    """PQ ANN with exact re-rank: (qid, id, cos, rn).

    Asymmetric distance computation (ADC): each probe precomputes an
    m × ks table of subspace distances to every code; a candidate's
    approximate distance is m table lookups over its codes — computed
    JVM-side as one F.aggregate over the code array against the
    broadcast table.  The top k·refine ADC candidates per probe then
    re-rank by TRUE cosine against the float vectors (approximation
    prunes, never scores — the SURVEY §5 contract for approximate
    paths; recall is graded against cosine_topk in tests).

    At scale: codes build once (one corpus pass), the ADC scan touches
    8 bytes/vector instead of 4·D, and only |probes| · k·refine rows
    ever rejoin the float vectors.
    """
    import numpy as np

    books = pq_train(corpus, id_col, vec_col, m=m, ks=ks, iters=iters)
    encoded = pq_encode(corpus, books, id_col, vec_col)

    # Per-probe ADC tables, numpy on the (small) probe side.
    B = [np.asarray(b, dtype=np.float64) for b in books]
    dsub = B[0].shape[1]

    def tab(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.asarray(list(pdf["qv"]), dtype=np.float64)
            Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
            tables = np.empty((len(Q), m * ks), dtype=np.float64)
            for i in range(m):
                S = Qn[:, i * dsub : (i + 1) * dsub]
                tables[:, i * ks : (i + 1) * ks] = (
                    (S[:, None, :] - B[i][None, :, :]) ** 2
                ).sum(axis=2)
            yield pd.DataFrame({"qid": pdf["qid"], "dtab": list(tables)})

    p_src = probes.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    p_tab = p_src.mapInPandas(tab, "qid long, dtab array<double>")

    idx = F.sequence(F.lit(0), F.lit(m - 1))
    lookups = F.zip_with(
        F.col("codes"), idx,
        lambda c, i: F.element_at("dtab", (i * ks + c + 1).cast("int")),
    )
    adc = F.aggregate(lookups, F.lit(0.0), lambda s, x: s + x)
    w_adc = Window.partitionBy("qid").orderBy("adc", "id")
    cand = (
        encoded.join(F.broadcast(p_tab), F.col("id") != F.col("qid"))
        .select("qid", "id", adc.alias("adc"))
        .withColumn("arn", F.row_number().over(w_adc))
        .filter(F.col("arn") <= k * refine)
        .select("qid", "id")
    )
    # Exact re-rank: candidates are tiny (|probes|·k·refine) — broadcast
    # them onto the corpus scan, then score true cosine vs the probes.
    c = _with_norm(corpus, id_col, vec_col, "")
    p = _with_norm(probes, id_col, vec_col, "q")
    cos = dot("qv", "v") / F.nullif(F.col("qnrm") * F.col("nrm"), F.lit(0.0))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "id")
    return (
        c.join(F.broadcast(cand), "id")
        .join(F.broadcast(p), "qid")
        .select("qid", "id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


def ivfpq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ks: int = 16,
    iters: int = 8,
    refine: int = 4,
    kmeans_iters: int = 3,
    sample_n: int = 2048,
) -> DataFrame:
    """IVF-PQ ANN — the FAISS IVFPQ composition, completing the ladder
    exact → IVF → LSH → PQ → **IVF-PQ**: coarse spherical-k-means cells
    prune the scan to ``nprobe`` cells per probe, PQ codes of the
    in-cell RESIDUAL carry the approximate distance, and the top
    ``k·refine`` candidates re-rank by TRUE cosine (approximation
    prunes, never scores — the §5 contract; recall graded against
    cosine_topk in tests).

    (qid, id, cos, rn) — drop-in for pq_topk/ivf_topk.

    The residual decomposition is exact, not heuristic: for unit
    vectors ranking by cosine = ranking by L2, and
    ``||q̂ − v̂||² = ||(q̂−c) − (v̂−c)||²`` for the SAME cell centroid c —
    so PQ-quantizing (v̂−c) and building the probe's ADC table on
    (q̂−c) approximates exactly the quantity being ranked.  Residuals
    cluster near 0 in every cell, which is what lets one shared
    codebook serve all cells.

    Cell assignment runs INSIDE the encode/probe kernels (same numpy
    argmax both sides), so index and query can never disagree on a
    vector's cell.  At scale: centroids + codebooks are KBs in the
    task closure; the ADC scan touches ~nprobe/n_cells of the corpus
    at 8 bytes/vector (vs flat PQ's full scan, vs IVF's 4·D floats per
    in-cell row); only |probes|·k·refine rows rejoin the floats.
    """
    import numpy as np
    import pandas as pd  # noqa: F401

    cen = kmeans_centroids(
        corpus, id_col, vec_col, k=n_cells, iters=kmeans_iters
    )
    Crows = cen.orderBy("centroid_id").collect()
    C = np.asarray([r["vec"] for r in Crows], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    def _norm(X):
        return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)

    # Residual codebooks from the deterministic smallest-id sample.
    sample = (
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("id")
        .limit(min(sample_n, 65536))
        .collect()
    )
    Xs = _norm(np.asarray([r["v"] for r in sample], dtype=np.float64))
    cells_s = (Xs @ Cn.T).argmax(axis=1)
    books = _pq_train_arr(Xs - C[cells_s], m, ks, iters)
    B = [np.asarray(b, dtype=np.float64) for b in books]
    dsub = B[0].shape[1]

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _norm(np.asarray(list(pdf["v"]), dtype=np.float64))
            cells = (X @ Cn.T).argmax(axis=1)
            R = X - C[cells]
            codes = np.empty((len(X), m), dtype=np.int64)
            for i in range(m):
                S = R[:, i * dsub : (i + 1) * dsub]
                d2 = ((S[:, None, :] - B[i][None, :, :]) ** 2).sum(axis=2)
                codes[:, i] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"id": pdf["id"], "cell": cells, "codes": list(codes)}
            )

    encoded = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).mapInPandas(encode, "id long, cell long, codes array<long>")

    def tab(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = _norm(np.asarray(list(pdf["qv"]), dtype=np.float64))
            sims = Q @ Cn.T
            out_q, out_c, out_t = [], [], []
            for row in range(len(Q)):
                # stable top-nprobe: sort by (-sim, cell id)
                order = np.lexsort((np.arange(len(C)), -sims[row]))
                for cell in order[:nprobe]:
                    R = Q[row] - C[cell]
                    t = np.empty(m * ks, dtype=np.float64)
                    for i in range(m):
                        S = R[i * dsub : (i + 1) * dsub]
                        t[i * ks : (i + 1) * ks] = (
                            (S[None, :] - B[i]) ** 2
                        ).sum(axis=1)
                    out_q.append(pdf["qid"].iloc[row])
                    out_c.append(int(cell))
                    out_t.append(t)
            yield pd.DataFrame({"qid": out_q, "cell": out_c, "dtab": out_t})

    p_tab = probes.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv")
    ).mapInPandas(tab, "qid long, cell long, dtab array<double>")

    idx = F.sequence(F.lit(0), F.lit(m - 1))
    lookups = F.zip_with(
        F.col("codes"), idx,
        lambda c, i: F.element_at("dtab", (i * ks + c + 1).cast("int")),
    )
    adc = F.aggregate(lookups, F.lit(0.0), lambda s, x: s + x)
    w_adc = Window.partitionBy("qid").orderBy("adc", "id")
    cand = (
        encoded.join(F.broadcast(p_tab), "cell")
        .filter(F.col("id") != F.col("qid"))
        .select("qid", "id", adc.alias("adc"))
        .withColumn("arn", F.row_number().over(w_adc))
        .filter(F.col("arn") <= k * refine)
        .select("qid", "id")
    )
    c = _with_norm(corpus, id_col, vec_col, "")
    p = _with_norm(probes, id_col, vec_col, "q")
    cos = dot("qv", "v") / F.nullif(F.col("qnrm") * F.col("nrm"), F.lit(0.0))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "id")
    return (
        c.join(F.broadcast(cand), "id")
        .join(F.broadcast(p), "qid")
        .select("qid", "id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


def class_separation(
    df: DataFrame, id_col: str, vec_col: str, label_col: str
) -> DataFrame:
    """Embedding-space class-separation report: per label, the mean
    cosine of members to their own class centroid (cohesion) vs the
    highest cosine between that centroid and any rival class centroid
    — the embedding-quality audit a labeled corpus (or a clustering
    pass) is judged by before the labels are trusted downstream.

    (label, n_vecs, cohesion, rival_sim, margin), ordered by label.

    Shape at scale: centroids are one groupBy with D JVM-side
    ``avg(element_at)`` columns (no explode — corpus × dim rows never
    materialize); both the member-to-centroid join and the 
    centroid-pair max are broadcasts of a |labels|-row table.
    """
    vecs = df.select(
        F.col(label_col).alias("label"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    first = vecs.agg(F.max(F.size("v")), F.min(F.size("v"))).first()
    dim = first[0] if first is not None else None
    uniform = first is not None and first[1] == dim
    if not dim:
        # Empty input: derive the label type from the input schema so
        # the empty frame unions cleanly with non-empty results.
        return (
            df.limit(0)
            .select(F.col(label_col).alias("label"))
            .withColumn("n_vecs", F.lit(0).cast("bigint"))
            .withColumn("cohesion", F.lit(None).cast("double"))
            .withColumn("rival_sim", F.lit(None).cast("double"))
            .withColumn("margin", F.lit(None).cast("double"))
        )
    # dim = MAX vector length; try_element_at returns NULL past a
    # shorter (ragged) vector's end, so avg() sees only the dims a
    # vector actually has instead of aborting the job under ANSI.
    # Fast path: when every vector has the same length (`uniform` —
    # the overwhelmingly common case), plain element_at never goes out
    # of bounds and no centroid dim can be all-missing, so the
    # try_/coalesce layers drop out of the plan — at this table's size
    # the cost of this operator is CODEGEN of the 64-column aggregate,
    # not data, and the slimmer expression tree compiles ~2× faster
    # (r4 bench regression; the ragged path stays for correctness).
    elem = F.element_at if uniform else F.try_element_at
    cents = vecs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        *[
            F.avg(elem("v", F.lit(i + 1))).alias(f"_d{i}")
            for i in range(dim)
        ],
    )
    if uniform:
        cents = cents.select(
            "label",
            "n_vecs",
            F.array(*[F.col(f"_d{i}") for i in range(dim)]).alias("cv"),
        )
    else:
        cents = cents.select(
            "label",
            "n_vecs",
            # Coalesce NULL centroid dims (a label whose members are ALL
            # shorter than the global max) to 0 so cv is a dense length-
            # `dim` vector and the cosines below never go NULL on it.
            F.array(
                *[F.coalesce(F.col(f"_d{i}"), F.lit(0.0)) for i in range(dim)]
            ).alias("cv"),
        )
    # The centroid table has FOUR consumers below (cohesion join, both
    # rival sides, final n_vecs join); without a checkpoint each one
    # re-runs the wide aggregate — the dominant cost of the operator.
    # |labels| rows, so materializing it is free.
    cents = stage(cents, eager=True)
    # Pad ragged member vectors to the centroid dimension with zeros —
    # the dot-product analogue of try_element_at's "missing dim absent"
    # (zip_with would NULL-pad and silently DROP short vectors from the
    # cohesion average, diverging from the centroid semantics above).
    # Zero-padding leaves ||v|| unchanged, so only the dot needs it.
    vp = (
        F.col("v")
        if uniform
        else F.concat(
            F.col("v"),
            F.array_repeat(F.lit(0.0), F.lit(dim) - F.size("v")),
        )
    )
    cos = dot(vp, "cv") / F.nullif(
        F.sqrt(dot("v", "v")) * F.sqrt(dot("cv", "cv")), F.lit(0.0)
    )
    r4 = lambda c: F.round(c.cast("decimal(30,10)"), 4).cast("double")  # noqa: E731
    coh = (
        vecs.join(F.broadcast(cents), "label")
        .select("label", cos.alias("cos"))
        .groupBy("label")
        .agg(F.avg("cos").alias("cohesion"))
    )
    a = cents.select(F.col("label").alias("la"), F.col("cv").alias("ca"))
    b = cents.select(F.col("label").alias("lb"), F.col("cv").alias("cb"))
    rival_cos = dot("ca", "cb") / F.nullif(
        F.sqrt(dot("ca", "ca")) * F.sqrt(dot("cb", "cb")), F.lit(0.0)
    )
    riv = (
        a.join(F.broadcast(b), F.col("la") != F.col("lb"))
        .select("la", rival_cos.alias("rc"))
        .groupBy("la")
        .agg(F.max("rc").alias("rival_sim"))
        .withColumnRenamed("la", "label")
    )
    return (
        cents.select("label", "n_vecs")
        .join(coh, "label")
        .join(riv, "label")
        .select(
            "label",
            "n_vecs",
            r4(F.col("cohesion")).alias("cohesion"),
            r4(F.col("rival_sim")).alias("rival_sim"),
            r4(F.col("cohesion") - F.col("rival_sim")).alias("margin"),
        )
        .orderBy("label")
    )


def cluster_sample(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    quota: int,
    label_col: str = "label",
) -> DataFrame:
    """Cluster-balanced sampling: at most ``quota`` docs per embedding
    cluster — the topic-rebalancing constructor for a training mix
    (SemDeDup's cousin: instead of dropping near-duplicates inside a
    cluster, cap every cluster's contribution so no topic dominates
    the corpus).

    Assignment is nearest-centroid over the broadcast centroid table
    (the :func:`centroid_classify` shape); within each cluster the
    kept rows are the ``quota`` smallest ENGINE-PORTABLE hashes
    (md5-prefix bigint of the id, the q112 negative-bucket hash), so
    the sample is a pure function of (id, centroid set) — stable
    across runs, partitionings, engines, and corpus repartitioning,
    which ``sample()``/``sampleBy(seed)`` cannot promise.

    Scale shape: one broadcast-join assignment pass (no shuffle), one
    window shuffle on the cluster id.  The window ranks only to
    ``quota``; with mega-clusters the two-phase salted top-k of
    :func:`cqs_spark.operators.textops.source_cap` is the drop-in
    upgrade (same invariant: global top-q ⊆ union of salted top-qs).

    Returns (id, cluster, pick_rank), pick_rank in [1, quota].
    """
    from cqs_spark.operators.dedup import _hash44

    asg = centroid_classify(emb, centroids, id_col, vec_col, label_col)
    hh = _hash44("md5(cast(id as string))")
    w = Window.partitionBy("pred").orderBy(hh.asc(), F.col("id").asc())
    return (
        asg.withColumn("pick_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("pick_rank") <= quota)
        .select(
            F.col("id"),
            F.col("pred").alias("cluster"),
            "pick_rank",
        )
    )


# ---------------------------------------------------------------------------
# Projection export (PCA) — the batch analogue of `cqs index --umap`
# ---------------------------------------------------------------------------

def embedding_moments(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: float = 1e9,
) -> DataFrame:
    """Distributed first/second moments of an embedding column as ONE
    integer-exact frame: rows (i, j, s) where

    - ``i >= 0, j >= i``: s = Σ_rows floor(v[i]·v[j]·scale) — the
      upper-triangle Gram sums,
    - ``j = -1``: s = Σ_rows floor(v[i]·scale) — the mean sums,
    - ``i = -1, j = -1``: s = row count.

    The quantize-then-sum makes the reduction ORDER-INVARIANT (integer
    addition commutes; float sums do not), so the frame is
    oracle-gateable bit-exactly (q168) and deterministic under any
    partitioning — the covariance input for a projection export must
    not change when the cluster re-splits the scan.  The ~0.5/scale
    per-term quantization bias is orders of magnitude below what a
    PCA direction can see.

    Scale shape: row-CHUNKED partial Gram per partition — the n×d×d
    outer-product tensor is never materialized for a whole Arrow batch
    (at d=768 a 10k-row batch tensor would be ~47 GB); instead rows are
    processed in slabs sized so the slab×d×d float64 tensor stays under
    ``_GRAM_SLAB_BYTES`` (8 MiB), accumulating into ONE int64 d×d
    buffer held across the entire partition.  Peak task memory is
    O(slab·d²) = O(8 MiB) + O(d²) regardless of batch size or row
    count, and exactly D(D+1)/2+D+1 rows are emitted per partition,
    then one tiny groupBy — the classic map-side-combine moment
    sketch; the corpus is scanned once and never shuffled.
    Spark-side global sums run in DECIMAL(38,0): at 10^12 rows an
    int64 Gram sum could wrap, and a silent wrap would quietly rotate
    every principal axis.  (The per-partition int64 accumulator is
    safe to ~9e9 rows/partition at |v|≤1, scale=1e9 — far above any
    sane ``maxPartitionBytes``.)
    """
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("i", T.IntegerType(), False),
            T.StructField("j", T.IntegerType(), False),
            T.StructField("s", T.DecimalType(38, 0), False),
        ]
    )

    def run(batches):
        return _moment_partials(batches, vec_col, scale)

    return (
        emb.select(vec_col)
        .mapInPandas(run, out_schema)
        .groupBy("i", "j")
        .agg(F.sum("s").cast("decimal(38,0)").alias("s"))
        .orderBy("i", "j")
    )


#: Byte budget for the transient slab×d×d outer-product tensor inside
#: :func:`_moment_partials`.  8 MiB keeps the hot loop in L2/L3 while
#: still amortizing numpy dispatch (slab≈2048 rows at d=64, ≈14 at
#: d=768, ≥1 always).
_GRAM_SLAB_BYTES = 8 << 20


def _gram_slab_rows(d: int, budget_bytes: int = _GRAM_SLAB_BYTES) -> int:
    """Rows per Gram slab so slab·d·d float64 ≤ budget (min 1)."""
    return max(1, budget_bytes // (d * d * 8))


def _moment_partials(batches, vec_col: str, scale: float):
    """Per-partition moment accumulation for :func:`embedding_moments`.

    Module-level (not a closure) so tests can drive it directly with a
    synthetic high-dim batch iterator and assert the slab bound.
    Yields exactly one partial frame per non-empty partition.
    """
    import decimal

    import numpy as np
    import pandas as pd

    gram_acc = None
    mean_acc = None
    count = 0
    d = 0
    for pdf in batches:
        if not len(pdf):
            continue
        # float32 parquet values cast to float64 EXACTLY, then all
        # products run in float64 — the same (v[i]*v[j])*scale op
        # order as the SQL twin, so floor() agrees bitwise.
        v = np.array(
            [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
        )
        n, d = v.shape
        if gram_acc is None:
            gram_acc = np.zeros((d, d), dtype=np.int64)
            mean_acc = np.zeros(d, dtype=np.int64)
        slab = _gram_slab_rows(d)
        for s0 in range(0, n, slab):
            chunk = v[s0 : s0 + slab]
            gram_acc += (
                np.floor((chunk[:, :, None] * chunk[:, None, :]) * scale)
                .astype(np.int64)
                .sum(axis=0)
            )
        mean_acc += np.floor(v * scale).astype(np.int64).sum(axis=0)
        count += n
    if count == 0:
        return
    iu, ju = np.triu_indices(d)
    ii = list(iu) + list(range(d)) + [-1]
    jj = list(ju) + [-1] * d + [-1]
    ss = (
        [int(gram_acc[i, j]) for i, j in zip(iu, ju)]
        + [int(x) for x in mean_acc]
        + [count]
    )
    yield pd.DataFrame(
        {
            "i": pd.array([int(x) for x in ii], dtype="int32"),
            "j": pd.array([int(x) for x in jj], dtype="int32"),
            "s": [decimal.Decimal(x) for x in ss],
        }
    )


def merge_moment_frames(*frames: DataFrame) -> DataFrame:
    """Merge :func:`embedding_moments` frames from DISJOINT corpus
    slices into the frame of their union — the maintenance path for a
    continuously-growing corpus: stage each arrival batch's moment
    frame, merge, and the PCA export never rescans history.

    Correct by construction: the sketch is a sum of per-row integer
    terms, so moments(A ∪ B) = moments(A) + moments(B) cell-wise —
    integer addition commutes and never loses precision (DECIMAL(38,0)
    sums; the oracle gate q181 proves merged halves equal the
    full-corpus SQL twin bit-exactly).  One tiny groupBy over
    D(D+1)/2+D+1 rows per input frame."""
    if not frames:
        raise ValueError("merge_moment_frames: no frames")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return (
        out.groupBy("i", "j")
        .agg(F.sum("s").cast("decimal(38,0)").alias("s"))
        .orderBy("i", "j")
    )


def pca_project(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 2,
    scale: float = 1e9,
) -> tuple:
    """PCA projection export: (projected_df, components, eigenvalues).

    The distributed work is :func:`embedding_moments` (one scan); the
    eigendecomposition runs driver-side on the tiny D×D covariance
    (the same bounded-driver-step class as the PQ codebook), with a
    deterministic sign convention (largest-|coeff| entry positive).
    Projection is pure JVM arithmetic — the components become literal
    arrays and each coordinate is one zip_with/aggregate dot product —
    so the export writes with no second Python pass over the corpus.

    Returns ``projected_df`` as (id, x0..x{k-1}); the reference's
    ``cqs index --umap`` ships 2-D coordinates for visualization
    (reference #2067) — PCA is the linear, deterministic, cluster-
    friendly stand-in.
    """
    import numpy as np

    rows = embedding_moments(emb, id_col, vec_col, scale).collect()
    n = d = 0
    for r in rows:
        if r["i"] == -1:
            n = int(r["s"])
        else:
            d = max(d, int(r["i"]) + 1, int(r["j"]) + 1)
    if n == 0:
        raise ValueError("pca_project: empty embedding frame")
    gram = np.zeros((d, d))
    mean = np.zeros(d)
    for r in rows:
        i, j, s = int(r["i"]), int(r["j"]), float(r["s"]) / scale
        if i == -1:
            continue
        if j == -1:
            mean[i] = s / n
        else:
            gram[i, j] = gram[j, i] = s / n
    cov = gram - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps, eigs = [], []
    for idx in order:
        c = vecs[:, idx]
        if c[int(np.argmax(np.abs(c)))] < 0:  # deterministic sign
            c = -c
        comps.append(c)
        eigs.append(float(vals[idx]))

    v = F.col(vec_col).cast("array<double>")
    cols = [F.col(id_col)]
    for ci, c in enumerate(comps):
        lit_c = F.array(*[F.lit(float(x)) for x in c])
        lit_m = F.array(*[F.lit(float(x)) for x in mean])
        centered = F.zip_with(v, lit_m, lambda a, b: a - b)
        cols.append(
            F.aggregate(
                F.zip_with(centered, lit_c, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias(f"x{ci}")
        )
    return emb.select(*cols), comps, eigs
