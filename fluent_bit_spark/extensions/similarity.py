"""Similarity search over an embedding column (array<float>).

- Brute-force cosine top-k: broadcast the (small) query set against the
  corpus; dot products via zip_with/aggregate — JVM-side, no UDF. At 100 TB
  the corpus side streams through executors once per query batch.
- LSH (random hyperplane) buckets: deterministic ±1 hyperplanes derived
  from a seed; candidates = bucket collisions (optionally multi-probe via
  several independent tables), then exact cosine re-rank. This is the scale
  path: the shuffle key is the bucket id, and the expensive exact cosine
  runs on a tiny candidate set.
- IVF: a coarse k-means quantizer (deterministic init, Lloyd iterations
  as DataFrame ops) partitions the corpus into inverted lists; queries
  probe only their nprobe nearest centroids, then exact cosine re-ranks
  the probed lists. The centroid table is the only driver-side state
  (n_centroids × dim floats — model parameters, not data).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import versioned_store


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def _hyperplanes(dim: int, nbits: int, seed: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from sha256(seed, bit, dim) — no RNG
    state, same planes on every executor/run."""
    planes = []
    for b in range(nbits):
        row = []
        for d in range(dim):
            h = hashlib.sha256(f"{seed}:{b}:{d}".encode()).digest()
            row.append(1.0 if h[0] % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def hyperplane_bucket(vec: Column, dim: int = 64, nbits: int = 8, seed: int = 7) -> Column:
    """LSH bucket id: sign bits of the vector against nbits hyperplanes.

    Pure-Column form — fine for a handful of planes (embedding_dedup).
    For many planes × tables use ``hyperplane_buckets_batch``: Catalyst
    higher-order aggregates evaluate per element, so nbits×dim multiplies
    per row get slow well before numpy would."""
    planes = _hyperplanes(dim, nbits, seed)
    bucket = F.lit(0).cast("long")
    for b, plane in enumerate(planes):
        pl = F.array(*[F.lit(x) for x in plane])
        bit = F.when(dot(vec, pl) > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket + bit
    return bucket


def hyperplane_buckets_batch(
    vec: Column, dim: int, nbits: int, tables: int, seed: int = 7
) -> Column:
    """All `tables` bucket ids at once as array<long>, via one
    Arrow-batched numpy matmul (N×dim @ dim×(tables·nbits)) — the
    vectorized path for multi-table LSH. Same deterministic planes as
    hyperplane_bucket(seed + t)."""
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [p for t in range(tables) for p in _hyperplanes(dim, nbits, seed + t)]
    )  # (tables*nbits) x dim
    weights = np.array([1 << b for b in range(nbits)], dtype="int64")

    zero_vec = np.zeros(dim)

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        # NULL or wrong-length embeddings would break np.stack; bucket
        # them as the zero vector (all-sign-negative bucket) rather than
        # failing the batch — the same guard assign_clusters and
        # probe_clusters carry
        m = np.stack([
            zero_vec if e is None or len(e) != dim else np.asarray(e)
            for e in v
        ])  # N x dim
        signs = (m @ planes.T) > 0  # N x (tables*nbits)
        per_table = signs.reshape(len(m), tables, nbits)
        ids = (per_table * weights).sum(axis=2)  # N x tables
        return pd.Series(list(ids))

    return buckets(vec)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact brute-force top-k: (query_id, vec_id, cos, rank)."""
    q = F.broadcast(queries.select(query_id_col, query_vec_col))
    scored = corpus.crossJoin(q).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dim: int = 64,
    nbits: int = 8,
    tables: int = 4,
) -> DataFrame:
    """ANN top-k: multi-table hyperplane LSH bucketing + exact re-rank of
    candidates. `tables` independent hash tables raise recall; candidates
    are deduped before scoring. All table buckets are computed in ONE
    corpus pass (a (table, bucket) struct array exploded per row) — a
    per-table union would rescan the corpus `tables` times."""

    def with_buckets(df, vcol):
        b = hyperplane_buckets_batch(F.col(vcol), dim, nbits, tables, seed=7)
        return df.withColumn("__bs", b).select(
            *df.columns, F.posexplode(F.col("__bs")).alias("tbl", "bkt")
        )

    cb = with_buckets(corpus.select(id_col, vec_col), vec_col)
    qb = F.broadcast(with_buckets(queries.select(query_id_col, query_vec_col), query_vec_col))
    cands = (
        cb.join(qb, ["tbl", "bkt"])
        .select(query_id_col, query_vec_col, id_col, vec_col)
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cands.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic coarse k-means: init = rows with the smallest
    xxhash64(id) (a seedless deterministic sample), then `iters` Lloyd
    steps. Assignment is assign_clusters' map-side Arrow matmul (same
    argmax tie-break as a crossJoin+window formulation, no shuffle, no
    k-times row blowup); the mean step is posexplode ->
    groupBy(cid, pos) -> avg, shuffling only tiny uniform keys. One Spark
    job per iteration."""
    init = (
        corpus.select(vec_col, F.xxhash64(F.col(id_col)).alias("__h"))
        .orderBy("__h")
        .limit(n_centroids)
        .collect()
    )
    cents = [list(r[vec_col]) for r in init]
    if not cents:
        raise ValueError("kmeans_centroids: corpus is empty")
    # a corpus smaller than n_centroids clamps k to the row count —
    # cents[i] past the init would IndexError mid-Lloyd otherwise
    n_centroids = min(n_centroids, len(cents))
    for _ in range(iters):
        assigned = assign_clusters(
            corpus.select(vec_col), cents, vec_col
        )
        means = (
            assigned.select("cid", F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s.getField("m")).alias("cvec"))
            .collect()
        )
        got = {r.cid: list(r.cvec) for r in means}
        cents = [got.get(i, cents[i]) for i in range(n_centroids)]
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    broadcast_probes: bool = True,
) -> DataFrame:
    """IVF ANN top-k: corpus rows live in their nearest centroid's
    inverted list; each query probes its nprobe nearest lists and exact
    cosine re-ranks only those candidates. At scale the corpus pass is
    one broadcast-join + shuffle on cid; the probed fraction is
    nprobe/n_centroids of the data."""
    spark = corpus.sparkSession
    cents = kmeans_centroids(corpus, n_centroids, iters, id_col, vec_col)
    cdf = F.broadcast(
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)], ["cid", "cvec"]
        )
    )
    lists = (
        corpus.crossJoin(cdf)
        .select(id_col, vec_col, "cid", cosine(F.col(vec_col), F.col("cvec")).alias("cos"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(F.col("cos").desc(), F.col("cid"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select(id_col, vec_col, "cid")
    )
    probes = (
        queries.crossJoin(cdf)
        .select(
            query_id_col, query_vec_col, "cid",
            cosine(F.col(query_vec_col), F.col("cvec")).alias("cos"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col("cid"))
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select(query_id_col, query_vec_col, "cid")
    )
    # probes = nprobe rows per query: broadcast for interactive query
    # batches; pass broadcast_probes=False for query sets beyond broadcast
    # size — the join falls back to a shuffle hash join on cid (both sides
    # keyed on the small uniform centroid id), queries never collected.
    cands = lists.join(F.broadcast(probes) if broadcast_probes else probes, "cid")
    scored = cands.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# --------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN for the 100 TB regime
# (Jégou et al. 2011, "Product Quantization for Nearest Neighbor Search").
# 64-dim float32 -> m uint8 codes = 32x smaller scan; the codebook
# (m x ksub x dsub floats) is the only driver-side state.
# --------------------------------------------------------------------------
def _l2_kmeans_subspace(
    sub: pd.DataFrame, ksub: int, iters: int
) -> np.ndarray:
    """Driver-side Lloyd steps on an already-sampled subspace matrix
    (numpy; the sample is bounded, the full corpus never leaves executors)."""
    X = np.stack(sub["v"].to_numpy())
    if len(X) < ksub:
        # a short sample would silently train < ksub codes while the
        # index metadata records the requested ksub — saveable but
        # never loadable ("codebook table is missing entries"). Fail at
        # train time with the fix in the message.
        raise ValueError(
            f"pq_train: sample has {len(X)} vectors but ksub={ksub} — "
            "reduce ksub (or enlarge sample_rows) to at most the corpus "
            "size"
        )
    # deterministic init: rows with smallest xxhash-like key (already sorted)
    cents = X[:ksub].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(ksub):
            mask = assign == c
            if mask.any():
                cents[c] = X[mask].mean(axis=0)
    return cents


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cid",
) -> DataFrame:
    """Nearest-centroid (max-cosine) assignment, map-side only: the
    centroid matrix is model-sized, so this is the pq_encode /
    ml_inference shape — broadcast the (k, dim) numpy matrix and argmax
    the cosines in one Arrow-batched matmul per batch. No crossJoin, no
    window, no shuffle; vectorized C per row instead of k interpreted
    higher-order-function cosines (the literal-expression form also
    re-paid ~1 s of analysis + interpreted-eval overhead on EVERY job
    that embedded it — measured on the cluster_balanced bench). Ties
    break to the smaller centroid id (argmax returns the first maximum;
    same rule as ivf_topk's list assignment); null/empty vectors get
    cosine 0 against every centroid and land in cluster 0."""
    if not centroids:
        raise ValueError("empty centroid list")
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype="float64")  # (k, dim)
    cn = np.sqrt((C * C).sum(axis=1))

    @pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        dim = C.shape[1]
        V = np.stack(
            [
                np.asarray(v, dtype="float64")
                if v is not None and len(v) == dim
                else np.zeros(dim)
                for v in vecs
            ]
        )
        dots = V @ C.T
        vn = np.sqrt((V * V).sum(axis=1))
        denom = vn[:, None] * cn[None, :]
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = np.where(denom > 0, dots / denom, 0.0)
        return pd.Series(cos.argmax(axis=1).astype("int32"))

    return df.withColumn(out_col, nearest(F.col(vec_col)))


def cluster_balanced_sample(
    df: DataFrame,
    cap: int,
    n_clusters: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cid: bool = True,
) -> DataFrame:
    """Diversity-balanced corpus sampling (the SemDeDup / DataComp
    cluster-balancing stage): k-means clusters over the embedding column,
    then at most ``cap`` rows kept per cluster, chosen in deterministic
    hash order of ``id_col`` — a topic-balance pass that stops one dense
    region of embedding space dominating a training mixture.

    Scale shape: centroids are model-sized driver state
    (kmeans_centroids); assignment is a pure projection
    (assign_clusters); the quota pass is cap_per_key's over-cap-only
    ranking — under-cap clusters stream through shuffle-free, and only
    over-cap clusters rank (salted on the id hash, so a giant cluster
    doesn't funnel one task)."""
    from fluent_bit_spark.extensions.mixing import cap_per_key

    if cap < 1:
        raise ValueError("cap must be >= 1")
    cents = kmeans_centroids(df, n_clusters, iters, id_col, vec_col)
    assigned = assign_clusters(df, cents, vec_col).withColumn(
        "__ord", F.xxhash64(F.col(id_col))
    )
    kept = cap_per_key(
        assigned, ["cid"], ["__ord"], cap, salt_cols=[id_col]
    ).drop("__ord")
    return kept if keep_cid else kept.drop("cid")


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 2048,
) -> list:
    """Train per-subspace L2 codebooks on a deterministic bounded sample
    (smallest xxhash64(id) rows — same sample every run/executor). Returns
    an (m, ksub, dsub) nested list. Driver state is the codebook + the
    sample only; at 100 TB `sample` stays a few thousand rows, the
    published PQ training regime."""
    rows = (
        corpus.select(id_col, vec_col, F.xxhash64(F.col(id_col)).alias("__h"))
        .orderBy("__h")
        .limit(sample)
        .toPandas()
    )
    vecs = np.stack(rows[vec_col].apply(lambda v: np.asarray(v, dtype="float64")))
    dim = vecs.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    books = []
    for s in range(m):
        sub = pd.DataFrame({"v": list(vecs[:, s * dsub : (s + 1) * dsub])})
        books.append(_l2_kmeans_subspace(sub, ksub, iters).tolist())
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes: array<int>) — per-subspace argmin against the broadcast
    codebook, one Arrow/numpy pass per batch. Map-side only; no shuffle."""
    from pyspark.sql.functions import pandas_udf

    cb = np.asarray(codebooks, dtype="float64")  # (m, ksub, dsub)
    m, ksub, dsub = cb.shape

    @pandas_udf("array<int>")
    def enc(vs: pd.Series) -> pd.Series:
        out = []
        for v in vs:
            if v is None:
                out.append(None)
                continue
            x = np.asarray(v, dtype="float64").reshape(m, dsub)
            # (m, ksub) distances, argmin per subspace
            d = ((x[:, None, :] - cb) ** 2).sum(axis=2)
            out.append(d.argmin(axis=1).astype("int32"))
        return pd.Series(out)

    return corpus.select(F.col(id_col), enc(F.col(vec_col)).alias("codes"))


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_driver_queries: int = 10_000,
) -> DataFrame:
    """ADC top-k: per query build the (m, ksub) distance table once, then
    score every code row as a table-lookup sum (asymmetric distance
    computation). The scan touches only the uint8 codes — the compressed
    dataset — and the per-query table is a closure broadcast. Output
    (query_id, vec_id, adist, rank) ascending distance.

    Scale: one pass over codes per query batch, top-k via per-query
    window on the scored (tiny) output. This path COLLECTS the query set
    to the driver (right for interactive query batches); beyond
    ``max_driver_queries`` rows it refuses — use :func:`pq_topk_join`,
    which keeps query vectors on executors."""
    from pyspark.sql.functions import pandas_udf

    cb = np.asarray(codebooks, dtype="float64")
    m, ksub, dsub = cb.shape
    qrows = queries.select(query_id_col, query_vec_col).limit(max_driver_queries + 1).collect()
    if len(qrows) > max_driver_queries:
        raise ValueError(
            f"pq_topk collects the query set to the driver; got more than "
            f"{max_driver_queries} query rows. Use pq_topk_join() for "
            "driver-size-exceeding query sets."
        )
    qids = [r[query_id_col] for r in qrows]
    qmat = np.stack([np.asarray(r[query_vec_col], dtype="float64") for r in qrows])
    # (nq, m, ksub) lookup tables
    tables = ((qmat.reshape(len(qids), m, 1, dsub) - cb[None]) ** 2).sum(axis=3)

    @pandas_udf("array<double>")
    def adist(codes_s: pd.Series) -> pd.Series:
        out = []
        idx = np.arange(m)
        for c in codes_s:
            if c is None:
                out.append(None)
                continue
            code = np.asarray(c, dtype="int64")
            out.append(tables[:, idx, code].sum(axis=1))
        return pd.Series(out)

    scored = codes.select(
        F.col(id_col), F.posexplode(adist(F.col("codes"))).alias("qi", "adist")
    )
    qmap = F.array(*[F.lit(q) for q in qids])
    scored = scored.select(
        F.element_at(qmap, F.col("qi") + 1).alias(query_id_col),
        id_col,
        "adist",
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("adist").asc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pq_adc_tables(
    queries: DataFrame,
    codebooks: list,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """(query_id, qtable: array<double> of length m*ksub) — each query's
    flattened ADC lookup table, computed ON EXECUTORS (one Arrow/numpy
    batch pass; only the model-sized codebook ships in the closure). The
    building block that lets PQ scoring scale past driver-sized query
    sets."""
    from pyspark.sql.functions import pandas_udf

    cb = np.asarray(codebooks, dtype="float64")  # (m, ksub, dsub)
    m, ksub, dsub = cb.shape

    @pandas_udf("array<double>")
    def tab(vs: pd.Series) -> pd.Series:
        out = []
        for v in vs:
            if v is None:
                out.append(None)
                continue
            x = np.asarray(v, dtype="float64").reshape(m, 1, dsub)
            out.append(((x - cb) ** 2).sum(axis=2).ravel())
        return pd.Series(out)

    return queries.select(
        F.col(query_id_col), tab(F.col(query_vec_col)).alias("qtable")
    )


def pq_topk_join(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: list,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    target_chunk_bytes: int = 64 << 20,
    num_chunks: int | None = None,
) -> DataFrame:
    """Distributed ADC top-k for query sets beyond driver size: query
    vectors never reach the driver. Queries map to per-row ADC tables on
    executors (:func:`pq_adc_tables`), then score against the code scan
    via CHUNKED BROADCAST joins — the query set is hash-split into chunks
    sized to ``target_chunk_bytes`` of table data, each chunk broadcast
    against the codes (BroadcastNestedLoopJoin, never a shuffle
    CartesianProduct), scored JVM-side (per-subspace table lookups via
    get() + aggregate — no Python in the scoring hot path), and reduced
    to per-query top-k WITHIN its chunk (chunks partition queries, so the
    per-chunk top-k is final; the union never re-shuffles scored rows).

    The driver holds only chunk count + codebook; each chunk rescans the
    compressed codes — the unavoidable cost of brute ADC, 32x cheaper
    than rescanning raw vectors. Same output contract as pq_topk.
    """
    cb = np.asarray(codebooks, dtype="float64")
    m, ksub, _ = cb.shape
    # materialize the ADC tables ONCE: each per-chunk filter below is an
    # independent plan subtree, so without this every chunk would re-run
    # the pandas-UDF table computation over ALL queries and discard
    # (N-1)/N of it. localCheckpoint (not persist) so the blocks are
    # auto-unpersisted when the RDD is garbage-collected — no session-
    # lifetime cacheManager entry per call.
    qtab = pq_adc_tables(
        queries, codebooks, query_id_col, query_vec_col
    ).localCheckpoint(eager=True)
    if num_chunks is None:
        nq = qtab.count()  # cheap: counts the materialized blocks
        bytes_per_row = m * ksub * 8
        num_chunks = max(1, math.ceil(nq * bytes_per_row / target_chunk_bytes))
    qtab = qtab.withColumn(
        "__chunk", F.pmod(F.xxhash64(F.col(query_id_col)), F.lit(num_chunks))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("adist").asc(), F.col(id_col))
    # per-pair distance: sum over subspaces s of qtable[s*ksub + codes[s]]
    adist = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, s: F.get(F.col("qtable"), s * ksub + c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    parts = []
    for i in range(num_chunks):
        chunk = F.broadcast(qtab.filter(F.col("__chunk") == i).drop("__chunk"))
        scored = codes.crossJoin(chunk).select(
            F.col(query_id_col), F.col(id_col), adist.alias("adist")
        )
        parts.append(
            scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# Persisted ANN indexes: the build-once/serve-many split for vector
# retrieval (mirrors retrieval.bm25_index_save — fluent-bit separates
# config-time parser compilation from per-record execution the same way,
# src/flb_parser.c:1784). A builder job trains/encodes ONCE and persists to
# parquet; any number of later serving jobs reload and query without a
# k-means iteration, an encode pass, or a corpus scan.
# --------------------------------------------------------------------------
def probe_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "query_vec",
    nprobe: int = 4,
    out_col: str = "cids",
) -> DataFrame:
    """``nprobe`` nearest centroid ids per row as ``array<int>``, ordered
    by cosine desc with ties to the smaller centroid id — exactly
    ivf_topk's probe ranking, computed as one Arrow-batched matmul
    against the broadcast centroid matrix instead of a crossJoin +
    window (map-side only, no shuffle, no k-times row blowup)."""
    if not centroids:
        raise ValueError("empty centroid list")
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype="float64")
    cn = np.sqrt((C * C).sum(axis=1))
    npb = min(nprobe, len(centroids))

    @pandas_udf("array<int>")
    def probes(vecs: pd.Series) -> pd.Series:
        dim = C.shape[1]
        V = np.stack(
            [
                np.asarray(v, dtype="float64")
                if v is not None and len(v) == dim
                else np.zeros(dim)
                for v in vecs
            ]
        )
        dots = V @ C.T
        vn = np.sqrt((V * V).sum(axis=1))
        denom = vn[:, None] * cn[None, :]
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = np.where(denom > 0, dots / denom, 0.0)
        # stable argsort on -cos: equal cosines keep ascending-cid order
        order = np.argsort(-cos, axis=1, kind="stable")[:, :npb]
        return pd.Series(list(order.astype("int32")))

    return df.withColumn(out_col, probes(F.col(vec_col)))


def ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Build an IVF index: coarse k-means centroids (model-sized driver
    state) plus the inverted lists (id, vec, cid) materialized once.
    Consumed by ivf_topk_indexed / ivf_index_save. The assignment is
    assign_clusters' map-side Arrow matmul — same argmax tie-break as
    ivf_topk's in-call crossJoin+window form."""
    cents = kmeans_centroids(corpus, n_centroids, iters, id_col, vec_col)
    lists = assign_clusters(
        corpus.select(id_col, vec_col), cents, vec_col
    ).localCheckpoint(eager=True)
    return {
        "centroids": [[float(x) for x in c] for c in cents],
        "lists": lists,
        "n_centroids": n_centroids,
        "id_col": id_col,
        "vec_col": vec_col,
    }


def ivf_topk_indexed(
    index: dict,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    broadcast_probes: bool = True,
) -> DataFrame:
    """IVF serve path against a prebuilt ivf_index: probe assignment is a
    map-side matmul over the model-sized centroid matrix (no k-means
    jobs), candidates come from joining probes to the persisted inverted
    lists on cid, exact cosine re-ranks only the probed lists. On a
    saved index (ivf_index_save partitions the lists by cid) the
    broadcast probe join drives dynamic partition pruning, so the scan
    reads ~nprobe/n_centroids of the data — the serving cost a capacity
    planner budgets. Output contract matches ivf_topk."""
    id_col, vec_col = index["id_col"], index["vec_col"]
    probes = (
        probe_clusters(
            queries.select(query_id_col, query_vec_col),
            index["centroids"],
            query_vec_col,
            nprobe,
        )
        .select(query_id_col, query_vec_col, F.explode("cids").alias("cid"))
    )
    cands = index["lists"].join(
        F.broadcast(probes) if broadcast_probes else probes, "cid"
    )
    scored = cands.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_index_save(index: dict, path: str) -> None:
    """Persist an ivf_index as three parquet tables: ``lists``
    (PARTITIONED BY cid — a probe of p lists touches p directories, so
    serving I/O scales with nprobe, not corpus size), ``centroids``, and
    a one-row ``meta``. The tables become the next version of the store
    at ``path`` and every other copy is retired
    (versioned_store.save_tables), so a crash mid-save leaves the
    previous index live. All-parquet, so the layout works on any Hadoop
    filesystem; doubles roundtrip exactly, making a reloaded serve
    hash-equal to serving from the in-memory build."""
    spark = index["lists"].sparkSession
    centroids = spark.createDataFrame(
        list(enumerate(index["centroids"])), _IVF_CENTROIDS_SCHEMA
    ).repartition(1)
    versioned_store.save_tables(
        path,
        # one writer per list: no small-file fanout
        {"lists": index["lists"].repartition("cid"), "centroids": centroids},
        index, _IVF_META_SCHEMA, partition_by={"lists": "cid"},
    )


_IVF_CENTROIDS_SCHEMA = "cid int, cvec array<double>"
_IVF_META_SCHEMA = (
    "n_centroids int, id_col string, vec_col string, lists_schema string"
)
_IVF_TABLES = {"lists": None, "centroids": _IVF_CENTROIDS_SCHEMA}


def ivf_index_load(spark, path: str) -> dict:
    """Reload an ivf_index_save'd index from the live version. ``lists``
    is a plain cid-partitioned parquet scan (pruned at serve time);
    centroids are model-sized driver state, collected once. No k-means,
    no corpus scan — drop-in wherever ivf_topk_indexed takes an index.
    Every table reads with a known schema, so a load costs collects
    only — no parquet footer inference jobs on the serving path."""
    meta, t = versioned_store.read_tables(
        spark, path, _IVF_META_SCHEMA, _IVF_TABLES
    )
    crows = t["centroids"].orderBy("cid").collect()
    return {
        "centroids": [list(r["cvec"]) for r in crows],
        "lists": t["lists"],
        "n_centroids": meta["n_centroids"],
        "id_col": meta["id_col"],
        "vec_col": meta["vec_col"],
    }


def pq_index(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 2048,
) -> dict:
    """Build a PQ index: per-subspace codebooks (model-sized) plus the
    encoded corpus (id, codes) materialized once. Consumed by
    pq_topk_indexed / pq_index_save."""
    books = pq_train(corpus, m, ksub, iters, id_col, vec_col, sample)
    codes = pq_encode(corpus, books, id_col, vec_col).localCheckpoint(eager=True)
    return {
        "codebooks": books,
        "codes": codes,
        "m": m,
        "ksub": ksub,
        "id_col": id_col,
        "vec_col": vec_col,
    }


def pq_topk_indexed(
    index: dict,
    queries: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    distributed: bool = False,
    **kwargs,
) -> DataFrame:
    """PQ serve path against a prebuilt pq_index: the ADC scan touches
    only the persisted uint8-class codes — no training sample, no encode
    pass, no raw-vector scan. ``distributed=True`` routes through
    pq_topk_join (executor-side query tables, chunked broadcast) for
    query sets beyond driver size."""
    fn = pq_topk_join if distributed else pq_topk
    return fn(
        index["codes"],
        queries,
        index["codebooks"],
        k=k,
        id_col=index["id_col"],
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        **kwargs,
    )


def pq_index_save(index: dict, path: str) -> None:
    """Persist a pq_index as three parquet tables: ``codes`` (the
    compressed corpus — the only data-sized artifact, 32x smaller than
    raw vectors), ``codebooks`` (one row per (sub, code) centroid), and
    a one-row ``meta``, committed and retired like ivf_index_save."""
    spark = index["codes"].sparkSession
    cb = index["codebooks"]
    codebooks = spark.createDataFrame(
        [
            (s, c, [float(x) for x in cb[s][c]])
            for s in range(len(cb))
            for c in range(len(cb[s]))
        ],
        _PQ_CODEBOOKS_SCHEMA,
    ).repartition(1)
    versioned_store.save_tables(
        path, {"codes": index["codes"], "codebooks": codebooks},
        {"vec_col": "embedding", **index}, _PQ_META_SCHEMA,
    )


_PQ_CODEBOOKS_SCHEMA = "sub int, code int, cvec array<double>"
_PQ_META_SCHEMA = (
    "m int, ksub int, id_col string, vec_col string, codes_schema string"
)
_PQ_TABLES = {"codes": None, "codebooks": _PQ_CODEBOOKS_SCHEMA}


def pq_index_load(spark, path: str) -> dict:
    """Reload a pq_index_save'd index from the live version: codes stay
    a parquet scan, the codebook (model-sized) is collected once into
    the nested-list form pq_topk expects. No training, no encoding — and
    every table reads with a known schema, so a load costs collects
    only (no parquet footer inference jobs)."""
    meta, t = versioned_store.read_tables(spark, path, _PQ_META_SCHEMA, _PQ_TABLES)
    m, ksub = meta["m"], meta["ksub"]
    books: list = [[None] * ksub for _ in range(m)]
    for r in t["codebooks"].collect():
        books[r["sub"]][r["code"]] = list(r["cvec"])
    if any(c is None for b in books for c in b):
        raise ValueError(f"codebook table at {path!r} is missing entries")
    return {
        "codebooks": books,
        "codes": t["codes"],
        "m": m,
        "ksub": ksub,
        "id_col": meta["id_col"],
        "vec_col": meta["vec_col"],
    }


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 255,
) -> DataFrame:
    """Scalar (per-dimension min/max) int8 quantization of an embedding
    column — the storage-side counterpart of PQ: 4x smaller vectors with
    a per-dimension affine dequant ``v ~ lo + code * (hi - lo) / levels``.

    Scale shape: the stats pass is one posexplode + groupBy on the
    dimension index (key cardinality = dim, a model-sized aggregate with
    full map-side partial aggregation); the stats land on the driver as
    model parameters (one row per dimension — same policy as the IVF
    centroid table) and ship back as literal arrays, so the quantize pass
    rebuilds the code array JVM-side with transform() — no Python in
    either pass, one corpus scan each.

    Returns (id_col, codes array<int>, plus per-vector code_sum/code_min/
    code_max for cheap integrity checks).
    """
    dims = df.select(
        id_col, F.posexplode(F.col(vec_col)).alias("dim", "val")
    )
    stats = dims.groupBy("dim").agg(
        F.min("val").alias("lo"), F.max("val").alias("hi")
    )
    # dim-indexed arrays of lo/scale, broadcast-joined as literals-by-array
    stats_df = (
        stats.withColumn(
            "scale",
            F.when(F.col("hi") > F.col("lo"),
                   (F.col("hi") - F.col("lo")) / F.lit(float(levels)))
            .otherwise(F.lit(1.0)),
        )
        .orderBy("dim")
    )
    rows = stats_df.collect()  # model-sized: one row per dimension
    lo_arr = F.array(*[F.lit(float(r["lo"])) for r in rows])
    sc_arr = F.array(*[F.lit(float(r["scale"])) for r in rows])

    codes = F.transform(
        F.col(vec_col),
        lambda v, i: F.round(
            (v - F.element_at(lo_arr, i + 1)) / F.element_at(sc_arr, i + 1)
        ).cast("int"),
    )
    out = df.select(id_col, codes.alias("codes"))
    return out.select(
        id_col,
        "codes",
        F.aggregate("codes", F.lit(0).cast("bigint"), lambda a, v: a + v).alias("code_sum"),
        F.array_min("codes").alias("code_min"),
        F.array_max("codes").alias("code_max"),
    )


def _fresh_vectors(idx: dict, table: str, path: str, new_vectors: DataFrame):
    """``new_vectors``' (id, vec) columns, after checking that the index
    at ``path`` has those columns and none of their ids in ``table``."""
    id_col, vec_col = idx["id_col"], idx["vec_col"]
    missing = [c for c in (id_col, vec_col) if c not in new_vectors.columns]
    if missing:
        raise ValueError(
            f"new_vectors lacks the index's columns {missing} "
            f"(index at {path!r} uses id_col={id_col!r}, vec_col={vec_col!r})"
        )
    new = new_vectors.select(id_col, vec_col)
    # existence probe: only the index's id column is scanned
    if idx[table].select(id_col).join(
        F.broadcast(new.select(id_col)), id_col
    ).limit(1).count():
        raise ValueError(
            "new_vectors reuse ids already in the index; each would serve "
            "as two corpus entries — dedupe or re-id before appending"
        )
    return new


def ivf_index_append(spark, path: str, new_vectors: DataFrame) -> int:
    """Append vectors to a PERSISTED IVF index without re-clustering —
    the append-often half of build-once/serve-many: new vectors assign
    to the EXISTING centroids (assign_clusters' map-side matmul, no
    k-means jobs) and land in the live version's cid-partitioned
    ``lists`` directories via a plain partitioned append
    (versioned_store.append), so serving picks them up on its next
    parquet scan with no coordination, and the append stays O(batch).
    Column names come from the index's own meta; ids already in the
    index are refused before anything is written. Returns the appended
    row count.

    The trade is the standard one for online vector serving: centroids
    drift from the true k-means of the grown corpus, degrading probe
    recall gradually — rebuild on a schedule (or when list-size skew
    from skew_profile on cid crosses a threshold), exactly like the
    BM25 index whose idf table also staled from the moment it was
    built."""
    idx = ivf_index_load(spark, path)
    new = _fresh_vectors(idx, "lists", path, new_vectors)
    # pin before count+write: the assignment matmul must run once, not
    # once per action — and the returned count must be the rows written
    assigned = assign_clusters(
        new, idx["centroids"], idx["vec_col"]
    ).localCheckpoint(eager=True)
    n = assigned.count()
    versioned_store.append(
        assigned.repartition("cid"), path, "lists", partition_by="cid"
    )
    return n


def pq_index_append(spark, path: str, new_vectors: DataFrame) -> int:
    """Append vectors to a PERSISTED PQ index without retraining —
    ivf_index_append's compressed-codes sibling: new vectors encode
    against the EXISTING codebooks (pq_encode's per-subspace nearest-
    centroid pass, no k-means jobs) and their code rows append to the
    live version's ``codes`` table, so the next pq_topk_indexed ADC scan
    sees them with no coordination. Column names come from the index's
    own meta; ids already in the index are refused before anything is
    written (duplicate ids would serve as two corpus entries). Returns
    the appended row count.

    Same trade as IVF: codebooks trained on the original corpus drift
    from the union's optimum, degrading quantization error gradually —
    but the served result is EXACTLY what an index built from these
    codebooks over the union corpus serves (tested), because ADC
    distances depend only on (codebooks, codes)."""
    idx = pq_index_load(spark, path)
    new = _fresh_vectors(idx, "codes", path, new_vectors)
    # pin before count+write (see ivf_index_append)
    codes = pq_encode(
        new, idx["codebooks"], idx["id_col"], idx["vec_col"]
    ).localCheckpoint(eager=True)
    n = codes.count()
    versioned_store.append(codes, path, "codes")
    return n
