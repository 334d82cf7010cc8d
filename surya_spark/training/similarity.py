"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k is the correctness baseline; the IVF variant
(centroid bucketing) is the scale path — it turns the O(Q·N) cross join
into an equi-join on cluster id, which is how ANN survives 10^12 rows.
Dot products are column expressions — explicit element_at sums when the
dimension is known (whole-stage codegen), higher-order fold otherwise.
No Python in the hot path either way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans import caching


def dot(a: str, b: str, dim: int | None = None) -> Column:
    """Dot product of two array columns, named. With `dim` given, expands
    to an explicit left-associated sum of element_at terms built as one
    SQL string — stays inside whole-stage codegen and runs ~10× faster
    than the higher-order aggregate/zip_with fold, which Spark evaluates
    interpreted (identical float semantics, same addition order), and
    costs one F.expr instead of a 64-term Column tree composed through
    py4j (CLAUDE.md round-2 note). Without dim, falls back to the fold
    (any-length arrays)."""
    if dim is not None:
        terms = " + ".join(
            f"CAST(element_at({a}, {i}) AS DOUBLE)"
            f" * CAST(element_at({b}, {i}) AS DOUBLE)"
            for i in range(1, dim + 1))
        return F.expr(f"({terms})")
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: str, dim: int | None = None) -> Column:
    """Euclidean norm of a named array column: sqrt(dot(a, a, dim))."""
    return F.sqrt(dot(a, a, dim))


def with_norm(df: DataFrame, vec_col: str, out_col: str,
              dim: int | None = None) -> DataFrame:
    """Materialize the vector norm as a column BEFORE any pairwise join:
    n norms instead of n² recomputations, and it keeps the per-pair
    expression (just the dot product) under the JVM's 64 KB codegen method
    limit — the fused 3-reduction cosine expression falls back to
    interpreted evaluation."""
    return df.withColumn(out_col, norm(vec_col, dim))


def knn_bruteforce(vectors: DataFrame, queries: DataFrame, k: int = 5,
                   dim: int | None = None) -> DataFrame:
    """Exact top-k neighbors per query by cosine: (vec_id, embedding)
    vectors against (query_id, embedding) queries. CONTRACT: queries MUST
    be small (it is driver-broadcast — the deliberate exception to the
    no-data-derived-broadcast rule, valid only because the query set is
    bounded by the caller, e.g. a pushed filter); anyone re-wiring this
    with a corpus-derived query side reintroduces the serial
    driver-collect the rule exists to prevent — use knn_ivf instead.
    The 'cross join' is then a map-side nested loop with no shuffle of
    the big side; ranking is one window per query id."""
    from ..plans import partitioning

    q = with_norm(
        queries.select(F.col("query_id"), F.col("embedding").alias("q_vec")),
        "q_vec", "q_n", dim)
    # r7: the map-side nested loop evaluates |Q| dot expressions per
    # vector row — on a single-row-group embeddings file that ran on 2 of
    # 32 cores (5.9 s at sf1.0); spread first (no-op on real partitioned
    # inputs)
    v = with_norm(
        partitioning.spread_small_input(vectors).select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("v_vec")),
        "v_vec", "v_n", dim)
    d = F.col("q_n") * F.col("v_n")
    cos = F.when(d > 0, dot("q_vec", "v_vec", dim) / d) \
        .otherwise(F.lit(0.0))
    scored = v.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(cos, 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def assign_clusters(vectors: DataFrame, centroids: DataFrame,
                    dim: int | None = None,
                    nprobe: int = 1) -> DataFrame:
    """IVF coarse quantization: the nprobe nearest (centroid_id, embedding)
    centroids per (vec_id, embedding) vector
    (centroids broadcast; ranking via window over the small per-vector
    candidate set). Output carries (cluster, probe_rank, c_cos) — rank 1
    is the primary assignment used to index a vector; ranks 2..nprobe are
    the extra probes a *query* visits (standard IVF nprobe recall lever)."""
    from ..plans import partitioning

    c = with_norm(
        centroids.select(F.col("centroid_id"),
                         F.col("embedding").alias("c_vec")),
        "c_vec", "c_n", dim)
    # r7: spread on the vector id BEFORE the per-vector×centroid dot
    # expressions (single-row-group scans are one task); the probe_rank
    # window partitions by the same id and reuses this exchange
    vv = with_norm(
        partitioning.spread_small_input(vectors, "vec_id")
        .select("vec_id", "embedding"), "embedding", "v_n", dim)
    d = F.col("v_n") * F.col("c_n")
    cos = F.when(d > 0, dot("embedding", "c_vec", dim) / d) \
        .otherwise(F.lit(0.0))
    scored = vv.crossJoin(F.broadcast(c)).select(
        "vec_id", "embedding", "centroid_id",
        F.round(cos, 6).alias("c_cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("c_cos").desc(), F.col("centroid_id")
    )
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= nprobe)
        .select("vec_id", "embedding", F.col("centroid_id").alias("cluster"),
                "probe_rank", "c_cos")
    )


def knn_ivf(vectors: DataFrame, centroids: DataFrame, k: int = 3,
            dim: int | None = None, nprobe: int = 1,
            cluster_cap: int | None = None) -> DataFrame:
    """Approximate top-k neighbors for every vector: assign clusters, then
    join queries' probed clusters against the primary-cluster index. The
    pairwise work is bounded per bucket — the LSH/IVF analogue for
    embeddings.

    nprobe > 1 is the recall lever: queries visit their nprobe nearest
    centroids while every vector is indexed only under its primary cluster
    (no index duplication). cluster_cap is the hot-cluster skew guard: an
    unbalanced quantizer can put m vectors in one cluster and make the
    self-join m² on that key; with a cap, each cluster's INDEX side keeps
    only the cap vectors closest to the centroid (documented recall trade;
    per-cluster pair work becomes |queries∩cluster| × cap)."""
    # one scored pass serves both sides (index = probe_rank 1, queries =
    # all probes); without persist Spark re-executes the assignment per
    # branch (different projections → no exchange reuse) — measured 2×.
    # The cache is released by the first action on the returned top-k
    # (persist-lifecycle ownership, plans/caching.py).
    probes = caching.managed(
        assign_clusters(vectors, centroids, dim=dim, nprobe=nprobe))
    index = probes.filter(F.col("probe_rank") == 1)
    if cluster_cap is not None:
        w_cap = Window.partitionBy("cluster").orderBy(
            F.col("c_cos").desc(), F.col("vec_id"))
        index = (
            index.withColumn("_cr", F.row_number().over(w_cap))
            .filter(F.col("_cr") <= cluster_cap).drop("_cr")
        )
    scored = _cluster_topk_kernel(probes, index, k)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return caching.own_session(
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _cluster_score_sql(probes, index, dim):
    """Pre-r7 pairwise scoring: cluster equi-join + per-pair codegen dot.
    Test-only: the oracle the kernel is pytest-pinned against.
    Quadratic-per-cluster through ROW-AT-A-TIME expressions — at sf1.0
    (20k vectors, 8 clusters, nprobe 2) the driver measured 305 s."""
    withn_q = with_norm(probes, "embedding", "_n", dim)
    withn_i = with_norm(index, "embedding", "_n", dim)
    a = withn_q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("_n").alias("q_n"),
        "cluster",
    )
    b = withn_i.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("v_vec"),
        F.col("_n").alias("v_n"),
        "cluster",
    )
    d = F.col("q_n") * F.col("v_n")
    cos = F.when(d > 0, dot("q_vec", "v_vec", dim) / d) \
        .otherwise(F.lit(0.0))
    return a.join(b, "cluster").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id", "neighbor_id",
        F.round(cos, 6).alias("cosine"),
    )


# _cluster_topk_kernel salts each cluster's queries into IVF_CHUNKS
# groups, and bounds its accumulator matrix at Q_BLOCK_ELEMS elements
IVF_CHUNKS = 16
Q_BLOCK_ELEMS = 4_000_000


def _cluster_topk_kernel(probes, index, k):
    """Per-cluster top-k scoring as a COGROUP numpy kernel (r7): the same
    per-cluster pairwise cosines as _cluster_score_sql, evaluated as
    vectorized array ops instead of per-row codegen expressions.

    Bit-exactness: the SQL dot/norm are LEFT-ASSOCIATED double sums over
    elements 1..dim; the kernel accumulates one outer-product slice per
    element in the same order (acc = (…(q₁v₁ + q₂v₂) + …) elementwise),
    so every dot, norm, product and quotient is the identical IEEE-754
    operation sequence — same doubles out, pytest-pinned against the SQL
    path for both its expanded (dim given) and folded (dim=None, which
    starts from 0.0 + q₁v₁ = q₁v₁) forms. The vector length is read from
    the arrays, so the kernel serves every dim.

    Per-(query,cluster) the kernel emits only a top-k candidate SUPERSET:
    rows with raw cosine ≥ (k-th largest raw cosine) − 2e-6. The final
    ranking happens downstream in SQL on round(cosine,6) with the
    neighbor-id tie-break; a candidate outside the margin cannot enter
    the global top-k because any x, y with x − y > 1e-6 satisfy
    round6(x) > round6(y), so ≥ k candidates strictly precede it in its
    own cluster regardless of id ties. Queries are salted into IVF_CHUNKS
    groups per cluster (index side replicated per chunk) so 8 clusters
    still fill 32 cores; Q_BLOCK_ELEMS bounds the accumulator matrix."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # distinct key names per side: both frames share the `probes` lineage
    # (index is a filter of it), and cogroup key resolution is ambiguous
    # on self-derived column references
    qside = probes.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec"),
        F.col("cluster").alias("q_cl"),
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(IVF_CHUNKS)).alias("q_ck"),
    )
    iside = index.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("vec"),
        F.col("cluster").alias("i_cl"),
    ).withColumn(
        # bigint to MATCH q_ck's type: cogroup aligns groups by key VALUE
        # AND TYPE — int literals against pmod's bigint silently produce
        # disjoint group sets (measured: 64% of queries lost)
        "i_ck",
        F.explode(F.array(*[F.lit(i).cast("bigint")
                            for i in range(IVF_CHUNKS)])),
    )

    id_type = probes.schema["vec_id"].dataType
    out_schema = T.StructType([
        T.StructField("query_id", id_type, False),
        T.StructField("neighbor_id", id_type, False),
        T.StructField("cosine_raw", T.DoubleType(), False),
    ])

    def _norms(M: "np.ndarray") -> "np.ndarray":
        acc = M[:, 0] * M[:, 0]
        for d in range(1, M.shape[1]):
            acc = acc + M[:, d] * M[:, d]
        return np.sqrt(acc)

    def topk(qdf: pd.DataFrame, idf: pd.DataFrame) -> pd.DataFrame:
        cols = ["query_id", "neighbor_id", "cosine_raw"]
        if not len(qdf) or not len(idf):
            return pd.DataFrame(columns=cols)
        Q = np.stack(qdf["vec"].to_numpy()).astype(np.float64)
        I = np.stack(idf["vec"].to_numpy()).astype(np.float64)
        qid = qdf["qid"].to_numpy()
        nid = idf["nid"].to_numpy()
        qn = _norms(Q)
        inn = _norms(I)
        ni = len(idf)
        step = max(1, Q_BLOCK_ELEMS // max(ni, 1))
        frames = []
        for s in range(0, len(qdf), step):
            e = min(len(qdf), s + step)
            acc = np.multiply.outer(Q[s:e, 0], I[:, 0])
            for d in range(1, Q.shape[1]):
                acc += np.multiply.outer(Q[s:e, d], I[:, d])
            denom = np.multiply.outer(qn[s:e], inn)
            cos = np.divide(acc, denom, out=np.zeros_like(acc),
                            where=denom > 0)
            self_mask = qid[s:e, None] == nid[None, :]
            sortable = np.where(self_mask, -np.inf, cos)
            if ni > k:
                kth = np.partition(sortable, ni - k, axis=1)[:, ni - k]
                keep = sortable >= (kth - 2e-6)[:, None]
            else:
                keep = ~self_mask
            r, c = np.nonzero(keep)
            frames.append(pd.DataFrame({
                "query_id": qid[s:e][r], "neighbor_id": nid[c],
                "cosine_raw": cos[r, c],
            }))
        return pd.concat(frames, ignore_index=True) if frames else \
            pd.DataFrame(columns=cols)

    cand = (
        qside.groupBy("q_cl", "q_ck")
        .cogroup(iside.groupBy("i_cl", "i_ck"))
        .applyInPandas(topk, schema=out_schema)
    )
    return cand.select(
        "query_id", "neighbor_id",
        F.round(F.col("cosine_raw"), 6).alias("cosine"),
    )


# k-means seed of train_centroids
KMEANS_SEED = 42


def train_centroids(vectors: DataFrame, k: int = 8,
                    max_iter: int = 10) -> DataFrame:
    """IVF coarse quantizer training: k-means|| over the embedding column
    (distributed MLlib implementation — the scale path for building the
    index, not just probing it). Returns (centroid_id, embedding) in the
    same shape assign_clusters/knn_ivf consume."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = vectors.select(
        F.col("vec_id"),
        array_to_vector(F.col("embedding").cast("array<double>"))
        .alias("features"),
    )
    model = KMeans(k=k, seed=KMEANS_SEED, maxIter=max_iter).fit(feat)
    centers = model.clusterCenters()
    sdf = vectors.sparkSession.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centers)],
        "centroid_id int, embedding array<float>",
    )
    return sdf


def cosine_near_dup(vectors: DataFrame, threshold: float = 0.95,
                    block_col: str | None = None,
                    dim: int | None = None,
                    allow_cross_join: bool = False) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold. With a block
    column (e.g. coarse cluster or label) the join is equi-keyed; without
    one the only possible plan is an O(n²) cross join, which silently
    melting down at corpus scale is worse than an error — so blockless
    calls RAISE unless allow_cross_join=True (small fixtures, tests).
    For label-free near-dup at scale use embedding_lsh_pairs, which
    replaces the block column with sign-bit LSH bucketing."""
    if block_col is None and not allow_cross_join:
        raise ValueError(
            "cosine_near_dup without block_col is an O(n^2) cross join; "
            "pass allow_cross_join=True for small inputs, or use "
            "embedding_lsh_pairs for label-free near-dup at scale")
    withn = with_norm(vectors, "embedding", "_n", dim)
    a = withn.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a"),
        F.col("_n").alias("n_a"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    )
    b = withn.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"),
        F.col("_n").alias("n_b"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    )
    if block_col:
        pairs = a.join(b, "blk").filter(F.col("id_a") < F.col("id_b"))
    else:
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    d = F.col("n_a") * F.col("n_b")
    cos = F.when(d > 0, dot("vec_a", "vec_b", dim) / d) \
        .otherwise(F.lit(0.0))
    return pairs.select(
        "id_a", "id_b",
        F.round(cos, 6).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)


# seed of the random-hyperplane draws, shared with the DuckDB oracle
PLANE_SEED = 20240816
# embedding_lsh_pairs splits its sign bits into this many LSH bands
LSH_BANDS = 4


def random_hyperplanes(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic random-hyperplane coefficients (small integers in
    [-3, 3]): float32 embedding × small int products are EXACT in double,
    so the sign bits — the only thing that matters — are bit-reproducible
    by the DuckDB oracle summing in the same element order."""
    import random

    rng = random.Random(PLANE_SEED)
    return [[rng.randint(-3, 3) for _ in range(dim)]
            for _ in range(n_planes)]


def embedding_lsh_pairs(vectors: DataFrame, threshold: float = 0.8,
                        n_planes: int = 32, dim: int = 64) -> DataFrame:
    """Label-free cosine near-dup at scale: random-hyperplane LSH
    (sign-bit SimHash over embeddings) replaces cosine_near_dup's
    block_col requirement — bucket = a band of sign bits, candidates =
    equi-join on (band, bucket), verified with exact cosine ≥ threshold.
    Two vectors at angle θ agree on one plane with prob 1−θ/π; a 4-bit
    b-bit band matches with that to the b-th power; bands multiply the
    chances. Band WIDTH is the blocking/recall dial: the 8-bit default
    gives 256 buckets per band (bounded candidate fan-out — 4-bit bands
    collapse 15k vectors into 16 buckets and go near-quadratic, measured
    12.1 s → 2.8 s at sf0.1 when widened); more/narrower bands buy recall
    at candidate cost. The shuffle key is the bucket. No cross join
    anywhere."""
    from ..plans import partitioning

    planes = random_hyperplanes(n_planes, dim)
    per_band = n_planes // LSH_BANDS
    # single-row-group embedding files scan as 1-2 tasks; the sign
    # projection (and the norm projection below) must not run serially —
    # spread once, reuse for both consumers (r7)
    vectors = partitioning.spread_small_input(vectors, "vec_id")
    # banded feeds both sides of the self-join — persist the tiny
    # (id, band, bucket) table so the projection runs exactly once
    banded = caching.managed(_banded_signs_kernel(vectors, planes, per_band))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
        )
        .distinct()
    )
    cand = caching.managed(cand)  # feeds both sides of the verify join
    withn = with_norm(vectors.select("vec_id", "embedding"), "embedding",
                      "_n", dim)
    va = withn.select(F.col("vec_id").alias("id_a"),
                      F.col("embedding").alias("va"), F.col("_n").alias("na"))
    vb = withn.select(F.col("vec_id").alias("id_b"),
                      F.col("embedding").alias("vb"), F.col("_n").alias("nb"))
    paired = cand.join(va, "id_a").join(vb, "id_b")
    # per-pair cosine as a vectorized Arrow kernel: the 64-term per-row
    # SQL dot over millions of candidate pairs was the query's dominant
    # cost (11.6 of 17 s at sf1.0). The kernel accumulates LEFT-ASSOCIATED
    # per element — the identical IEEE op sequence as dot(va, vb, dim) —
    # and reuses the SQL-computed norms, so the doubles are bit-equal
    # (pytest-pinned); round+threshold stay in SQL.
    scored = _pair_cosine_kernel(paired, "va", "vb", "na", "nb", dim)
    return caching.own_session(
        scored.select("id_a", "id_b",
                      F.round(F.col("cosine_raw"), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _banded_signs_kernel(vectors: DataFrame, planes: list[list[int]],
                         per_band: int) -> DataFrame:
    """(vec_id, band, bucket) rows: per-band sign-bit bucket strings from the
    random-hyperplane projection, computed batchwise in numpy.

    The pre-r7 form evaluated 32 ~50-term SQL sum expressions per row —
    past the codegen method limit, so INTERPRETED (~2.5 s of the query at
    sf1.0 even spread across the cluster). The kernel accumulates each
    plane's sum left-associated over its NONZERO coefficients in index
    order — the identical IEEE sequence as the old `t1 + t2 + …` F.expr
    (zero terms skipped there too) — so every sign bit, bucket string and
    candidate pair is unchanged (oracle-pinned)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        vectors.schema["vec_id"],
        T.StructField("band", T.IntegerType(), False),
        T.StructField("bucket", T.StringType(), False),
    ])
    nonzero = [[(i, float(wi)) for i, wi in enumerate(w) if wi]
               for w in planes]

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n = len(pdf)
            bits = np.zeros((n, len(nonzero)), dtype=bool)
            for p, nz in enumerate(nonzero):
                i0, w0 = nz[0]
                acc = V[:, i0] * w0
                for i, wi in nz[1:]:
                    acc = acc + V[:, i] * wi
                bits[:, p] = acc > 0
            chars = np.where(bits, "1", "0")
            ids = pdf["vec_id"]
            frames = []
            for b in range(len(nonzero) // per_band):
                seg = chars[:, b * per_band:(b + 1) * per_band]
                frames.append(pd.DataFrame({
                    "vec_id": ids, "band": b,
                    "bucket": ["".join(r) for r in seg],
                }))
            yield pd.concat(frames, ignore_index=True)

    return vectors.select("vec_id", "embedding").mapInPandas(
        run, schema=out_schema)


def _pair_cosine_kernel(paired: DataFrame, va: str, vb: str,
                        na: str, nb: str, dim: int) -> DataFrame:
    """(…, id_a, id_b, va, vb, na, nb) → (id_a, id_b, cosine_raw), the
    cosine computed batchwise in numpy with left-associated accumulation
    (bit-equal to the dot()/norm-product SQL expression)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        paired.schema["id_a"],
        paired.schema["id_b"],
        T.StructField("cosine_raw", T.DoubleType(), False),
    ])

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf[va].to_numpy()).astype(np.float64)
            B = np.stack(pdf[vb].to_numpy()).astype(np.float64)
            acc = A[:, 0] * B[:, 0]
            for d in range(1, dim):
                acc = acc + A[:, d] * B[:, d]
            den = pdf[na].to_numpy() * pdf[nb].to_numpy()
            cos = np.divide(acc, den, out=np.zeros_like(acc),
                            where=den > 0)
            yield pd.DataFrame({
                "id_a": pdf["id_a"], "id_b": pdf["id_b"],
                "cosine_raw": cos,
            })

    return paired.select("id_a", "id_b", va, vb, na, nb).mapInPandas(
        run, schema=out_schema)
