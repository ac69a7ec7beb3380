"""Similarity search over embedding columns (``array<float>``).

- brute-force cosine top-k: the exact baseline.  Dot products run JVM-side
  via ``aggregate``/``zip_with`` — no Python in the loop.
- LSH-bucketed ANN (random hyperplanes): the scale path.  Sign-bits of dot
  products with D deterministic pseudo-random hyperplanes bucket the
  vectors; search only scans matching buckets (multi-probe = hamming-1
  neighbors of the query's bucket).
- IVF-style variant: coarse centroids by bucketing on the first principal
  directions is a refinement left to the same bucket-join shape.

At 100 TB the brute-force path is a map-side scan + top-k (no shuffle except
the final k-row reduce); the LSH path prunes the scan to matching buckets —
a partition-pruning-friendly layout if the table is written bucketed by
``bucket``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from pyspark.sql import Window

from kafka_connect_morphlines_spark.functions import driver_table, ensure_parallelism


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays, JVM-side, in double precision."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine against one query vector.

    The literal query vector is folded into the plan (broadcast by value);
    scoring is a map-only scan and the top-k is a TakeOrdered reduce — the
    cheapest distributed shape for single-query search.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = ensure_parallelism(df).select(F.col(id_col), cosine(F.col(vec_col), q).alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def knn_join_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k corpus neighbors for every query row (brute-force kNN join).

    Broadcast the smaller side (queries) so the corpus never shuffles; the
    window ranks per query.  Output (query_id, neighbor_id, score, rank).

    Norms are computed ONCE PER ROW on each side before the cross join
    (r10): cosine() inside the join recomputes both norms per PAIR —
    2*N*M interpreted array passes instead of N+M.  Measured 1.8x on the
    whole query at sf0.1; the ratio grows with the pair count at scale.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm(F.col(vec_col)).alias("_qn"),
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        norm(F.col(vec_col)).alias("_cn"),
    )
    denom = F.col("_qn") * F.col("_cn")
    score = F.when(denom > 0, dot(F.col("_qv"), F.col("_cv")) / denom).otherwise(
        F.lit(0.0)
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id", score.alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from a hash — no RNG state, so
    any executor can regenerate it (SURVEY.md §7.3.5 determinism)."""
    import hashlib
    import struct

    out = []
    for j in range(dim):
        h = hashlib.md5(f"hyperplane:{plane_idx}:{j}".encode()).digest()
        (v,) = struct.unpack("<q", h[:8])
        out.append(v / float(1 << 63))  # uniform-ish in [-1, 1)
    return out


def hyperplane_bucket(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """LSH bucket id: sign bits of dot(vec, plane_i) packed into an int.

    Computed as one Arrow-batched numpy matmul ``(N×d) @ (d×planes)`` —
    dense vector math is the case where a vectorized pandas UDF beats
    Spark's higher-order functions (which evaluate interpreted,
    per-element; at d=64 and 8 planes that's ~1k interpreted ops/row vs
    one BLAS call per batch)."""
    planes = np.array([_hyperplane(dim, i) for i in range(n_planes)], dtype=np.float64)  # (p, d)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("long")
    def bucket_of(s: pd.Series) -> pd.Series:
        if s.empty:
            return pd.Series([], dtype="int64")
        v = np.stack(s.to_numpy()).astype(np.float64)  # (n, d)
        bits = (v @ planes.T) > 0  # (n, p)
        return pd.Series(bits @ weights)

    return bucket_of(vec)


def ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: scan only rows whose hyperplane bucket is within
    hamming distance ``multiprobe`` of the query's bucket.

    With the corpus written bucketed/partitioned by bucket id this becomes
    partition pruning; here it is a pushed-down filter on a derived column.
    """
    dim = len(query_vec)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    # query bucket computed at plan-build time (plain python on the literal)
    qbits = 0
    for i in range(n_planes):
        plane = _hyperplane(dim, i)
        if sum(a * b for a, b in zip(query_vec, plane)) > 0:
            qbits |= 1 << i
    probe_buckets = {qbits}
    if multiprobe >= 1:
        probe_buckets |= {qbits ^ (1 << i) for i in range(n_planes)}
    bucketed = ensure_parallelism(df).select(F.col(id_col), F.col(vec_col), hyperplane_bucket(F.col(vec_col), dim, n_planes).alias("bucket"))
    hits = bucketed.filter(F.col("bucket").isin(list(probe_buckets)))
    scored = hits.select(F.col(id_col), cosine(F.col(vec_col), q).alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def ivf_assign(df: DataFrame, centroids: list[tuple[int, list[float]]], vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse quantizer).

    Centroids ride into the UDF closure (broadcast by value); assignment
    is a map-only argmax over one Arrow-batched matmul
    ``(N×d) @ (d×m)`` — m interpreted cosine folds per row would be
    ~100× slower (see hyperplane_bucket).  At scale the assigned table is
    written partitioned by ``centroid`` so probes become partition
    pruning.  Real systems fit centroids with k-means; the distributed
    shape is identical, so the fitting strategy stays pluggable.
    """
    ids = np.array([int(cid) for cid, _ in centroids], dtype=np.int64)
    mat = np.array([c for _, c in centroids], dtype=np.float64)  # (m, d)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]

    @F.pandas_udf("long")
    def assign(s: pd.Series) -> pd.Series:
        if s.empty:
            return pd.Series([], dtype="int64")
        v = np.stack(s.to_numpy()).astype(np.float64)  # (n, d)
        vn = np.linalg.norm(v, axis=1)
        vn[vn == 0] = 1.0
        sims = (v / vn[:, None]) @ unit.T  # (n, m); argmax ties -> first
        return pd.Series(ids[sims.argmax(axis=1)])

    return df.withColumn("centroid", assign(F.col(vec_col)))


def deterministic_centroids(df: DataFrame, n: int, vec_col: str = "embedding", id_col: str = "vec_id") -> list[tuple[int, list[float]]]:
    """Pick n centroid vectors deterministically (lowest ids).  A k-means
    refinement slots in here without changing ivf_assign/ivf_topk."""
    rows = df.orderBy(F.col(id_col).asc()).limit(n).select(id_col, vec_col).collect()
    return [(r[id_col], list(r[vec_col])) for r in rows]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-style approximate top-k: scan only the ``nprobe`` inverted lists
    whose centroids are closest to the query."""
    centroids = deterministic_centroids(df, n_centroids, vec_col, id_col)

    def cos(a: list[float], b: list[float]) -> float:
        import math

        d = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / d if d else 0.0

    probe = sorted(centroids, key=lambda c: (-cos(query_vec, c[1]), c[0]))[:nprobe]
    probe_ids = [cid for cid, _ in probe]
    assigned = ivf_assign(df, centroids, vec_col)
    hits = assigned.filter(F.col("centroid").isin(probe_ids))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = ensure_parallelism(hits).select(F.col(id_col), cosine(F.col(vec_col), q).alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def embedding_near_dupes(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via hyperplane-bucket blocking.

    Pairs sharing an LSH bucket are verified with exact cosine; at scale the
    bucket join replaces the O(n²) cross join.  Output (id_a, id_b, cos).
    """
    dim_probe = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    dim = dim_probe[0]["d"] if dim_probe else 0
    b = ensure_parallelism(df).select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), hyperplane_bucket(F.col(vec_col), dim, n_planes).alias("bucket"))
    if not b.isStreaming:
        # both join sides consume the bucketed frame; materialize so the
        # n_planes dot-product passes run once, not twice
        b = b.localCheckpoint()
    l, r = b.alias("a"), b.alias("b")
    return (
        l.join(r, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"), cosine(F.col("a._v"), F.col("b._v")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def random_projection(
    df: DataFrame,
    dim: int,
    out_dim: int = 16,
    vec_col: str = "embedding",
    out_col: str = "embedding_rp",
    seed: str = "jl",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: dim -> out_dim, preserving
    pairwise distances within ~(1 ± eps) — the cheap first stage before
    ANN/clustering when embeddings are wide (shrinks every downstream
    shuffle and distance computation by dim/out_dim).

    The projection matrix is regenerated from md5 on any executor (same
    determinism contract as the LSH hyperplanes — no RNG state, no
    broadcast needed) and scaled by sqrt(3/out_dim) — the md5 entries are
    uniform in [-1,1) with variance 1/3, so this makes E[|Px|^2] = |x|^2
    (norm-preserving in expectation).  The projection itself is one Arrow-batched numpy matmul
    per batch (SCALE.md lesson 8: never per-row interpreted folds).
    """
    import numpy as np
    import pandas as pd

    mat = np.array(
        [_hyperplane(dim, f"{seed}:{r}") for r in range(out_dim)], dtype=np.float64
    ).T * float(np.sqrt(3.0 / out_dim))  # dim x out_dim

    @F.pandas_udf("array<double>")
    def project(s: pd.Series) -> pd.Series:
        x = np.vstack(s.to_numpy())  # n x dim
        y = x @ mat
        return pd.Series(list(np.round(y, 6)))

    return df.withColumn(out_col, project(F.col(vec_col)))


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dup_threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for every
    query vector, the ``k`` *most similar* corpus rows whose cosine stays
    BELOW ``dup_threshold`` — near-duplicates are positives in disguise and
    training on them as negatives collapses the embedding space, so the
    band (closest-but-not-duplicate) is exactly what a contrastive batch
    builder wants.

    Output (query_id, neighbor_id, score, rank), rank 1 = hardest.
    Deterministic: (score desc, neighbor_id asc) ordering.

    Shape at 100 TB: the query side broadcasts (mini-batch sized); the
    corpus never shuffles — scoring is a map-only scan and the per-query
    top-k is a bounded window over candidate rows.  For corpus-scale query
    sets, compose with the LSH/IVF bucketing in this module to prune the
    candidate scan first (the same recall/bucketing trade documented on
    ann_topk / ivf_topk).
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    c = ensure_parallelism(corpus).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id", cosine(F.col("_qv"), F.col("_cv")).alias("score")
    )
    banded = scored.filter((F.col("score") < dup_threshold) & (F.col("query_id") != F.col("neighbor_id")))
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return banded.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def binary_signature(vec: Column, dim: int) -> Column:
    """Sign-bit binary quantization: bit j set iff ``vec[j] > 0``, packed
    little-endian into ``ceil(dim/64)`` longs (one long for dim <= 64) —
    64x smaller than float32 vectors, the coarsest standard vector-store
    compression tier.  Unlike dot-product LSH buckets, the bits are signs
    of STORED values — no float accumulation anywhere, so signatures are
    bit-identical on every engine.  One Arrow-batched numpy pass."""
    n_words = (dim + 63) // 64

    @F.pandas_udf("array<long>")
    def sig_of(s: pd.Series) -> pd.Series:
        if s.empty:
            return pd.Series([], dtype=object)
        v = np.stack(s.to_numpy()).astype(np.float64)  # (n, dim)
        bits = v > 0  # (n, dim)
        out = np.zeros((len(v), n_words), dtype=np.uint64)
        for j in range(dim):
            out[:, j // 64] |= bits[:, j].astype(np.uint64) << np.uint64(j % 64)
        return pd.Series(list(out.astype(np.int64)))

    return sig_of(vec)


def binary_hamming_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-tier ANN: Hamming distance on sign-bit signatures selects a
    ``shortlist``, exact cosine reranks it to the top ``k`` — the standard
    binary-quantization search pattern (signatures are 64x smaller than
    float32, so the first tier scans bits, not vectors).

    Output (vec_id, hamming, score), ordered (score desc, id asc).
    Deterministic: shortlist by (hamming asc, id asc), rerank by exact
    cosine with id tie-break.  Shape at 100 TB: the signature scan is
    map-only over 8-byte-per-row data + a TakeOrdered (shortlist rows);
    only the bounded shortlist ever touches full vectors again (a second
    scan pruned by the shortlist ids — or, with signatures stored as a
    column, a semi join).  Fully hash-certifiable: sign bits involve no
    float accumulation, so engines agree bit-for-bit.
    """
    dim = len(query_vec)
    n_words = (dim + 63) // 64
    qsig = [0] * n_words
    for j, x in enumerate(query_vec):
        if x > 0:
            qsig[j // 64] |= 1 << (j % 64)
    # interpret as signed 64-bit like the column longs
    qsig = [w - (1 << 64) if w >= (1 << 63) else w for w in qsig]
    sigs = ensure_parallelism(df).select(
        F.col(id_col), F.col(vec_col), binary_signature(F.col(vec_col), dim).alias("_sig")
    )
    ham = None
    for w in range(n_words):
        term = F.bit_count(
            F.element_at(F.col("_sig"), w + 1).bitwiseXOR(F.lit(qsig[w]))
        )
        ham = term if ham is None else ham + term
    short = (
        sigs.select(F.col(id_col), F.col(vec_col), ham.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        short.select(id_col, "hamming", cosine(F.col(vec_col), q).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max(|v|)/127``,
    ``q_i = floor(v_i/scale + 0.5)`` — 4x smaller vectors for ANN shortlist
    scans, the standard vector-store compression.  The floor(x+0.5) idiom
    (not round()) keeps the integer codes engine-portable; an all-zero
    vector gets scale 0 and all-zero codes.

    Output (id, qvec array<int>, scale) — map-only, no shuffle.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # guard on the SCALE, not the max: a subnormal max (|v| < ~6e-322)
    # makes mx/127 underflow to 0.0 and the division would produce Inf
    # codes (hypothesis-found edge)
    s = mx / F.lit(127.0)
    q = F.when(
        s > 0,
        F.transform(v, lambda x: F.floor(x / s + F.lit(0.5)).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return ensure_parallelism(df).select(F.col(id_col), q.alias("qvec"), s.alias("scale"))


def int8_topk_adc(
    quantized: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k over int8-quantized vectors: the query is
    quantized once with the same symmetric scheme, scores are
    ``(int32 dot) * scale_corpus * scale_query`` — the integer dot is
    exact and associative, so ranking is partition-order independent.

    Map-only scan + TakeOrdered reduce, same shape as brute_force_topk but
    over 4x less data — the shortlist pass before exact re-ranking.
    """
    import math

    qmax = max(abs(x) for x in query_vec) if query_vec else 0.0
    qscale = qmax / 127.0 if qmax > 0 else 0.0
    qq = [int(math.floor(x / qscale + 0.5)) if qscale > 0 else 0 for x in query_vec]
    qarr = F.array(*[F.lit(x) for x in qq])
    idot = F.aggregate(
        F.zip_with(F.col("qvec"), qarr, lambda a, b: a.cast("long") * b.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    score = (idot.cast("double") * F.col("scale") * F.lit(qscale)).alias("score")
    return (
        quantized.select(F.col(id_col), score)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def pca_whiten(
    df: DataFrame,
    out_dim: int = 16,
    sample_n: int = 10000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "embedding_pca",
    eps: float = 1e-9,
    seed: int = 0,
) -> DataFrame:
    """PCA whitening: project embeddings onto the top ``out_dim`` principal
    components, scaled to unit variance — the standard preconditioner
    before IVF/PQ (OPQ's first half) and for embedding drift diagnostics.

    Scale shape: the components are FIT on a deterministic ``sample_n``-row
    sample — the md5-order trick of seeded_centroids: the rows with the
    smallest md5(seed||id), a uniform pseudo-random sample any rerun and
    any partitioning reproduces exactly.  Fitting on a bounded sample is
    the standard practice at scale (faiss trains PCA/OPQ on ~100k-1M
    vectors regardless of corpus size); the driver does one d×d eigh.  The
    PROJECTION is the distributed part: mean/components ride into one
    Arrow-batched matmul over the corpus — map-only, no shuffle,
    dim → out_dim on every downstream byte.

    Determinism: sample is md5-ordered (exact), eigh input is built from
    the same collected floats in sorted-id order, eigenvector sign is
    fixed (largest-|component| entry made positive), output rounded 6dp —
    golden-stable across runs and partitionings.
    """
    import numpy as np
    import pandas as pd

    pick = (
        df.select(F.col(id_col), F.col(vec_col))
        .withColumn("_h", F.md5(F.concat(F.lit(f"pca:{seed}:"), F.col(id_col).cast("string"))))
        .orderBy(F.col("_h").asc(), F.col(id_col).asc())
        .limit(sample_n)
        .collect()
    )
    # sorted-id order: the driver-side float accumulation is identical on
    # every rerun regardless of which executors returned the rows
    pick.sort(key=lambda r: r[id_col])
    x = np.array([list(r[vec_col]) for r in pick], dtype=np.float64)
    mean = x.mean(axis=0)
    xc = x - mean
    cov = (xc.T @ xc) / max(len(x) - 1, 1)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:out_dim]
    vals, vecs = vals[order], vecs[:, order]  # (d,), (d, q)
    # sign convention: per component, the largest-|entry| coordinate positive
    for j in range(vecs.shape[1]):
        i = int(np.argmax(np.abs(vecs[:, j])))
        if vecs[i, j] < 0:
            vecs[:, j] = -vecs[:, j]
    whiten = vecs / np.sqrt(np.maximum(vals, 0.0) + eps)  # (d, q)

    @F.pandas_udf("array<double>")
    def project(s: pd.Series) -> pd.Series:
        v = np.vstack(s.to_numpy()).astype(np.float64)
        y = (v - mean) @ whiten
        return pd.Series(list(np.round(y, 6)))

    return df.withColumn(out_col, project(F.col(vec_col)))


def mmr_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
    lam: float = 0.5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): greedily pick ``k`` results trading off relevance to the
    query against redundancy with already-picked results —
    ``argmax lam*cos(q,d) - (1-lam)*max_{s in S} cos(d,s)``.

    Distributed shape: the *corpus-sized* work is one map-only cosine scan
    + a TakeOrdered shortlist (``shortlist`` rows, a constant); the
    inherently-sequential greedy loop then runs on the driver over that
    bounded shortlist with numpy — the standard two-stage
    retrieve-then-rerank split, so 100 TB only ever pays the scan.
    Deterministic: 6dp-rounded scores with id tie-breaks at both stages;
    the greedy score is EXACT INTEGER arithmetic in nano-units
    (``lam`` on a 1/1000 grid, half-away-from-zero division back to 6dp)
    because with lam=0.5 the score lands on exact 0.5e-6 half-boundaries
    where float round() is tie-rule- and engine-dependent — integer
    micro-units make the greedy SQL-mirrorable (the DuckDB oracle replays
    it as a recursive CTE).

    Returns (rank, <id_col>, relevance, mmr_score) for the k picks,
    rank 1-based in pick order; the id column keeps ``id_col``'s name and
    type from the input frame.
    """
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("rank", IntegerType(), False),
            StructField(id_col, df.schema[id_col].dataType, True),
            StructField("relevance", DoubleType(), True),
            StructField("mmr_score", DoubleType(), True),
        ]
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    short = (
        ensure_parallelism(df)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.round(cosine(F.col(vec_col), q), 6).alias("relevance"),
        )
        .orderBy(F.col("relevance").desc(), F.col(id_col).asc())
        .limit(shortlist)
        .collect()
    )
    if not short:
        return driver_table(df.sparkSession, [], out_schema)
    ids = [r[id_col] for r in short]
    rel = np.array([r["relevance"] for r in short])
    vecs = np.array([list(r[vec_col]) for r in short], dtype=np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    norms[norms == 0.0] = 1.0
    unit = vecs / norms[:, None]
    sims = np.round(unit @ unit.T, 6)  # shortlist x shortlist, bounded
    # exact integer scoring: 6dp doubles -> micro ints, lam -> milli grid;
    # score_nano = lam_milli*rel_micro - (1000-lam_milli)*red_micro, then
    # half-away-from-zero division by 1000 back to micro (engine-portable)
    lam_milli = int(round(lam * 1000))
    rel_micro = [int(round(x * 1e6)) for x in rel]
    sims_micro = np.round(sims * 1e6).astype(np.int64)
    picked: list[int] = []
    out = []
    cand = set(range(len(ids)))
    for rank in range(1, min(k, len(ids)) + 1):
        best_i, best_score = None, None
        for i in sorted(cand):
            redundancy = max((int(sims_micro[i][j]) for j in picked), default=0)
            nano = lam_milli * rel_micro[i] - (1000 - lam_milli) * redundancy
            score = (1 if nano >= 0 else -1) * ((abs(nano) * 2 + 1000) // 2000)
            if best_score is None or score > best_score:
                best_i, best_score = i, score
        picked.append(best_i)
        cand.remove(best_i)
        out.append((rank, ids[best_i], float(rel[best_i]), best_score / 1e6))
    return driver_table(df.sparkSession, out, out_schema)


# --------------------------------------------------------------------------
# Quantized power iteration: the certifiable twin of the eigen step in
# pca_whiten (same fixed-point discipline as semantic.kmeans_fit_int).
# pca_whiten's np.linalg.eigh stays the production path; this variant
# computes the DOMINANT principal direction with arithmetic a SQL oracle
# replays bit-for-bit, closing the "eigendecomposition is not
# SQL-expressible" gap for the component that matters most (drift
# monitoring, deflation seeds, OPQ init).
# --------------------------------------------------------------------------


def power_component_int(
    df: DataFrame,
    n_iter: int = 4,
    scale: int = 1024,
    unit: int = 1 << 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Dominant eigenvector of the (uncentered) second-moment matrix
    S = Xq^T Xq on the integer lattice Xq = floor(X*scale + 0.5), by
    ``n_iter`` rounds of power iteration with L-infinity normalization —
    no square roots anywhere, which is what makes the whole fit exact:

    - S is accumulated distributed: one Arrow pass emits per-batch d x d
      integer partials (exact — every float64 matmul term is an integer
      below 2^53), one groupBy(i, j) sums them, the driver sees d^2
      numbers (the kmeans_fit_int bounded-driver-state contract).
    - each round: w = S v in exact integers; m = max|w|;
      v' = floor((w_as_double / m_as_double) * unit).  The division is
      ONE correctly-rounded IEEE op on CAST-to-double operands and unit
      is a power of two (exact exponent shift), so Python, Spark and
      DuckDB agree on every lattice coordinate.
    - sign convention: the largest-|v| coordinate (smallest index on
      ties) is made positive — same convention as pca_whiten.

    Returns (j, loading, lambda_hat): loading = v_j/unit rounded 6dp,
    lambda_hat = m_final/unit rounded 3dp (the L-inf Rayleigh estimate of
    the top eigenvalue of S, in lattice units).  Integer bounds (r09
    correction — the old "~8e9 rows" figure conflated two limits):

    - per-Arrow-batch float64 exactness of the S partials: each batch
      sums integer terms <= scale^2 = 2^20 in float64, exact while
      batch_rows * 2^20 < 2^53, i.e. ~8.6e9 rows PER BATCH (never
      binding — Arrow batches are ~10k rows);
    - global S entries in int64: |S_ij| <= n * 2^20 <= 2^63 holds to
      n ~ 8.8e12 total rows — the engine-wide bound;
    - the matvec |w| <= d * max|S| * unit = n * 2^46 exceeds int64 at
      only ~1.3e5 worst-case rows (~8e6 with unit-norm vectors), so
      NEITHER side may hold w in int64: the Python driver uses exact
      bigints, and the SQL oracle computes the matvec products in
      HUGEINT (exact to n ~ 2.4e24 rows).

    Rounding parity with the oracle is kept by doing the two final
    roundings in Spark expressions (round-half-up both engines), not
    Python (half-even).
    """
    import math

    import numpy as np
    import pandas as pd

    dim_row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    d = int(dim_row["d"])

    def s_partials(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            xq = np.floor(v * scale + 0.5)
            s = xq.T @ xq  # exact: integer-valued float64 terms < 2^53
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": pd.Series(ii.ravel(), dtype="int32"),
                    "j": pd.Series(jj.ravel(), dtype="int32"),
                    "s": pd.Series(s.ravel().astype(np.int64), dtype="int64"),
                }
            )

    rows = (
        df.select(F.col(vec_col))
        .mapInPandas(s_partials, "i int, j int, s long")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .collect()
    )
    s_mat: dict[tuple[int, int], int] = {(int(r["i"]), int(r["j"])): int(r["s"]) for r in rows}
    v = [unit] * d
    m = unit
    for _ in range(n_iter):
        w = [sum(s_mat.get((i, j), 0) * v[j] for j in range(d)) for i in range(d)]
        m = max(abs(x) for x in w)
        if m == 0:
            break
        # float(w)/float(m) mirrors SQL CAST(w AS DOUBLE)/CAST(m AS DOUBLE);
        # * unit is an exact power-of-two scale; floor ends it
        v = [math.floor((float(wi) / float(m)) * unit) for wi in w]
    # sign: largest-|v| coordinate, smallest index on ties, made positive
    j_star = max(range(d), key=lambda j: (abs(v[j]), -j))
    sgn = -1 if v[j_star] < 0 else 1
    out = driver_table(
        df.sparkSession, [(j, sgn * v[j], m) for j in range(d)], "j int, _v long, _m long"
    )
    return out.select(
        "j",
        F.round(F.col("_v").cast("double") / F.lit(float(unit)), 6).alias("loading"),
        F.round(F.col("_m").cast("double") / F.lit(float(unit)), 3).alias("lambda_hat"),
    ).orderBy("j")


def pca_whiten_int(
    df: DataFrame,
    out_dim: int = 8,
    n_iter: int = 4,
    scale: int = 1024,
    unit: int = 1 << 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Quantized PCA whitening — the certifiable twin of ``pca_whiten``
    (which keeps np.linalg.eigh as the float production path): the top
    ``out_dim`` components come from repeated ``power_component_int``-style
    iteration with HOTELLING DEFLATION, all on the integer lattice.

    Per component: 4 L-infinity power rounds on the (deflated) centered
    second-moment matrix C (exact integer matvecs + one correctly-rounded
    division per coordinate), then C <- C - floor(u_i*u_j / D) with
    u = C v and D = v^T u — the products taken in DOUBLES (u ~ 3e16
    exceeds exact-double range, but int->double casts, multiply, divide
    and floor are all correctly-rounded IEEE ops every engine performs
    identically, which is the certification requirement; exactness is
    not).  C itself is the exact integer S - n*mu_q*mu_q^T with
    mu_q = floor(colsum/n) — the lattice centering.

    Projection: y_c = (xq - mu_q) . v_c is an exact int64 sum (|terms|
    <= 2*scale*unit, 64 of them); whitening divides by
    |v|_2 * sqrt(lambda_hat/n + 1e-9) with lambda_hat = m_final/unit —
    two IEEE sqrts and divisions, mirrored operation-for-operation by
    the SQL oracle.  Output long-format (id, component, value) so the
    driver hashes doubles, not engine-specific float rendering.

    Bounded driver state: d^2 + d + 1 integers in, out_dim x (d + 2)
    out — the kmeans_fit_int contract.
    """
    import math

    import numpy as np
    import pandas as pd

    d = int(df.select(F.size(F.col(vec_col)).alias("d")).first()["d"])

    def moment_partials(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            xq = np.floor(v * scale + 0.5)
            s = xq.T @ xq  # exact integer-valued float64
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            out_i = list(ii.ravel()) + [-1] * d + [-2]
            out_j = list(jj.ravel()) + list(range(d)) + [-1]
            out_s = list(s.ravel().astype(np.int64)) + list(
                xq.sum(axis=0).astype(np.int64)
            ) + [int(xq.shape[0])]
            yield pd.DataFrame(
                {
                    "i": pd.Series(out_i, dtype="int32"),
                    "j": pd.Series(out_j, dtype="int32"),
                    "s": pd.Series(out_s, dtype="int64"),
                }
            )

    rows = (
        df.select(F.col(vec_col))
        .mapInPandas(moment_partials, "i int, j int, s long")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .collect()
    )
    s_mat: dict[tuple[int, int], int] = {}
    colsum = [0] * d
    n_rows = 0
    for r in rows:
        i, j, s = int(r["i"]), int(r["j"]), int(r["s"])
        if i == -2:
            n_rows = s
        elif i == -1:
            colsum[j] = s
        else:
            s_mat[(i, j)] = s
    mu = [math.floor(float(colsum[j]) / float(n_rows)) for j in range(d)]
    c_mat = [
        [s_mat.get((i, j), 0) - n_rows * mu[i] * mu[j] for j in range(d)]
        for i in range(d)
    ]

    comps = []  # (c, v_signed, m, sv2)
    for c in range(out_dim):
        v = [unit] * d
        m = unit
        for _ in range(n_iter):
            w = [sum(c_mat[i][j] * v[j] for j in range(d)) for i in range(d)]
            m = max(abs(x) for x in w)
            if m == 0:
                break
            v = [math.floor((float(wi) / float(m)) * unit) for wi in w]
        # deflate with the UNSIGNED v (u_i*u_j is sign-invariant)
        u = [sum(c_mat[i][j] * v[j] for j in range(d)) for i in range(d)]
        big_d = sum(v[j] * u[j] for j in range(d))
        if big_d != 0:
            for i in range(d):
                for j in range(d):
                    c_mat[i][j] -= math.floor(
                        float(u[i]) * float(u[j]) / float(big_d)
                    )
        j_star = max(range(d), key=lambda j: (abs(v[j]), -j))
        sgn = -1 if v[j_star] < 0 else 1
        vs = [sgn * x for x in v]
        comps.append((c, vs, m, sum(x * x for x in vs)))

    books = np.asarray([vs for _, vs, _, _ in comps], dtype=np.int64)  # (k, d)
    mu_np = np.asarray(mu, dtype=np.int64)

    def project(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            xq = np.floor(v * scale + 0.5).astype(np.int64) - mu_np
            y = xq @ books.T  # exact int64: |terms| <= 2*scale*unit, d of them
            ids = pdf["_id"].to_numpy()
            k = books.shape[0]
            yield pd.DataFrame(
                {
                    "_id": np.repeat(ids, k),
                    "component": np.tile(np.arange(k, dtype=np.int32), len(ids)),
                    "y": y.ravel().astype(np.int64),
                }
            )

    src = df.select(F.col(id_col).alias("_id"), F.col(vec_col))
    ydf = src.mapInPandas(project, "_id long, component int, y long")
    scal = driver_table(
        df.sparkSession,
        [(c, m, sv2) for c, _, m, sv2 in comps],
        "component int, _m long, _sv2 long",
    )
    den = F.sqrt(F.col("_sv2").cast("double")) * F.sqrt(
        F.col("_m").cast("double") / F.lit(float(unit)) / F.lit(float(n_rows))
        + F.lit(1e-9)
    )
    return (
        ydf.join(F.broadcast(scal), "component")
        .select(
            F.col("_id").alias(id_col),
            "component",
            F.round(F.col("y").cast("double") / den, 6).alias("value"),
        )
        .orderBy(id_col, "component")
    )
