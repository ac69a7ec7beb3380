"""Semantic (embedding-space) clustering and dedup.

SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv:2303.09540):
cluster the embedding space with k-means, then drop documents whose cosine
similarity to an earlier document *in the same cluster* exceeds a threshold.
Clustering bounds the pairwise comparison to within-cluster pairs — the same
blocking idea as LSH dedup (functions/dedup.py) but driven by the embedding
geometry instead of token hashes.

Scale design (100 TB):
- k-means assignment is a map-only Arrow-batched matmul ``(N×d) @ (d×k)``
  against broadcast centroids (similarity.ivf_assign) — no shuffle.
- the Lloyd update is one codegen groupBy: ``d`` per-dimension SUM aggregates
  + COUNT per centroid, map-side combined; only ``k×(d+1)`` numbers reach
  the driver per iteration.  The corpus shuffles (centroid, d partial sums),
  never raw text.
- within-cluster pairing self-joins on the cluster id; cluster sizes are the
  skew knob — pick k so n/k fits a task (SemDeDup uses k≈100k at web scale),
  and cap runaway clusters the same way dedup.py caps LSH mega-buckets.

The reference repo has no embedding operators at all; this family is part of
the beyond-reference LLM-pipeline surface (SURVEY.md Part C).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kafka_connect_morphlines_spark.functions import driver_table, ensure_parallelism
from kafka_connect_morphlines_spark.functions.similarity import cosine, ivf_assign


def _vector_dim(df: DataFrame, vec_col: str) -> int:
    probe = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    return int(probe[0]["d"]) if probe else 0


def _centroid_frame(df: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """k-row (centroid, _cv) frame from the driver-side centroid list —
    ONE local relation (``driver_table``) instead of k*d literal Column
    constructions (each F.lit is a py4j round-trip, and Catalyst
    re-analyzes the full literal tree on every plan pass).  Broadcast by
    the caller; the broadcast runs no Python task."""
    return driver_table(
        df.sparkSession,
        [(int(cid), [float(v) for v in vec]) for cid, vec in centroids],
        "centroid long, _cv array<double>",
    )


def seeded_centroids(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 0,
) -> list[tuple[int, list[float]]]:
    """Deterministic seeded init: the k rows with the smallest
    ``md5(seed || id)`` — a uniform pseudo-random sample that any rerun
    reproduces exactly (no RNG state, SURVEY.md §7.3.5 determinism).

    A TakeOrdered over a map-side hash column: no shuffle beyond the k-row
    reduce, so init cost is one corpus scan regardless of scale.
    """
    pick = (
        df.select(F.col(id_col), F.col(vec_col))
        .withColumn("_h", F.md5(F.concat(F.lit(f"kmeans:{seed}:"), F.col(id_col).cast("string"))))
        .orderBy(F.col("_h").asc(), F.col(id_col).asc())
        .limit(k)
        .collect()
    )
    # centroid ids are their rank in hash order: stable, dense 0..k-1
    return [(i, list(r[vec_col])) for i, r in enumerate(pick)]


def kmeans_fit(
    df: DataFrame,
    k: int,
    n_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 0,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means over an embedding column, DataFrame-native.

    Each iteration: broadcast-assign (Arrow matmul, map-only) then ONE
    codegen aggregate — ``d`` per-dimension sums + a count per centroid
    (``element_at`` is codegen; no explode, no row inflation).  The driver
    sees only the k×(d+1) reduced numbers.  Empty clusters keep their
    previous centroid (standard Lloyd fallback), so the result is
    deterministic for a fixed (seed, k, n_iter).
    """
    dim = _vector_dim(df, vec_col)
    if dim == 0 or k <= 0:
        return []
    centroids = seeded_centroids(df, k, vec_col, id_col, seed)
    src = ensure_parallelism(df.select(F.col(id_col), F.col(vec_col)))
    if not src.isStreaming:
        # every Lloyd iteration re-reads the (id, vector) projection; pin it
        # once so n_iter iterations don't recompute the upstream plan (the
        # standard iterative-algorithm persist, same as connected_components)
        src = src.localCheckpoint()
    sums = [F.sum(F.element_at(F.col(vec_col), j + 1).cast("double")).alias(f"s{j}") for j in range(dim)]
    for _ in range(n_iter):
        assigned = ivf_assign(src, centroids, vec_col)
        rows = assigned.groupBy("centroid").agg(F.count(F.lit(1)).alias("n"), *sums).collect()
        by_id = {int(r["centroid"]): r for r in rows}
        nxt = []
        for cid, old in centroids:
            r = by_id.get(cid)
            if r is None or r["n"] == 0:
                nxt.append((cid, old))
            else:
                n = float(r["n"])
                nxt.append((cid, [float(r[f"s{j}"]) / n for j in range(dim)]))
        centroids = nxt
    return centroids


def kmeans_inertia(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster size + mean cosine distance to the centroid (fit
    diagnostic).  One assignment pass + one codegen aggregate.  The
    centroid vectors ride in as a broadcast k-row frame joined on the
    assigned id (r11) — the literal create_map this replaces cost one
    py4j round-trip per centroid coordinate (k*d Column constructions)
    plus Catalyst analysis of a k*d-literal tree on EVERY build; the
    cosine expression (and hence every double) is unchanged."""
    assigned = ivf_assign(ensure_parallelism(df), centroids, vec_col)
    d = assigned.join(F.broadcast(_centroid_frame(df, centroids)), "centroid").withColumn(
        "_dist", F.lit(1.0) - cosine(F.col(vec_col), F.col("_cv"))
    )
    return d.groupBy("centroid").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.round(F.avg("_dist"), 6).alias("mean_cos_dist"),
    )


def prototype_prune(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    frac: float = 0.1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SSL-Prototypes pruning (D4, Tirumala et al. 2023, arXiv:2308.12284):
    within each embedding cluster drop the ``frac`` most *prototypical*
    examples — the ones closest to their centroid by cosine — keeping the
    informative cluster periphery for training.

    Shape: one broadcast-assign matmul (map-only), one window rank per
    cluster, one filter — a single shuffle on the cluster id, so cost is a
    groupBy at any scale.  The cutoff is ``ceil(frac·|cluster|)`` with a
    deterministic (cos DESC, id ASC) tie-break.  Returns the kept rows with
    their cluster id and rounded centroid cosine.
    """
    from pyspark.sql import Window

    assigned = ivf_assign(ensure_parallelism(df), centroids, vec_col)
    # rank on the 6dp-rounded cosine with an id tie-break: boundary-stable
    # across engines (a raw-double rank can flip on last-ulp differences).
    # r11: the centroid vectors arrive via a broadcast k-row join instead
    # of a literal create_map — the map cost one py4j round-trip per
    # coordinate (k*d = 2048 Column constructions for the 32x64 SSL
    # query) plus Catalyst analysis of the k*d-literal tree on every
    # build, profiled as ~5s of driver-side wall against 0.6s of actual
    # job time.  The cosine Column expression is unchanged, so every
    # rounded double (and the oracle hash) is identical.
    scored = assigned.join(F.broadcast(_centroid_frame(df, centroids)), "centroid").withColumn(
        "_cos", F.round(cosine(F.col(vec_col), F.col("_cv")), 6)
    ).drop("_cv")
    w = Window.partitionBy("centroid")
    ranked = scored.withColumn(
        "_rk", F.row_number().over(w.orderBy(F.col("_cos").desc(), F.col(id_col).asc()))
    ).withColumn("_n", F.count(F.lit(1)).over(w))
    kept = ranked.filter(F.col("_rk") > F.ceil(F.lit(float(frac)) * F.col("_n")))
    return kept.withColumnRenamed("_cos", "proto_cos").drop("_rk", "_n")


def semantic_dup_pairs(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Within-cluster near-duplicate pairs: (id_a, id_b, cos) with
    id_a < id_b, both in the same k-means cluster, cosine ≥ threshold.

    The pair space is Σ|cluster|² instead of n² — the SemDeDup blocking
    bargain.  Instead of a self-join whose quadratic part would run an
    interpreted dot-product fold per pair, each cluster is ONE
    ``applyInPandas`` group: normalize once, gram matmul ``U @ U.T`` in
    BLAS, emit only the above-threshold upper-triangle pairs.  One shuffle
    of n vectors total; the quadratic work is dense float64 matmul
    (~100× an interpreted per-pair fold).  Gram blocks are row-chunked so a
    skewed mega-cluster costs bounded memory instead of |cluster|² at once.
    """
    import numpy as np
    import pandas as pd

    assigned = ivf_assign(
        ensure_parallelism(df).select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        centroids,
        "_v",
    )

    thr = float(threshold)

    def emit_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        s = len(pdf)
        if s < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        pdf = pdf.sort_values("_id")
        ids = pdf["_id"].to_numpy()
        v = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        n = np.linalg.norm(v, axis=1)
        n[n == 0] = 1.0
        u = v / n[:, None]
        # row-chunked gram: memory ~ chunk×s, never s×s
        chunk = max(1, (1 << 22) // max(s, 1))
        out_a, out_b, out_c = [], [], []
        for i0 in range(0, s, chunk):
            i1 = min(i0 + chunk, s)
            g = u[i0:i1] @ u.T  # (i1-i0, s)
            rows, cols = np.nonzero(g >= thr)
            keep = cols > (rows + i0)  # upper triangle: id_a < id_b
            out_a.append(ids[rows[keep] + i0])
            out_b.append(ids[cols[keep]])
            out_c.append(g[rows[keep], cols[keep]])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
                "id_b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
                "cos": np.concatenate(out_c) if out_c else np.array([], dtype=np.float64),
            }
        )

    return assigned.groupBy("centroid").applyInPandas(
        emit_pairs, schema="id_a long, id_b long, cos double"
    )


def semantic_dedup_keep(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup keep-set: drop any row that has a *lower-id* within-cluster
    neighbor with cosine ≥ threshold; keep the rest.

    Keep-lowest-id is the deterministic stand-in for SemDeDup's
    keep-farthest-from-centroid; the pruning set is identical up to the
    per-group representative.  The removal is a broadcast-friendly anti-join
    against the (small) dup-pair victim list.
    """
    victims = semantic_dup_pairs(df, centroids, threshold, vec_col, id_col).select(
        F.col("id_b").alias(id_col)
    )
    return df.join(victims, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# Quantized-lattice Lloyd: the engine-portable k-means variant (same
# fixed-point discipline as pq_fit_sample/pq_encode_int).  Vectors AND
# centroids live on the integer lattice floor(x*scale + 0.5); the centroid
# update floors the per-dimension mean back onto the lattice.  Every
# assignment is then an exact integer argmin and every update an exact
# integer sum + one floor(int/int) — bit-reproducible across engines,
# partitionings and BLAS builds, which is what lets a SQL oracle replay
# the FULL iterative fit.  The float kmeans_fit above stays the production
# default (sub-ulp centroid precision); this is the certifiable twin.
# --------------------------------------------------------------------------


def kmeans_fit_int(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    scale: int = 1024,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "kmq",
) -> list[list[int]]:
    """Integer-lattice Lloyd fit; returns k integer centroids (id = index).

    Init = the k md5-order seed vectors (quantized); per iteration ONE
    Arrow-batched mapInPandas pass does the exact-int argmin assignment
    AND the per-batch partial sums (long-format (centroid, j, s) rows),
    so the only shuffle is k x (d+1) x n_batches tiny rows through a
    3-column groupBy whose plan shape never changes across iterations;
    the driver sees k x (d+1) numbers per round.  Empty
    clusters keep their previous centroid.  Centroid update
    ``floor(sum/n)`` is computed as floor of the DOUBLE quotient — exact
    ints below 2^53 divide to a correctly-rounded double that can only
    floor wrong within 1e-9 of an integer boundary, impossible for
    rationals with denominator <= cluster size — so Python, Spark SQL and
    DuckDB agree bit-for-bit.
    """
    import math

    import numpy as np
    import pandas as pd

    seeds = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .withColumn("_h", F.md5(F.concat_ws(":", F.lit(seed), F.col("_id").cast("string"))))
        .orderBy("_h", "_id")
        .limit(k)
        .collect()
    )
    dim = len(seeds[0]["_v"])
    cents = [
        [int(math.floor(float(v) * scale + 0.5)) for v in r["_v"]] for r in seeds
    ]
    src = ensure_parallelism(df.select(F.col(vec_col)))
    if not src.isStreaming:
        src = src.localCheckpoint()  # n_iter assignment passes re-read it

    for _ in range(n_iter):
        # One Arrow pass per iteration: assignment AND per-batch partial
        # sums in the same mapInPandas (r08 — replaces a scalar-UDF argmin
        # followed by a 64-column-wide codegen aggregate whose compile
        # dominated the cold run and whose full-width shuffle dominated the
        # warm run).  Each batch emits <= k x (d+1) long-format rows
        # (centroid, j, s): j = -1 carries the count, j >= 0 the dim-j
        # quantized sum.  int64 partial sums of lattice ints are exact and
        # order-independent, so the result is bit-identical to the wide
        # aggregate the oracle replays; the downstream groupBy is over
        # k x (d+1) x n_batches tiny rows with a 3-column plan whose shape
        # (and codegen) is identical every iteration.
        books = np.asarray(cents, dtype=np.int64)

        def partial_sums(batches, _books=books):
            bf = _books.astype(np.float64)
            b2 = (bf * bf).sum(1)
            for pdf in batches:
                if pdf.empty:
                    continue
                v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                xq = np.floor(v * scale + 0.5)  # integer-valued float64
                # expanded L2 via BLAS: every term is an integer < 2^53,
                # so the float64 matmul is EXACT (same argmin as int math)
                d2 = (xq * xq).sum(1)[:, None] - 2.0 * (xq @ bf.T) + b2[None, :]
                best = d2.argmin(axis=1)
                out_c, out_j, out_s = [], [], []
                for cid in np.unique(best):
                    members = xq[best == cid]
                    out_c.append(int(cid)); out_j.append(-1)
                    out_s.append(int(members.shape[0]))
                    sums = members.astype(np.int64).sum(axis=0)
                    out_c.extend([int(cid)] * len(sums))
                    out_j.extend(range(len(sums)))
                    out_s.extend(int(s) for s in sums)
                yield pd.DataFrame({"centroid": pd.Series(out_c, dtype="int32"),
                                    "j": pd.Series(out_j, dtype="int32"),
                                    "s": pd.Series(out_s, dtype="int64")})

        rows = (
            src.mapInPandas(partial_sums, "centroid int, j int, s long")
            .groupBy("centroid", "j")
            .agg(F.sum("s").alias("s"))
            .collect()
        )
        stats: dict[int, dict[int, int]] = {}
        for r in rows:
            stats.setdefault(int(r["centroid"]), {})[int(r["j"])] = int(r["s"])
        nxt = []
        for cid, old in enumerate(cents):
            got = stats.get(cid)
            if not got or got.get(-1, 0) == 0:
                nxt.append(old)
            else:
                n = got[-1]
                nxt.append([int(math.floor(got[j] / n)) for j in range(dim)])
        cents = nxt
    return cents


def kmeans_stats_int(
    df: DataFrame,
    cents: list[list[int]],
    scale: int = 1024,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster (centroid, cluster_size, mean_sq_dist): ONE Arrow pass
    emits per-batch (centroid, j, s) partials in the SAME long-format
    schema as the fit iterations (j = -1 count, j = -2 exact integer d2
    sum — the argmin already computed every distance), so the expensive
    mapInPandas -> groupBy(c, j) stage reuses the codegen compiled during
    the fit; a k-row pivot with one double division finishes it (round 6
    — no exact decimal ties exist for denominators <= |cluster|, so all
    engines round identically)."""
    import numpy as np
    import pandas as pd

    books = np.asarray(cents, dtype=np.int64)

    def partial_stats(batches):
        bf = books.astype(np.float64)
        b2 = (bf * bf).sum(1)
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            xq = np.floor(v * scale + 0.5)
            d2 = (xq * xq).sum(1)[:, None] - 2.0 * (xq @ bf.T) + b2[None, :]
            best = d2.argmin(axis=1)
            dbest = d2[np.arange(len(best)), best].astype(np.int64)
            out_c, out_j, out_s = [], [], []
            for cid in np.unique(best):
                mask = best == cid
                out_c.extend([int(cid), int(cid)])
                out_j.extend([-1, -2])
                out_s.extend([int(mask.sum()), int(dbest[mask].sum())])
            yield pd.DataFrame({"centroid": pd.Series(out_c, dtype="int32"),
                                "j": pd.Series(out_j, dtype="int32"),
                                "s": pd.Series(out_s, dtype="int64")})

    partials = (
        ensure_parallelism(df.select(F.col(vec_col)))
        .mapInPandas(partial_stats, "centroid int, j int, s long")
        .groupBy("centroid", "j")
        .agg(F.sum("s").alias("s"))
    )
    n = F.max(F.when(F.col("j") == -1, F.col("s")))
    d2sum = F.max(F.when(F.col("j") == -2, F.col("s")))
    return partials.groupBy("centroid").agg(
        n.alias("cluster_size"),
        F.round(d2sum.cast("double") / n, 6).alias("mean_sq_dist"),
    )
