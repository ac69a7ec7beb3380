"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (100 TB posture):
- exact dedup = hash-groupBy on a digest, never on the full payload — the
  shuffle moves 32-byte keys, not documents.
- MinHash LSH = shingle -> K minhashes -> B bands; candidate generation is a
  self-join on (band_id, band_hash) buckets — the classic way to avoid the
  O(n²) pair space.  Band buckets are the shuffle key; skew (a viral
  duplicate cluster) is handled by AQE skew-join + an optional bucket-size
  cap.
- verification (exact Jaccard on candidates only) touches just the bucketed
  pairs.
- All hash functions are seeded/deterministic (murmur3 base hash + fixed
  (a*x+b) mod p universal family) so results are reproducible across runs
  and cluster sizes (SURVEY.md §7.3.5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from kafka_connect_morphlines_spark.functions import ensure_parallelism
from kafka_connect_morphlines_spark.functions.textstats import shingles_exploded, tokens


def exact_dedup_keys(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content: (digest, keep_id=min id, n_copies).

    groupBy on md5 digest: map-side partial aggregation first, so the shuffle
    carries one row per distinct digest per partition.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Drop exact duplicates, keeping the smallest id per content digest."""
    keys = exact_dedup_keys(df, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return df.join(keys, id_col, "left_semi")


_MERSENNE_P = (1 << 31) - 1  # prime modulus for the universal hash family


def _affine_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for the universal family (a*x + b) mod p.

    The modulus is essential: without it a*x + b is monotonic in x, so every
    "permutation" picks the same minimum element and the K signatures
    degenerate to one (uniform band collisions — caught by the 200k-doc
    scale smoke as a 150s candidate explosion).  a < 2^30 and x < 2^32 keep
    a*x + b < 2^62 (no ANSI long overflow before the mod).
    """
    import hashlib
    import struct

    h = hashlib.md5(f"minhash:{i}".encode()).digest()
    (a,) = struct.unpack("<I", h[:4])
    (b,) = struct.unpack("<I", h[4:8])
    return (a % (1 << 30)) | 1, b % _MERSENNE_P


def _signatures_from_exploded(ex: DataFrame, num_hashes: int) -> DataFrame:
    """(_id, _sig: array<bigint>) from an exploded (_id, _s) shingle frame
    via K codegen'd min-aggregates.

    Spark higher-order functions (transform/aggregate) are interpreted per
    element; K of them over a shingle array is the slow shape.  Hashing the
    exploded rows and computing ``min(a_i*h + b_i)`` as K aggregate
    expressions keeps everything in whole-stage codegen with map-side partial
    aggregation — the shuffle carries one 64-long row per doc per partition.
    """
    raw = _raw_signatures(ex, num_hashes)
    return raw.select("_id", F.array(*[F.col(f"_mh{i}") for i in range(num_hashes)]).alias("_sig"))


def _base_hash32(col: Column, base_hash: str) -> Column:
    """32-bit shingle base hash: murmur3 (fast, default) or the md5-derived
    portable form (first 8 md5 hex chars — CAST('0x'||substr(md5(s),1,8)
    AS BIGINT) in DuckDB), both in [0, 2^32) so the affine permutations'
    overflow bound holds either way."""
    if base_hash == "murmur3":
        return F.hash(col).cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
    if base_hash == "md5":
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
    raise ValueError(f"unknown base_hash {base_hash!r}")


def _raw_signatures(ex: DataFrame, num_hashes: int, base_hash: str = "murmur3") -> DataFrame:
    """(_id, _mh0.._mhK-1): the K minhash columns before array packing —
    the banded-LSH hot path consumes the columns directly (band hash =
    hash(_mh{4b}..), skipping the K-long array build and slice)."""
    hashed = ex.select("_id", _base_hash32(F.col("_s"), base_hash).alias("_h"))
    aggs = []
    for i in range(num_hashes):
        a, b = _affine_params(i)
        aggs.append(F.min((F.col("_h") * a + b) % _MERSENNE_P).alias(f"_mh{i}"))
    return hashed.groupBy("_id").agg(*aggs)


def _lsh_candidates_from_exploded(
    ex: DataFrame, num_hashes: int, bands: int, max_bucket_size: int = 2000,
    base_hash: str = "murmur3",
) -> DataFrame:
    """Banded LSH candidate pairs from an exploded (_id, _s) shingle frame.

    rows_per_band = num_hashes // bands; two docs collide if any band's hash
    slice matches exactly.  The band bucket join is the only shuffle; its key
    is (band, band_hash) so collisions — not documents — set the fan-in.

    ``max_bucket_size`` drops pathological mega-buckets (boilerplate /
    degenerate content at corpus scale would otherwise contribute
    O(bucket²) join rows; the standard mitigation is to skip them — exact
    duplicates are exact_dedup's job, and a 2000-doc bucket already yields
    2M candidate pairs).  Dropped buckets are a documented recall trade.

    The banded frame feeds three consumers (overflow detection and both
    sides of the self-join); it is materialized once so the signature
    aggregation — the expensive map-side pass — doesn't run three times.
    At B rows per doc it's tiny relative to the corpus (16 longs vs the
    document text), the standard cached intermediate for LSH.
    """
    sig = _raw_signatures(ex, num_hashes, base_hash)
    banded = _banded_frame(sig, num_hashes, bands)
    if not banded.isStreaming:
        banded = banded.localCheckpoint()
    if max_bucket_size:
        overflow = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") > max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(F.broadcast(overflow), ["band", "bucket"], "left_anti")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def _banded_frame(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(_id, band, bucket) from a raw-signature frame.

    Band hash straight from the min-aggregate columns — no K-long array
    build, no slice; ``hash(_mh{4b}, ..)`` is one codegen murmur3 call per
    band.
    """
    rows_per_band = num_hashes // bands
    return sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(*[F.col(f"_mh{b * rows_per_band + j}") for j in range(rows_per_band)]).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig) MinHash signatures (see _signatures_from_exploded)."""
    ex = shingles_exploded(df, text_col, id_col, shingle_n).withColumnRenamed(id_col, "_id")
    return _signatures_from_exploded(ex, num_hashes)


def jaccard(tokens_a: Column, tokens_b: Column) -> Column:
    """Exact Jaccard over two token/shingle arrays (distinct semantics)."""
    return _jaccard_distinct(F.array_distinct(tokens_a), F.array_distinct(tokens_b))


def _jaccard_distinct(da: Column, db: Column) -> Column:
    """Jaccard over arrays the caller guarantees are already distinct.

    Pair-join hot path: skipping the redundant per-pair ``array_distinct``
    matters when the expression runs once per candidate pair, not per doc.
    """
    inter = F.size(F.array_intersect(da, db))
    union = F.size(da) + F.size(db) - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    base_hash: str = "murmur3",
) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates filtered by exact
    shingle-Jaccard >= threshold.  Output (id_a, id_b, jacc).

    Shingles are produced once as an exploded codegen frame
    (shingles_exploded — ~20x the throughput of the interpreted array
    build) and consumed exactly once, by the signature aggregation — no
    checkpoint of the (huge: |docs| x |shingles|) exploded frame.
    Verification shingle *sets* are rebuilt from the original text for
    candidate docs only (a per-doc interpreted array build, bounded by the
    candidate count, which is orders of magnitude below the corpus);
    jaccard is distinct-semantics so ``array_distinct(shingles(...))``
    consumes exactly what ``collect_set`` over the exploded frame did, at
    a fraction of the materialization cost.
    """
    if threshold <= 0:
        raise ValueError("minhash_dedup_pairs requires threshold > 0")
    df = ensure_parallelism(df)
    ex = shingles_exploded(df, text_col, id_col, shingle_n).withColumnRenamed(id_col, "_id")
    cands = _lsh_candidates_from_exploded(ex, num_hashes, bands, base_hash=base_hash)
    if not cands.isStreaming:
        cands = cands.localCheckpoint()  # feeds the id list + the verify join
    # Verification only for docs that appear in a candidate pair, via the
    # inverted-index shape (see ngram_jaccard_pairs): distinct hashed
    # shingles are exploded once per candidate doc, the pair list fans out
    # through two codegen hash joins, and |A∩B| is a count aggregate with
    # map-side combine — no interpreted per-doc array build, no per-pair
    # hash-set intersect.  Work scales with |candidates| x shingles/doc.
    cand_ids = cands.select(F.col("id_a").alias("_id")).union(cands.select(F.col("id_b").alias("_id"))).distinct()
    docs_c = df.join(cand_ids.withColumnRenamed("_id", id_col), id_col, "left_semi")
    # hashed-shingle rows: the exact-Jaccard verify compares longs, not
    # shingle strings (see ngram_jaccard_pairs for the collision bound)
    sh = (
        shingles_exploded(docs_c, text_col, id_col, shingle_n)
        .select(F.col(id_col).alias("_id"), F.xxhash64("_s").alias("_h"))
        .distinct()
    )
    if not sh.isStreaming:
        sh = sh.localCheckpoint()  # consumed three times: sizes + both join legs
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    inter = (
        cands.join(sh.select(F.col("_id").alias("id_a"), "_h"), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), "_h"), ["id_b", "_h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    jacc = F.col("_inter").cast("double") / (F.col("_sza") + F.col("_szb") - F.col("_inter")).cast("double")
    return (
        inter.join(sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sza")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_szb")), "id_b")
        .select("id_a", "id_b", jacc.alias("jacc"))
        .filter(F.col("jacc") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs token-Jaccard within a blocking key (exact, no LSH).

    ``block_col`` bounds the pair space (at 100 TB an unblocked all-pairs
    join is infeasible — use minhash_dedup_pairs there; this operator is the
    exact verifier for bounded blocks).

    Inverted-index shape: explode each doc's distinct hashed tokens, self-join
    on (block, token), and count matches per pair — ``count == |A∩B|`` — then
    Jaccard from the two stored set sizes.  Compared with joining on the block
    key and running ``array_intersect`` per pair this wins twice at scale:

    - the join key is (block, token) — cardinality ~ vocabulary, so the
      shuffle spreads over the cluster instead of skewing onto one task per
      block (a block key alone has as many distinct values as blocks);
    - the per-pair hash-set build inside ``array_intersect`` (O(|A|) per
      *pair*) becomes a codegen count aggregate with map-side combine.

    Join fan-out per token is O(df_t²) within a block — the same quadratic
    any exact all-pairs verify pays, bounded by the block size contract.
    Requires ``threshold > 0`` (a non-positive threshold would mean the full
    cross product including zero-overlap pairs, which an inverted index by
    construction never materializes — and which no caller can afford anyway).
    """
    if threshold <= 0:
        raise ValueError("ngram_jaccard_pairs requires threshold > 0")
    df = ensure_parallelism(df)
    t = df.select(F.col(id_col), F.col(block_col).alias("_blk") if block_col else F.lit(1).alias("_blk"), F.array_distinct(tokens(F.col(text_col))).alias("_tok"))
    # Token identity only matters for set membership, so compare 64-bit
    # hashes instead of strings: the shuffle and the join carry fixed-width
    # longs, not token text.  A 64-bit collision inside one document pair is
    # the only way this diverges from string-exact Jaccard
    # (p ~ |vocab|^2 / 2^64, negligible).
    ex = t.select(
        "_blk",
        F.col(id_col),
        F.size("_tok").alias("_sz"),
        F.explode("_tok").alias("_t"),
    ).select("_blk", id_col, "_sz", F.xxhash64("_t").alias("_h"))
    # Materialize the posting frame once (r10): the self-join's two
    # branches share no exchange in either regime (verified on the
    # executed plan: broadcast join = a second full scan for the build
    # side; forced sort-merge = two exchanges, ReusedExchange never fires
    # because the branches canonicalize differently), so tokenize +
    # explode + hash ran TWICE per call.  After the checkpoint both sides
    # read the same blocks.  Checkpointing erases size stats, so the
    # small-regime broadcast is re-established explicitly with a
    # row-count gate (the repo-wide pattern): under the gate the build
    # side is the ~40B/row posting frame (<=200MB broadcast); above it
    # the planner's sort-merge join is the right plan anyway.  A/B at
    # sf0.1: 1.70s -> 1.37s (ngram_jaccard_pairs best-of-6).
    broadcast_postings = 5_000_000
    if not ex.isStreaming:
        ex = ex.localCheckpoint()
        n_postings = ex.count()
    else:  # pragma: no cover - streaming callers keep the planner's choice
        n_postings = None
    a = ex.alias("a")
    b = (
        F.broadcast(ex) if n_postings is not None and n_postings <= broadcast_postings else ex
    ).alias("b")
    # Size-compatibility prefilter: jacc >= t implies |A∩B| >= t*|A∪B|, and
    # |A∩B| <= min(|A|,|B|) while |A∪B| >= max(|A|,|B|), so min >= t*max is a
    # necessary condition.  In the join condition it drops incompatible pairs
    # before they ever reach the aggregation.
    size_ok = F.least(F.col("a._sz"), F.col("b._sz")) >= threshold * F.greatest(F.col("a._sz"), F.col("b._sz"))
    inter = F.col("_inter").cast("double")
    union = (F.col("_sza") + F.col("_szb") - F.col("_inter")).cast("double")
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._h") == F.col("b._h"))
            & (F.col("a." + id_col) < F.col("b." + id_col))
            & size_ok,
        )
        .groupBy(
            F.col("a." + id_col).alias("id_a"),
            F.col("b." + id_col).alias("id_b"),
            F.col("a._sz").alias("_sza"),
            F.col("b._sz").alias("_szb"),
        )
        .agg(F.count(F.lit(1)).alias("_inter"))
        .select("id_a", "id_b", (inter / union).alias("jacc"))
        .filter(F.col("jacc") >= threshold)
    )


def simhash(text: Column, bits: int = 32) -> Column:
    """SimHash over tokens: sign-sum of per-token hash bits -> integer.

    Uses xxhash64(token) bits 0..bits-1; each bit contributes +1 if set else
    -1; final bit j is 1 when the sum is positive.

    Column-shaped variant for expression contexts (small arrays): the
    ``F.aggregate`` folds are interpreted per element, O(bits x tokens)
    interpreted ops per row.  The corpus-scale path is
    ``simhash_signatures`` — identical values, whole-stage codegen.
    """
    toks = F.array_distinct(tokens(text))
    h = F.transform(toks, lambda t: F.xxhash64(t))

    def bit_votes(j: int):
        # closure factory: pyspark lambdas get one Column per parameter, so
        # the loop variable must be captured, not passed as a default arg
        mask = 1 << j
        return lambda acc, x: acc + F.when(x.bitwiseAND(F.lit(mask)) != 0, F.lit(1)).otherwise(F.lit(-1))

    out = F.lit(0).cast("long")
    for j in range(bits):
        votes = F.aggregate(h, F.lit(0), bit_votes(j))
        out = out + F.when(votes > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
    return out


def _token_hash64(col: Column, token_hash: str) -> Column:
    """64-bit-ish token hash: xxhash64 (fast, default) or the 60-bit
    md5-derived portable form (bit-reproducible in DuckDB as
    CAST('0x'||substr(md5(t),1,15) AS BIGINT) — the oracle idiom), for
    when results must be re-derivable outside Spark."""
    if token_hash == "xxhash64":
        return F.xxhash64(col)
    if token_hash == "md5":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown token_hash {token_hash!r}")


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(_id, _sh): per-document SimHash as an explode + codegen aggregation.

    Mirrors ``_raw_signatures``: explode the distinct-token array once, hash
    each token once, then compute the ``bits`` bit-votes as conditional-sum
    aggregate expressions — ``sum(when(bit_j set, 1).otherwise(-1))`` — with
    map-side partial aggregation, and pack the sign bits in the projection.
    Everything stays in whole-stage codegen; the shuffle carries one row of
    ``bits`` ints per doc per partition.  The interpreted-fold variant
    (``simhash``) is O(bits x tokens) interpreted ops per row — ruinous on
    long documents.

    Value-identical to ``simhash``: votes are order-independent sums, and
    empty/null-text docs (explode_outer keeps them as a null-hash row whose
    votes all land in the ``otherwise(-1)`` leg) pack to 0 exactly as the
    fold's empty/null aggregate does.
    """
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(F.array_distinct(tokens(F.col(text_col)))).alias("_t"),
    ).select(
        "_id",
        # xxhash64(null) returns the seed, not null — keep null tokens null so
        # empty docs pack to 0 like the fold (sum/count both skip nulls)
        F.when(F.col("_t").isNull(), F.lit(None).cast("long"))
        .otherwise(_token_hash64(F.col("_t"), token_hash))
        .alias("_h"),
    )
    # votes_j = sum(+1 if bit set else -1) = 2*ones_j - n, so track ones_j
    # (one shiftright+and per aggregate — the smallest expression per bit;
    # with K in the dozens, driver-side plan analysis is a visible cost at
    # small data, and leaner trees also shrink the generated code) and the
    # token count n once.  bit_j = votes_j > 0  <=>  2*ones_j > n.
    votes = ex.groupBy("_id").agg(
        F.count("_h").alias("_n"),
        *[
            F.sum(F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1))).alias(f"_o{j}")
            for j in range(bits)
        ],
    )
    # balanced pairwise reduction: depth log2(bits) instead of a bits-deep
    # left-nested addition chain (optimizer traversals scale with depth)
    terms = [
        F.when(F.col(f"_o{j}") * 2 > F.col("_n"), F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
        for j in range(bits)
    ]
    while len(terms) > 1:
        terms = [terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i] for i in range(0, len(terms), 2)]
    return votes.select("_id", terms[0].alias("_sh"))


def hamming_distance(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dupes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32,
    max_hamming: int = 3, token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on hash bytes.

    Blocking: split the simhash into (max_hamming+1) chunks; by pigeonhole,
    any pair within the distance shares at least one exact chunk — join on
    (chunk_idx, chunk_value), then verify the full hamming distance.
    """
    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    df = ensure_parallelism(df)
    s = simhash_signatures(df, text_col, id_col, bits, token_hash=token_hash)
    exploded = s.select(
        "_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("idx"),
                        F.shiftright(F.col("_sh"), i * chunk_bits).bitwiseAND(F.lit((1 << chunk_bits) - 1)).alias("val"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("_id", "_sh", F.col("c.idx").alias("idx"), F.col("c.val").alias("val"))
    if not exploded.isStreaming:
        # both join sides consume this frame; materialize so the 32-bit
        # vote fold (the expensive per-doc pass) runs once, not twice
        exploded = exploded.localCheckpoint()
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(b, (F.col("a.idx") == F.col("b.idx")) & (F.col("a.val") == F.col("b.val")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"), hamming_distance(F.col("a._sh"), F.col("b._sh")).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def minhash_cross_dupes(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Two-table near-duplicate join: corpus documents near-duplicating any
    ``reference`` document (the lexical face of eval-set decontamination —
    decontaminate() flags n-gram *overlap*; this finds whole-document
    near-copies of benchmark items).  Output (id_col, ref_id, jacc) with
    exact shingle-Jaccard >= threshold.

    Shape at 100 TB: the reference side is benchmark-scale (MBs), so its
    banded frame broadcasts and the corpus NEVER self-joins — the LSH
    bucket probe is a broadcast hash join over the corpus's banded rows,
    and the expensive per-doc shingle-set build for verification is
    semi-joined down to candidate ids first, so it is bounded by the
    candidate count, not the corpus.
    """
    corpus = ensure_parallelism(corpus)
    exc = shingles_exploded(corpus, text_col, id_col, shingle_n).withColumnRenamed(id_col, "_id")
    exr = shingles_exploded(reference, text_col, id_col, shingle_n).withColumnRenamed(id_col, "_id")
    bc = _banded_frame(_raw_signatures(exc, num_hashes), num_hashes, bands)
    br = _banded_frame(_raw_signatures(exr, num_hashes), num_hashes, bands).withColumnRenamed("_id", "_ref")
    cands = bc.join(F.broadcast(br), ["band", "bucket"]).select("_id", "_ref").distinct()
    if not cands.isStreaming:
        cands = cands.localCheckpoint()  # feeds the semi-join and the verify join

    # verify with hashed distinct shingle sets (SCALE.md lesson 9), built
    # only for candidate docs
    hit_ids = cands.select("_id").distinct()
    hc = (
        exc.join(F.broadcast(hit_ids), "_id", "left_semi")
        .select("_id", F.xxhash64("_s").alias("_h"))
        .groupBy("_id")
        .agg(F.collect_set("_h").alias("_sc"))
    )
    hr = (
        exr.select(F.col("_id").alias("_ref"), F.xxhash64("_s").alias("_h"))
        .groupBy("_ref")
        .agg(F.collect_set("_h").alias("_sr"))
    )
    return (
        cands.join(hc, "_id")
        .join(F.broadcast(hr), "_ref")
        .select(
            F.col("_id").alias(id_col),
            F.col("_ref").alias("ref_id"),
            _jaccard_distinct(F.col("_sc"), F.col("_sr")).alias("jacc"),
        )
        .filter(F.col("jacc") >= threshold)
    )


def keep_best_representative(
    clusters: DataFrame,
    scores: DataFrame,
    cluster_col: str = "component",
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """(id, cluster, score, keep): quality-aware cluster representative
    selection — keep the *best* document of each near-dup cluster instead of
    the lowest id.

    Plain dedup keeps an arbitrary member; when a quality signal exists
    (classifier score, length, recency) the kept copy should be the argmax.
    ``keep`` marks ``row_number() == 1`` under ``(score DESC, id ASC)`` per
    cluster — the id tie-break keeps the flag deterministic for equal
    scores.

    Shape at 100 TB: one id-keyed join of two (id, small) frames, then a
    window partitioned by cluster — cluster sizes are bounded upstream by
    the LSH bucket cap, so no partition is pathological.  Text never enters
    this stage.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(cluster_col).orderBy(F.col(score_col).desc(), F.col(id_col))
    j = clusters.join(scores.select(id_col, score_col), id_col)
    return j.select(
        id_col, cluster_col, score_col, (F.row_number().over(w) == 1).alias("keep")
    )


def icws_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    seed: str = "icws",
) -> DataFrame:
    """Improved Consistent Weighted Sampling signatures (Ioffe, ICDM 2010):
    MinHash generalized to WEIGHTED sets, so signature agreement estimates
    the weighted Jaccard ``J_w = sum_t min(wA_t, wB_t) / sum_t max(wA_t,
    wB_t)`` — tf-weighted near-dup detection, where plain MinHash's
    set-semantics ignores how often a term repeats.

    Per (hash i, token t) the scheme derives r ~ Gamma(2,1), c ~ Gamma(2,1),
    beta ~ U(0,1) CONSISTENTLY from two xxhash64 draws of (seed, i, t)
    (five 24-bit uniform slices of the 128 hashed bits, extracted with
    integer shifts — pure whole-stage codegen, ~5x cheaper per row than
    the md5-hex-substring idiom this replaced; r = -ln(u1*u2),
    c = -ln(u3*u4)), then
    ``t_k = floor(ln w / r + beta)``, ``y = exp(r*(t_k - beta))``,
    ``a = c / (y * e^r)`` and takes the argmin-a token: P[argmin collides]
    = J_w exactly (the paper's Theorem 1).  Everything is derandomized, so
    reruns agree; ties break on the (a, slot) struct order.

    Output: (id_col, sig: array<bigint>) with ``sig[i] = xxhash64(i, t*,
    t_k*)`` — two signatures' matching positions / num_hashes estimates
    J_w.  Shape at 100 TB: one token explode + groupBy(id, token) for tf
    weights, then ONE groupBy(id) carrying K min-struct aggregates
    (map-side combined) — the _raw_signatures shape; the shuffle carries
    one K-slot row per doc per partition, never text.  2K xxhash64 calls
    per tf row is the map-side cost — linear, embarrassingly parallel.
    """
    tf = (
        df.select(F.col(id_col).alias("_id"), F.explode(tokens(F.col(text_col))).alias("_t"))
        .groupBy("_id", "_t")
        .agg(F.count(F.lit(1)).alias("_w"))
    )
    two24 = float(1 << 24)
    mask24 = (1 << 24) - 1

    def u24(bits: Column) -> Column:
        # 24-bit uniform in (0,1): (bits + 0.5) / 2^24 — never 0 or 1.
        return (bits.cast("long") + F.lit(0.5)) / F.lit(two24)

    aggs = []
    for i in range(num_hashes):
        # 128 hashed bits from two codegen xxhash64 calls; five 24-bit
        # slices via integer shifts (slices 0-1 from h1, 2-3 from h2,
        # beta from the two 16-bit leftovers)
        h1 = F.xxhash64(F.lit(f"{seed}/{i}/a"), F.col("_t"))
        h2 = F.xxhash64(F.lit(f"{seed}/{i}/b"), F.col("_t"))
        s0 = h1.bitwiseAND(F.lit(mask24))
        s1 = F.shiftrightunsigned(h1, 24).bitwiseAND(F.lit(mask24))
        s2 = h2.bitwiseAND(F.lit(mask24))
        s3 = F.shiftrightunsigned(h2, 24).bitwiseAND(F.lit(mask24))
        s4 = F.shiftrightunsigned(h1, 48) * F.lit(256) + F.shiftrightunsigned(h2, 56)
        r = -(F.log(u24(s0) * u24(s1)))
        c = -(F.log(u24(s2) * u24(s3)))
        beta = u24(s4)
        lnw = F.log(F.col("_w").cast("double"))
        t_k = F.floor(lnw / r + beta)
        y = F.exp(r * (t_k.cast("double") - beta))
        a = c / (y * F.exp(r))
        slot = F.xxhash64(F.lit(i), F.col("_t"), t_k)
        aggs.append(F.min(F.struct(a.alias("_a"), slot.alias("_slot"))).alias(f"_m{i}"))
    grouped = tf.groupBy("_id").agg(*aggs)
    return grouped.select(
        F.col("_id").alias(id_col),
        F.array(*[F.col(f"_m{i}._slot") for i in range(num_hashes)]).alias("sig"),
    )


def weighted_jaccard_exact(tf_a: dict, tf_b: dict) -> float:
    """Driver-side exact weighted Jaccard of two tf dicts (test oracle)."""
    keys = set(tf_a) | set(tf_b)
    num = sum(min(tf_a.get(k, 0), tf_b.get(k, 0)) for k in keys)
    den = sum(max(tf_a.get(k, 0), tf_b.get(k, 0)) for k in keys)
    return num / den if den else 1.0


def icws_near_dupes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    min_agree: int = 12,
    rows_per_band: int = 4,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """Weighted-Jaccard near-dup pairs: ICWS signatures, BANDED LSH
    blocking (bucket key = hash of ``rows_per_band`` consecutive slots, so
    a collision needs a whole band to agree), then exact agreement count
    >= ``min_agree`` over the full signatures.

    Banding is what keeps this linear: single-slot blocking was measured
    quadratic on a dup-heavy corpus (a common high-weight token puts
    thousands of docs in one slot bucket — 131M candidate pairs at 5k
    docs); a 4-slot band collides with probability J_w^4 instead of J_w,
    which at the min_agree=12/16 (J~0.75) operating point still fires on
    >=1 of 4 bands ~79% of the time and >98% for true near-dups (J>0.9).
    Candidate pairs are distinct'd as BARE IDS before the two signature
    joins, so the K-long arrays never ride the quadratic leg; buckets over
    ``max_bucket_size`` are dropped (mega-bucket guard).  Returns
    (id_a, id_b, agree).
    """
    bands = max(1, num_hashes // rows_per_band)
    sig = icws_signatures(df, text_col, id_col, num_hashes)
    if not sig.isStreaming:
        sig = sig.localCheckpoint()
    band_key = lambda b: F.xxhash64(  # noqa: E731
        F.lit(b), *[F.element_at("sig", b * rows_per_band + j + 1) for j in range(rows_per_band)]
    ).cast("string")
    slots = sig.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(*[F.concat_ws("/", F.lit(str(b)), band_key(b)) for b in range(bands)])
        ).alias("_bkt"),
    )
    sizes = slots.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_n"))
    ok = slots.join(
        F.broadcast(sizes.filter((F.col("_n") >= 2) & (F.col("_n") <= max_bucket_size)).select("_bkt")),
        "_bkt",
    )
    pairs = (
        ok.select(F.col("_bkt"), F.col("_id").alias("id_a"))
        .join(ok.select(F.col("_bkt"), F.col("_id").alias("id_b")), "_bkt")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("_sa"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("_sb"))
    agree = F.size(
        F.filter(F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda eq: eq)
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", agree.alias("agree"))
        .filter(F.col("agree") >= min_agree)
        .orderBy("id_a", "id_b")
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    divisor: int = 16,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Content-defined chunking over tokens (the rsync/LBFS rolling-boundary
    idea applied to text): a chunk boundary falls BEFORE token i whenever
    the hash of the trailing 3-token window (t_{i-2}, t_{i-1}, t_i) is
    0 mod ``divisor`` — so boundaries are a pure function of local CONTENT,
    and inserting or deleting a paragraph shifts chunk frames only within
    ~divisor tokens of the edit instead of re-framing the whole document
    (what fixed-width chunking does).  Chunk-hash dedup across a corpus
    therefore finds shared shifted content that exact-dedup (whole doc) and
    fixed-window chunking both miss.

    Output: one row per chunk — (id_col, chunk_id, n_tokens, chunk_hash)
    with chunk_id 0-based in token order and chunk_hash = md5 of the
    space-joined chunk tokens.  Mean chunk length ~ divisor tokens.

    Determinism/portability: the boundary hash is the md5 60-bit idiom
    (CAST('0x'||substr(md5(w),1,15) AS BIGINT) in DuckDB), so a SQL oracle
    replays framing and hashes exactly.

    100 TB shape: posexplode to token rows, two windows partitioned by
    document (lag + running boundary count), one groupBy(doc, chunk) whose
    sort_array(collect_list) is bounded by chunk length (~divisor) — all
    shuffles are document-keyed, no cross-document joins.
    """
    from pyspark.sql import Window

    carry = list(carry_cols or [])
    toks = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.posexplode(tokens(F.col(text_col))).alias("_pos", "_t"),
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    trailing = F.concat_ws("|", F.lag("_t", 2).over(w), F.lag("_t", 1).over(w), F.col("_t"))
    h = F.conv(F.substring(F.md5(trailing), 1, 15), 16, 10).cast("long")
    boundary = (
        F.when(F.col("_pos") == 0, F.lit(1))
        .when((F.col("_pos") >= 2) & (h % divisor == 0), F.lit(1))
        .otherwise(F.lit(0))
    )
    flagged = toks.withColumn("_b", boundary).withColumn(
        "chunk_id",
        F.sum("_b").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1,
    )
    chunk_toks = F.transform(
        F.array_sort(F.collect_list(F.struct("_pos", "_t"))), lambda s: s["_t"]
    )
    # carry_cols are constant per document, so grouping by them is free
    # (same shuffle key prefix) and saves the caller a second scan + join
    return flagged.groupBy(id_col, *carry, "chunk_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.md5(F.array_join(chunk_toks, " ")).alias("chunk_hash"),
    )


def cdc_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    divisor: int = 16,
) -> DataFrame:
    """Per-source chunk-level dedup audit over content-defined chunks:
    (source, n_chunks, n_distinct_chunks, dup_chunk_ratio) — the fraction
    of chunk occurrences whose content already occurred in the same source
    (the storage/compute saving chunk-level dedup would realize; near-1
    ratios flag template/boilerplate-heavy sources).  One distinct
    aggregate per source over (chunk_hash); everything document- or
    hash-keyed.  The source column rides the chunk pass (constant per
    document) — no second scan of the input, no join."""
    chunks = cdc_chunks(df, text_col, id_col, divisor, carry_cols=[source_col])
    return chunks.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count_distinct("chunk_hash").alias("n_distinct_chunks"),
        F.round(
            1 - F.count_distinct("chunk_hash").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("dup_chunk_ratio"),
    )
