"""Training-data pipeline operators beyond per-document statistics:
benchmark decontamination, sequence packing / chunking, deterministic
splits and mixture sampling, and dedup-cluster connected components.

These are the corpus-preparation steps a 100 TB pretraining pipeline runs
after filtering/dedup (SURVEY.md §2 Part C): remove benchmark contamination,
assign reproducible train/val/test splits, re-weight source mixtures, pack
documents into fixed token budgets, and collapse near-dup *pairs* into
cluster representatives.

Scale design:
- n-gram generation is explode + ``element_at`` concat — whole-stage
  codegen, no interpreted higher-order functions in the hot path.
- decontamination joins the corpus against the *benchmark* n-gram set,
  which is broadcast (benchmark suites are MBs, corpora are TBs); the
  corpus side never shuffles its text, only (id, 32-byte gram digest).
- splits / sampling are pure map-side expressions on md5 — no shuffle, no
  RNG state, stable across cluster size, retries, and row order
  (SURVEY.md §7.3.5 determinism rule).
- packing is one window (partitioned by the packing group — never a global
  unpartitioned window) and chunking is explode over a codegen sequence.
- connected components is the iterative min-label-propagation loop: each
  round is a shuffle join + groupBy-min keyed on node id, lineage truncated
  with ``localCheckpoint``.  Rounds needed = graph diameter, and near-dup
  clusters are tiny-diameter by construction; for adversarial long-chain
  graphs the large-star/small-star variant (Kiveris et al.) drops rounds to
  O(log n) — the loop below is the same join primitive, so swapping the
  message rule is local.
"""

from __future__ import annotations

import math
from collections import Counter
from collections.abc import Callable
from itertools import groupby

from pyspark.sql import Column, DataFrame, Window, functions as F

from kafka_connect_morphlines_spark.functions import driver_table, ensure_parallelism
from kafka_connect_morphlines_spark.functions.textstats import split_words, tokens


def word_ngrams_exploded(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """One row per word n-gram occurrence: (id_col, gram).

    Tokenize (codegen split), explode the start-position sequence, and
    concat the n window tokens — every expression whole-stage codegen.
    Documents with fewer than ``n`` tokens produce no rows.
    """
    d = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_w"))
    d = d.filter(F.size("_w") >= n).select(
        id_col, "_w", F.explode(F.sequence(F.lit(1), F.size("_w") - (n - 1))).alias("_i")
    )
    gram = F.concat_ws(" ", *[F.element_at("_w", F.col("_i") + j) for j in range(n)])
    return d.select(F.col(id_col), gram.alias("gram"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination by word n-gram overlap.

    For every corpus document, the fraction of its *distinct* n-grams that
    appear anywhere in the benchmark set: (id, n_grams, n_contaminated,
    contamination).  Callers drop documents above a threshold (the
    GPT-3/PaLM-style 13-gram decontamination rule, here parameterized).

    The benchmark gram set is deduplicated then broadcast — eval suites are
    MB-scale while the corpus is TB-scale, so the corpus never shuffles.
    Set ``broadcast_benchmark=False`` for a giant blocklist; the join then
    shuffles (id, gram) pairs, never document text.
    """
    doc_grams = word_ngrams_exploded(docs, text_col, id_col, n).dropDuplicates([id_col, "gram"])
    bench_grams = (
        word_ngrams_exploded(benchmark, text_col, id_col, n)
        .select("gram")
        .dropDuplicates(["gram"])
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    per_doc = (
        doc_grams.join(bench_grams, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_contaminated"),
        )
    )
    # Documents shorter than n tokens have no grams: re-attach with zeros so
    # the output covers every input document (contamination of nothing is 0).
    base = docs.select(F.col(id_col))
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.col("n_contaminated") / F.col("n_grams"),
            )
            .otherwise(F.lit(0.0))
            .alias("contamination"),
        )
    )


def hash_bucket(key: Column, buckets: int = 10000) -> Column:
    """Deterministic bucket in [0, buckets) from md5 of the key string.

    conv(hex, 16, 10) stays within long range for 6 hex digits (< 2^24), so
    ANSI mode cannot overflow.  Identical SQL exists on the DuckDB side
    (CAST('0x'||substr(md5(..),1,6) AS BIGINT)) — the same bucket is
    reproducible outside Spark, which is the point: split membership is a
    *property of the record*, not of the job that computed it.
    """
    return (F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("long") % buckets).alias("bucket")


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by hashed id.

    Map-side only — no RNG, no shuffle; a record's split never changes when
    the corpus grows, executors retry, or partitioning changes (unlike
    ``randomSplit``, which is seed- and partitioning-dependent).
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    b = hash_bucket(F.concat_ws("/", F.lit(salt), F.col(id_col).cast("string")))
    expr = None
    lo = 0
    for name, w in weights.items():
        hi = lo + int(round(w * 10000))
        cond = b < F.lit(hi)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo = hi
    return df.withColumn("split", expr.otherwise(F.lit(list(weights)[-1])))


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic per-source downsampling to hit a target mixture.

    keep iff hash_bucket(source/id) < rate*10000 — a pure map-side filter
    (pushed to the scan), reproducible across runs and cluster sizes.
    Source weights beyond [0,1] should be handled upstream by replication.
    """
    b = hash_bucket(F.concat_ws("/", F.col(source_col), F.col(id_col).cast("string")))
    thresh = None
    for src, r in rates.items():
        t = F.when(F.col(source_col) == src, F.lit(int(round(r * 10000))))
        thresh = t if thresh is None else thresh.when(F.col(source_col) == src, F.lit(int(round(r * 10000))))
    thresh = thresh.otherwise(F.lit(int(round(default_rate * 10000)))) if thresh is not None else F.lit(
        int(round(default_rate * 10000))
    )
    return df.filter(b < thresh)


def global_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: str = "shuffle",
    shards: int = 64,
) -> DataFrame:
    """Deterministic corpus shuffle: (shard, pos) such that reading shards in
    order, each sorted by pos, yields a pseudo-random document order that is
    a pure function of (seed, id).

    This is the 100 TB shuffle shape: hash-partition into ``shards`` by one
    md5, then rank *within* each shard by a second md5 — the window is
    partitioned by shard, so no stage ever sees more than corpus/shards rows
    and there is no global-sort or SinglePartition step.  Unlike
    ``df.orderBy(rand())``, reruns, retries, and cluster-size changes cannot
    change the order, and a different ``seed`` gives an independent epoch
    permutation.
    """
    key = F.concat_ws("/", F.lit(seed), F.col(id_col).cast("string"))
    shard = (F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("long") % shards).alias("shard")
    d = df.withColumn("shard", shard).withColumn("_ord", F.md5(F.concat_ws("#", F.lit(seed), F.col(id_col).cast("string"))))
    w = Window.partitionBy("shard").orderBy("_ord")
    return d.withColumn("pos", F.row_number().over(w)).drop("_ord")


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 32768,
) -> DataFrame:
    """Frequency-ranked vocabulary: (token, token_id), ids 1..vocab_size by
    (count desc, token); 0 is reserved for unknowns.

    The corpus-wide token count is a map-side-combined groupBy; the ranking
    window runs on the *aggregated* vocabulary frame, which ``limit`` bounds
    to vocab_size rows — a single-partition sort of ≤vocab_size rows is the
    intended plan, not a scale hazard (the 100 TB side never sees a window).
    """
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), "tok").limit(vocab_size)
    w = Window.orderBy(F.desc("cnt"), "tok")
    return top.select("tok", F.row_number().over(w).cast("int").alias("token_id"))


def encode_documents(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_id: int = 0,
) -> DataFrame:
    """Encode each document as an array of vocabulary token ids, order
    preserved: (id, n_tokens, token_ids).

    posexplode keeps each token's position; the vocab joins as a broadcast
    hash join (bounded by vocab_size), so the only shuffle is the re-assembly
    groupBy keyed on document id.  Out-of-vocabulary tokens map to
    ``unk_id``.  Documents with no tokens produce no row (nothing to
    encode) — union them back upstream if empty sequences must survive.
    """
    toks = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    enc = toks.join(F.broadcast(vocab), "tok", "left").select(
        id_col, "pos", F.coalesce("token_id", F.lit(unk_id)).alias("tid")
    )
    packed = enc.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("pos", "tid"))).alias("_pt")
    )
    return packed.select(
        id_col,
        F.size("_pt").alias("n_tokens"),
        F.transform("_pt", lambda x: x["tid"]).alias("token_ids"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Greedy contiguous sequence packing: assign each document to a fixed
    token-budget bin by the running token count within its group.

    bin = floor(start_offset / budget) where start_offset is the running sum
    of token counts over (group, id order) — one window shuffle partitioned
    by the packing group (never a global window; at 100 TB the group key is
    the unit of parallelism, e.g. source shard).  Documents are never split
    across bins; a document longer than the budget occupies its bins alone
    (chunk first with :func:`chunk_documents` if hard caps are required).
    """
    w = Window.partitionBy(group_col).orderBy(id_col)
    tc = F.size(tokens(F.col(text_col)))
    d = df.select(F.col(group_col), F.col(id_col), tc.alias("n_tokens"))
    d = d.withColumn("_end", F.sum("n_tokens").over(w))
    return d.select(
        group_col,
        id_col,
        "n_tokens",
        F.floor((F.col("_end") - F.col("n_tokens")) / budget).alias("bin_id"),
    )


def chunk_documents(
    df: DataFrame,
    window: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-size token windows (1→N explode):
    :func:`sliding_window_chunks` with ``stride == window``.

    Output: (id, chunk_id, n_tokens, chunk_text).  Zero-token documents
    emit no rows.  All codegen: split, explode(sequence), slice, concat.
    """
    return sliding_window_chunks(df, window, window, text_col, id_col).drop("start_pos")


def stratified_sample_exact(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: str = "strat",
) -> DataFrame:
    """Exactly min(k, |group|) rows per group, deterministically.

    Rank rows within each group by md5(seed, id) (a fixed random order —
    rerun-stable, partitioning-independent) and keep rank <= k.  Unlike
    rate-based ``mixture_sample`` this guarantees the exact per-group count
    (eval-set construction, per-source caps).  One shuffle on the group key;
    a pathologically large group sorts within its partition — for skewed
    group keys pre-filter with a rate sample first.
    """
    from pyspark.sql import Window

    order = F.md5(F.concat(F.lit(f"{seed}/"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(order, F.col(id_col))
    return df.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k).drop("_rk")


def remove_duplicate_spans(
    df: DataFrame,
    span_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4/RefinedWeb-style span-level dedup: of every ``span_tokens``-token
    non-overlapping span that occurs more than once in the corpus, keep only
    the first occurrence (smallest (doc_id, position)) and rebuild each
    document from its surviving spans.

    Output: (id, clean_text, n_spans, n_removed) — one row per input
    document (empty/whitespace docs keep a row with clean_text '').

    Shape at 100 TB:
    - chunking is the codegen explode(sequence)+slice pattern
      (chunk_documents); the winner aggregation groups on the span's md5
      digest and min-reduces a (doc_id, pos) struct with map-side combine —
      that shuffle carries 16-byte keys + two longs, never span text;
    - span text crosses the wire exactly once, in the digest-keyed join
      that filters spans down to winners (sort-merge; AQE broadcasts the
      winner side when small);
    - reassembly groups by doc id (array_sort over (pos, span) structs —
      spans-per-doc bounded, per-row codegen).
    """
    d = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_w")).filter(F.size("_w") > 0)
    nspans = F.ceil(F.size("_w") / F.lit(span_tokens))
    d = d.select(id_col, "_w", F.explode(F.sequence(F.lit(0), nspans - 1)).alias("_pos"))
    span = F.concat_ws(" ", F.slice(F.col("_w"), F.col("_pos") * span_tokens + 1, span_tokens))
    spans = d.select(F.col(id_col).alias("_id"), "_pos", span.alias("_span"), F.md5(span).alias("_key"))
    winners = spans.groupBy("_key").agg(
        F.min(F.struct(F.col("_id"), F.col("_pos"))).alias("_first"),
    )
    kept = (
        spans.join(winners, "_key")
        .filter((F.col("_id") == F.col("_first._id")) & (F.col("_pos") == F.col("_first._pos")))
        .select("_id", "_pos", "_span")
    )
    rebuilt = kept.groupBy("_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("_pos"), F.col("_span")))),
                lambda s: s["_span"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = spans.groupBy("_id").agg(F.count(F.lit(1)).alias("n_spans"))
    return (
        df.select(F.col(id_col))
        .join(totals.withColumnRenamed("_id", id_col), id_col, "left")
        .join(rebuilt.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            (F.coalesce(F.col("n_spans"), F.lit(0)) - F.coalesce(F.col("_n_kept"), F.lit(0))).alias("n_removed"),
        )
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    (id, component) where component = min node id reachable.

    Collapses near-dup *pairs* (minhash/simhash/jaccard output) into
    clusters so dedup can keep one representative per cluster — without
    this, A~B and B~C keeps A and C even though they're transitive dups.

    Each round: symmetric edge join against current labels, then
    groupBy-min — both shuffles keyed on node id, so AQE coalesces them and
    a skewed mega-cluster is just a hot reduce key (capped upstream by the
    LSH bucket cap).  Labels monotonically decrease, so the sum of labels is
    a fixpoint detector; ``localCheckpoint`` truncates the per-round lineage
    (without it round k recomputes rounds 1..k-1 per consumer).  Near-dup
    graphs have tiny diameter, so 3-4 rounds typical; ``max_iter`` bounds
    pathological chains.
    """
    # Materialize the edge frame BEFORE the symmetric union: the union scans
    # `edges` twice, and without this the upstream pair-generation plan
    # (typically an expensive Jaccard join) executes once per branch.
    edges = edges.select(F.col(src).alias("n"), F.col(dst).alias("m")).localCheckpoint(eager=True)
    # The old code ran ensure_parallelism on the sym union, which put a
    # repartition exchange of the whole edge frame INTO every round's plan
    # (AQE coalesces the small pair-join output below cluster width before
    # the checkpoint freezes it — measured 5/32 at sf0.1).  AQE's layout is
    # the right granularity by BYTES, but an iterative pass can be
    # compute-bound on few rows (the pagerank single-task lesson), so:
    # re-spread ONCE, before the loop, only when the frozen layout is
    # degenerate versus the row count — never per round, in no regime.  The
    # count is near-free (checkpointed blocks); at real scale the scan is
    # already wide and this is a no-op.
    par = int(edges.sparkSession.sparkContext.defaultParallelism)
    n_edges = edges.count()
    want = int(min(par, max(1, n_edges // 250_000 + 1)))
    if edges.rdd.getNumPartitions() < want:
        edges = edges.repartition(want, F.col("n"), F.col("m")).localCheckpoint(eager=True)
    # sym is just two scans of the checkpointed edge frame — rebuilding the
    # union from memory-resident blocks each round is near-free, so a second
    # materialization of 2x the edges would only cost memory and a pass.
    sym = edges.union(edges.select(F.col("m").alias("n"), F.col("n").alias("m")))
    # The label loop runs only over nodes that appear in an edge — isolated
    # nodes (the overwhelming majority of a deduped corpus) are their own
    # component by definition and skip every iteration; they re-attach via
    # the final left join.  The per-iteration seed is each node's min
    # neighbor, folding what would otherwise be iteration 1 into the init.
    # Label checkpoints are LAZY: the convergence-stats collect right after
    # each one is the materializing action, so every round runs one job
    # instead of two (eager checkpoint pass + stats pass) — the blocks are
    # identical either way, later consumers read them from storage.
    labels = (
        sym.groupBy("n")
        .agg(F.least(F.min("m"), F.col("n")).alias("comp"))
        .select(F.col("n").alias("ln"), "comp")
        .localCheckpoint(eager=False)
    )
    # Checkpointed frames expose no size stats, so the planner would
    # sort-merge every round, shuffling the (much larger) edge list each
    # iteration.  The convergence check already runs one action per round —
    # piggyback a count on it and broadcast the label frame while it fits
    # (2 longs/row), which makes the propagation join map-side over the
    # checkpointed edge partitions: one exchange per round (the groupBy)
    # instead of three.  Past the limit it degrades to the shuffle join,
    # which is the correct plan at that size anyway.
    broadcast_limit = 2_000_000
    stats = labels.agg(F.sum("comp"), F.count(F.lit(1))).collect()[0]
    prev_sum, n_labels = stats[0] or 0, stats[1]
    for _ in range(max_iter):
        lab = F.broadcast(labels) if n_labels <= broadcast_limit else labels
        msgs = sym.join(lab, sym["m"] == labels["ln"], "inner").select(
            sym["n"].alias("ln"), F.col("comp")
        )
        # Pointer jumping (path doubling) as extra messages in the same
        # round: each node also receives the label of its current label
        # ("grandparent") — that label is <= comp and reachable, so the min
        # stays within the component, and label reach doubles per round:
        # chains collapse in O(log diameter) instead of O(diameter) rounds
        # (a path graph longer than max_iter would otherwise never
        # converge; with doubling, max_iter=20 covers diameters beyond
        # 2^20).  The self-join is between two reads of the checkpointed
        # label frame — broadcast on the same size rule.
        lab_j = lab.select(F.col("ln").alias("jn"), F.col("comp").alias("jcomp"))
        gmsgs = labels.join(lab_j, labels["comp"] == F.col("jn"), "inner").select(
            labels["ln"].alias("ln"), F.col("jcomp").alias("comp")
        )
        new_labels = (
            labels.unionByName(msgs).unionByName(gmsgs).groupBy("ln").agg(F.min("comp").alias("comp"))
        ).localCheckpoint(eager=False)
        stats = new_labels.agg(F.sum("comp"), F.count(F.lit(1))).collect()[0]
        s, n_labels = stats[0] or 0, stats[1]
        labels = new_labels
        if s == prev_sum:
            break
        prev_sum = s
    base = nodes.select(F.col(id_col))
    return base.join(labels.withColumnRenamed("ln", id_col), id_col, "left").select(
        F.col(id_col), F.coalesce("comp", F.col(id_col)).alias("component")
    )


def temperature_rates(
    df: DataFrame,
    alpha: float = 0.7,
    token_budget: int = 10_000,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-based mixture rates: per-source sampling probabilities
    ``p_s = n_s^alpha / sum_t n_t^alpha`` over token counts, flattened
    toward uniform as alpha -> 0 (the multilingual/UniMax-style upweighting
    of small sources), and the per-source keep ``rate`` that realizes a
    token budget (capped at 1 — a source cannot yield more than it has).

    Feed the resulting rates to :func:`mixture_sample` for the actual
    deterministic downsample.  One groupBy on the source key (map-side
    combine); the rate table is source-count-sized.
    """
    counts = (
        df.groupBy(source_col)
        .agg(F.sum(F.size(tokens(F.col(text_col)))).alias("n_tokens"))
    )
    z = counts.agg(F.sum(F.pow("n_tokens", F.lit(alpha))).alias("_z"))
    p = F.pow("n_tokens", F.lit(alpha)) / F.col("_z")
    return counts.crossJoin(F.broadcast(z)).select(
        source_col,
        "n_tokens",
        F.round(p, 6).alias("p"),
        F.round(F.least(F.lit(1.0), F.lit(float(token_budget)) * p / F.col("n_tokens")), 6).alias("rate"),
    )


def temperature_quota_sample(
    df: DataFrame,
    k_total: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "tqs",
) -> DataFrame:
    """Exact-k temperature-sampled mixture at alpha = 0.5: apportion
    ``k_total`` document slots across sources proportional to sqrt(n_s)
    (the sqrt-temperature upweighting of small sources used for
    multilingual/multi-source pretraining mixes), CAPPED at each source's
    row count, then fill each source's quota with its md5-order uniform
    sample.  Returns (source, id, grp_rank, quota).

    Cap-aware exact-k (r08, ADVICE fix): a small source whose sqrt share
    exceeds its row count used to silently under-fill the sample.  The
    apportionment is now water-filling: sources are scanned in ascending
    n order (for alpha=0.5 the saturation ratio n/w ~ sqrt(n) is monotone
    in n while n < 2.5e11 — documented bound), the saturated prefix takes
    quota = n, and the remaining A slots are shared over the suffix
    weights B by integer largest-remainder.  When no cap binds the result
    is bit-identical to plain largest-remainder over all sources (the
    pre-r08 behavior).  Exactness proof sketch: for an unsaturated source
    A*w_s <= n_s*B, so base <= n_s; the +1 remainder slots number
    t = sum(frac) < #unsaturated and only land on frac>0 sources, where
    base < n_s strictly.  If k_total >= total rows, every source
    saturates and the whole table is returned (exact-k impossible).

    Determinism contract (what makes this certifiable AND rerun-stable on
    any cluster): alpha is pinned to 0.5 because IEEE sqrt is correctly
    rounded — bit-identical on every engine — unlike pow(n, alpha);
    sqrt(n) is then fixed-pointed to micro-units and everything after is
    integer arithmetic (saturation tests are decimal(38,0) cross
    products, base/rem are DIV/MOD), so quotas can never flip on a float
    ulp.  For arbitrary alpha use :func:`temperature_rates` +
    :func:`mixture_sample` (rate-based, not exact-k).

    100 TB shape: one groupBy(source) count, all apportionment on the
    m-row source table (windows over m rows), one broadcast quota join,
    one per-source rank window over md5 keys — no global sort, no driver
    action (the plan is compile-pure like interleave_sources).
    """
    from pyspark.sql import Window

    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    w = F.expr("CAST(floor(sqrt(CAST(_n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)")
    ordered = counts.select(source_col, "_n", w.alias("_w"))
    # Water-filling scan order: ascending saturation ratio == ascending n
    # (exact integer sort key; see monotonicity bound in the docstring).
    scan = Window.orderBy(F.col("_n").asc(), F.col(source_col))
    full = Window.partitionBy()
    staged = (
        ordered.withColumn("_idx", F.row_number().over(scan))
        .withColumn(
            "_A",  # slots left if every earlier row saturates
            F.lit(k_total).cast("long")
            - F.coalesce(
                F.sum("_n").over(scan.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .withColumn(
            "_B",  # weight mass from this row on
            F.sum("_w").over(scan.rowsBetween(Window.currentRow, Window.unboundedFollowing)),
        )
        # Unsaturated-boundary test: lambda_i <= r_i, i.e. A*w <= n*B —
        # exact 128-bit cross products, no division.
        .withColumn(
            "_ok",
            F.expr(
                "CAST(_A AS DECIMAL(19,0)) * CAST(_w AS DECIMAL(19,0))"
                " <= CAST(_n AS DECIMAL(19,0)) * CAST(_B AS DECIMAL(19,0))"
            ),
        )
    )
    staged = (
        staged.withColumn("_istar", F.min(F.when(F.col("_ok"), F.col("_idx"))).over(full))
        .withColumn(
            "_As", F.max(F.when(F.col("_idx") == F.col("_istar"), F.col("_A"))).over(full)
        )
        .withColumn(
            "_Bs", F.max(F.when(F.col("_idx") == F.col("_istar"), F.col("_B"))).over(full)
        )
        .withColumn("_sat", F.col("_istar").isNull() | (F.col("_idx") < F.col("_istar")))
        .withColumn(
            "_base",
            F.when(F.col("_sat"), F.col("_n")).otherwise(
                F.expr(
                    "CAST((CAST(_As AS DECIMAL(19,0)) * CAST(_w AS DECIMAL(19,0)))"
                    " DIV CAST(_Bs AS DECIMAL(19,0)) AS BIGINT)"
                )
            ),
        )
        .withColumn(
            "_rem",
            F.when(F.col("_sat"), F.lit(-1).cast("decimal(38,0)")).otherwise(
                F.expr(
                    "CAST(_As AS DECIMAL(19,0)) * CAST(_w AS DECIMAL(19,0))"
                    " % CAST(_Bs AS DECIMAL(19,0))"
                )
            ),
        )
        .withColumn(
            "_t",
            F.coalesce(F.col("_As"), F.lit(0))
            - F.sum(F.when(~F.col("_sat"), F.col("_base")).otherwise(F.lit(0))).over(full),
        )
    )
    rem_rank = Window.orderBy(
        F.col("_sat").asc(), F.col("_rem").desc(), F.col(source_col)
    )
    quotas = staged.select(
        source_col,
        (
            F.col("_base")
            + F.when(
                (~F.col("_sat")) & (F.row_number().over(rem_rank) <= F.col("_t")), 1
            ).otherwise(0)
        ).alias("quota"),
    )
    u = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    w_rank = Window.partitionBy(source_col).orderBy(u, F.col(id_col))
    ranked = df.select(source_col, id_col).withColumn("grp_rank", F.row_number().over(w_rank))
    return ranked.join(F.broadcast(quotas), source_col).filter(
        F.col("grp_rank") <= F.col("quota")
    )


def weighted_sample(
    df: DataFrame,
    weight: Column,
    k: int,
    id_col: str = "doc_id",
    seed: str = "wsamp",
) -> DataFrame:
    """Exact-k weighted sample WITHOUT replacement (Efraimidis-Spirakis A-ES).

    Each row draws key = -ln(u)/w with u ~ Uniform(0,1]; the k smallest
    keys are a weighted sample without replacement — the standard one-pass
    distributed construction (quality-weighted corpus subsampling, where
    "weight" is a classifier score or doc length).  u comes from md5 of
    (seed, id) — deterministic, rerun-stable, partitioning-independent, and
    reproducible outside Spark (same idiom as hash_split).

    100 TB shape: the key is a map-only expression; the global k-smallest
    is TakeOrderedAndProject (per-partition top-k, then a k-row driver
    merge) — no shuffle, no global sort.  Weights <= 0 are clamped to 1e-9
    (never sampled in practice, never a crash).
    """
    # 15 hex chars = 60 bits: fits a BIGINT in both engines; +1 keeps u > 0.
    u = (
        (F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}/"), F.col(id_col).cast("string"))), 1, 15), 16, 10).cast("long") + 1)
        / F.lit(float(1 << 60))
    )
    key = -F.log(u) / F.greatest(weight.cast("double"), F.lit(1e-9))
    return (
        df.withColumn("_es", key)
        .orderBy("_es", F.col(id_col))
        .limit(k)
        .drop("_es")
    )


def _word_freqs(df: DataFrame, text_col: str, max_words: int | None) -> DataFrame:
    """(w, freq): the distinct-word table BPE and unigram-LM training
    iterate over, ONE corpus-wide shuffle.  ``max_words`` keeps the most
    frequent words (freq desc, word asc) via TakeOrderedAndProject
    (per-partition top-k, then one k-row merge) — a global row_number
    window would funnel the whole table through one partition."""
    words = df.select(F.explode(tokens(F.col(text_col))).alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("freq")
    )
    if max_words is None:
        return words
    return words.orderBy(F.col("freq").desc(), F.col("w")).limit(max_words)


def bpe_train(
    df: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
    max_words: int | None = 50000,
    end_token: str = "</w>",
) -> DataFrame:
    """Distributed BPE tokenizer training: learn the top merge rules.

    The classic algorithm [Sennrich et al. 2016]: start from characters,
    repeatedly merge the most frequent adjacent symbol pair.  The scale
    structure mirrors every published distributed implementation:

    1. ONE corpus-wide shuffle collapses text to the (distinct word,
       frequency) table — pair statistics over the corpus equal pair
       statistics over this table weighted by frequency, so the iteration
       never touches raw text again.  At web scale the distinct-word table
       is vocabulary-sized (~10-100M), 3-5 orders below corpus tokens.
    2. Optionally cap to the ``max_words`` most frequent words (standard
       practice; deterministic tie-break freq desc / word asc).
    3. Each round: explode adjacent pairs weighted by word freq, groupBy
       pair with map-side combine, argmax with deterministic tie-break
       (count desc, pair asc), then apply the merge to the symbol arrays.
       The merge application is an Arrow-batched mapInPandas over the
       word table (bounded by max_words, never by corpus size); the pair
       count stays a codegen aggregate.

    Returns the learned rules as (rank, left, right, pair_count).
    Deterministic end-to-end — pinned in pytest against a pure-Python
    reference implementation on the same corpus.
    """
    import pandas as pd

    spark = df.sparkSession
    # symbols: characters plus an end-of-word marker on the last char
    syms = _word_freqs(df, text_col, max_words).select(
        "freq",
        F.concat(
            F.split(F.col("w"), ""), F.array(F.lit(end_token))
        ).alias("s"),
    ).localCheckpoint()

    # Batched merge selection: each driver round-trip collects the top-T
    # count-ranked pairs ONCE and accepts the longest ranked prefix that
    # PROVABLY matches sequential argmax-BPE, then applies the whole batch
    # in one Arrow pass — cutting scheduler round-trips ~batch× while
    # staying bit-identical to the one-merge-at-a-time reference:
    #   1. prefix, never skip: stop at the first candidate whose symbols
    #      intersect an accepted pair's {l, r, l+r} (its count could have
    #      changed, and a skipped higher-count pair could still win later
    #      rounds);
    #   2. new-pair guard: merging (a,b)->ab creates pairs (x,ab) with
    #      count <= cnt(x,a) and (ab,y) with count <= cnt(b,y); accept the
    #      next candidate only if its count STRICTLY exceeds every
    #      accepted merge's bound max(max_z cnt(z,a), max_z cnt(b,z)) —
    #      bounds are read off the collected top-T (anything outside it
    #      counts <= the T-th count, a conservative floor), so no extra
    #      Spark job is needed.  Strict > because an equal-count new pair
    #      could win the (cnt desc, l, r) tie-break.
    _TOP_T = 256
    rules = []
    while len(rules) < n_merges:
        pairs = (
            syms.filter(F.size("s") >= 2)
            .select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("s"), 1, F.size("s") - 1),
                        F.slice(F.col("s"), 2, F.size("s") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(F.col("cnt").desc(), F.col("l"), F.col("r")).limit(_TOP_T).collect()
        if not top or top[0]["cnt"] < 2:
            break
        floor_cnt = top[-1]["cnt"] if len(top) == _TOP_T else 0
        max_into = {}   # max cnt(*, s) over the collected prefix
        max_outof = {}  # max cnt(s, *) over the collected prefix
        for r0 in top:
            max_into[r0["r"]] = max(max_into.get(r0["r"], floor_cnt), r0["cnt"])
            max_outof[r0["l"]] = max(max_outof.get(r0["l"], floor_cnt), r0["cnt"])
        batch: list = []
        used: set = set()
        new_bound = -1
        # Same-string collision guard: the per-merge bounds above assume
        # each accepted merge's created pairs land on FRESH pair strings,
        # so taking the max across merges is sound.  When two merge paths
        # yield the same symbol string — ('a','bc') and ('ab','c') both
        # -> 'abc', or a collision with a token learned in an earlier
        # round (every pre-existing multi-char corpus symbol is a learned
        # token or the end marker) — created counts STACK on each other
        # and on pre-existing same-string pairs, breaking the max-bound.
        # End the batch at the first such merge: it is still the true
        # argmax (its own acceptance only used sound earlier bounds), but
        # nothing after it may rely on bounds it contributed to.
        learned_strings = {left + right for _, left, right, _ in rules} | {end_token}
        batch_strings: set = set()
        for cand in top:
            if cand["cnt"] < 2 or len(rules) + len(batch) >= n_merges:
                break
            if batch and (({cand["l"], cand["r"]} & used) or cand["cnt"] <= new_bound):
                break
            merged = cand["l"] + cand["r"]
            batch.append((cand["l"], cand["r"], int(cand["cnt"])))
            used |= {cand["l"], cand["r"], merged}
            new_bound = max(
                new_bound,
                max_into.get(cand["l"], floor_cnt),
                max_outof.get(cand["r"], floor_cnt),
            )
            if merged in learned_strings or merged in batch_strings:
                break
            batch_strings.add(merged)
        for left, right, cnt in batch:
            rules.append((len(rules), left, right, cnt))
        merge_seq = [(left, right, left + right) for left, right, _ in batch]

        def apply_merges(batches, _ms=merge_seq):
            for pdf in batches:
                out = []
                for s in pdf["s"]:
                    s = list(s)
                    for _l, _r, _m in _ms:
                        res, i, n = [], 0, len(s)
                        while i < n:
                            if i + 1 < n and s[i] == _l and s[i + 1] == _r:
                                res.append(_m)
                                i += 2
                            else:
                                res.append(s[i])
                                i += 1
                        s = res
                    out.append(s)
                yield pd.DataFrame({"freq": pdf["freq"], "s": out})

        syms = syms.mapInPandas(apply_merges, schema="freq long, s array<string>").localCheckpoint()

    return driver_table(spark, rules, "rank int, left string, right string, pair_count long")


def bpe_encode(
    df: DataFrame,
    rules: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    end_token: str = "</w>",
) -> DataFrame:
    """Encode text with learned BPE merges: (id, n_tokens, tokens).

    The standard greedy encode: per word, repeatedly apply the
    highest-priority (lowest rank) applicable merge until none applies —
    exactly the algorithm of the reference tokenizers, so
    ``bpe_encode(df, bpe_train(df))`` reproduces trained-tokenizer output.

    100 TB shape: the rules table is tiny (n_merges rows) and collected
    once to the driver, then closure-broadcast into ONE Arrow-batched
    mapInPandas over the corpus — a single map-only pass, no shuffle, no
    per-row Python round trips.  Memoizing per distinct word inside each
    batch makes the per-row cost amortize to a dict lookup for frequent
    words (Zipf does the rest).
    """
    import pandas as pd

    rank_of = {
        (r["left"], r["right"]): r["rank"]
        for r in rules.select("rank", "left", "right").collect()
    }

    def encode_word(w: str) -> list[str]:
        syms = list(w) + [end_token]
        while len(syms) >= 2:
            best, best_rank = None, None
            for i in range(len(syms) - 1):
                rk = rank_of.get((syms[i], syms[i + 1]))
                if rk is not None and (best_rank is None or rk < best_rank):
                    best, best_rank = i, rk
            if best is None:
                break
            l, r = syms[best], syms[best + 1]
            merged, res, i = l + r, [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    res.append(merged)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        return syms

    def encode(batches):
        for pdf in batches:
            cache: dict[str, list[str]] = {}
            toks_out, n_out = [], []
            for text in pdf["_text"]:
                toks: list[str] = []
                for w in split_words(text):
                    if w not in cache:
                        cache[w] = encode_word(w)
                    toks.extend(cache[w])
                toks_out.append(toks)
                n_out.append(len(toks))
            yield pd.DataFrame({"_id": pdf["_id"], "n_tokens": n_out, "tokens": toks_out})

    src = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    out = src.mapInPandas(encode, schema="_id long, n_tokens int, tokens array<string>")
    return out.withColumnRenamed("_id", id_col)


def interleave_sources(
    df: DataFrame,
    group_col: str = "source",
    order_col: str = "doc_id",
) -> DataFrame:
    """Deterministic round-robin interleave across sources: training order
    that cycles source_0, source_1, ..., source_{m-1}, source_0, ... so an
    epoch never sees a long single-source run (source clumping destabilizes
    early training the same way an unshuffled epoch does, but preserving a
    deterministic order keeps runs reproducible — the global_shuffle
    alternative randomizes instead).

    ``pos = rank_within_source * m + source_index``: positions are unique,
    dense, and cycle the sources; a source that exhausts just leaves holes
    in later cycles (the order of survivors is unchanged).  Output adds
    (src_index, grp_rank, pos); sort by ``pos`` to materialize the order.

    Shape at 100 TB: one window per source partition (rank within source),
    one broadcast join of the m-row source-index table — no global window,
    no single-partition funnel; the final global sort is the caller's
    write-time ``orderBy``/``sortWithinPartitions`` decision.
    """
    from pyspark.sql import Window

    m_rows = df.select(F.col(group_col).alias("_g")).distinct()
    w_idx = Window.orderBy("_g")  # m rows only — tiny, driver-safe window
    # m is computed IN-PLAN (a count window over the m-row frame) rather
    # than via an eager idx.count() so pipeline compilation stays
    # action-free — no Spark job runs until the caller acts.
    idx = m_rows.withColumn("src_index", F.row_number().over(w_idx) - 1).withColumn(
        "_m", F.count(F.lit(1)).over(Window.partitionBy())
    )
    w_grp = Window.partitionBy(group_col).orderBy(order_col)
    ranked = df.withColumn("grp_rank", F.row_number().over(w_grp) - 1)
    return (
        ranked.join(F.broadcast(idx), ranked[group_col] == idx["_g"])
        .drop("_g")
        .withColumn("pos", F.col("grp_rank") * F.col("_m") + F.col("src_index"))
        .drop("_m")
    )


def rank_buckets(
    df: DataFrame,
    value_col: str,
    group_col: str = "lang",
    n_buckets: int = 3,
    out_col: str = "bucket",
    descending: bool = True,
) -> DataFrame:
    """Exact per-group rank buckets (CCNet head/middle/tail terciles,
    Wenzek et al. LREC'20) without a per-row global window.

    A naive ``ntile(k) OVER (ORDER BY score)`` funnels every row of a group
    through one task; this computes the same partition from the group's
    *value histogram* instead: bucket boundaries are the integer rank
    thresholds ``ceil(i*n/k)`` and a value's bucket is ``1 + #{thresholds <=
    docs strictly ahead of it}``.  Ties share a value row and therefore a
    bucket, so the result is deterministic with no id tie-break, and every
    per-row step is a map-side join against a histogram-sized LUT.

    Shape at 100 TB: one groupBy(group, value) with map-side combine (the
    histogram), a window over histogram rows (not doc rows), and a
    broadcast-able LUT join back — document rows shuffle once, on the
    (group, value) key they already aggregate on.  All threshold arithmetic
    is integer (``(n*i + k-1) DIV k``), so buckets are engine-portable.
    r10 optimization round: the per-group totals aggregate off the
    HISTOGRAM (sum of its counts == rows per group), not the raw frame —
    deriving it from ``df`` re-executed the caller's whole upstream plan
    (dolma's tokenize + unigram-logprob chain) a third time; the two
    histogram aggregations now share one identical (group, value)
    exchange, which ReuseExchange collapses to a single scan.
    """
    order = F.col(value_col).desc() if descending else F.col(value_col).asc()
    hist = df.groupBy(group_col, value_col).agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy(group_col).orderBy(order)
    totals = hist.groupBy(group_col).agg(F.sum("_c").alias("_n"))
    b = hist.withColumn("_cb", F.sum("_c").over(w) - F.col("_c")).join(totals, group_col)
    bucket = F.lit(1)
    for i in range(1, n_buckets):
        thr = F.expr(f"(_n * {i} + {n_buckets - 1}) DIV {n_buckets}")
        bucket = bucket + (F.col("_cb") >= thr).cast("int")
    lut = b.select(group_col, value_col, bucket.alias(out_col))
    return df.join(lut, [group_col, value_col])


def normalize_scores(
    df: DataFrame,
    score_col: str,
    group_col: str = "source",
    out_col: str = "score_pct",
) -> DataFrame:
    """Per-source percent-rank calibration of a quality score.

    Heterogeneous corpus sources have incomparable raw classifier scores
    (a 0.7 from web text != a 0.7 from code); ranking within source and
    normalizing to [0,1] makes one global threshold meaningful — the
    standard calibration step before mixture sampling on quality.

    One shuffle keyed on the source; percent_rank is a window over each
    source partition (ties share a rank, so the result is deterministic
    under any partitioning with no id tie-break needed)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.col(score_col))
    return df.withColumn(out_col, F.round(F.percent_rank().over(w), 6))


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    out_col: str = "qnorm",
    grid: int = 1000,
) -> DataFrame:
    """Quantile normalization: map every group's value distribution onto
    the POOLED distribution, so a value at the p-th percentile of its
    source becomes the pooled p-th percentile value.  Percent-rank
    calibration (normalize_scores) makes thresholds comparable; quantile
    normalization goes further and makes the VALUES comparable — the
    cross-source score-harmonization step when downstream consumers need
    real units, not ranks (the microarray-normalization classic, Bolstad
    et al. 2003, applied to corpus quality scores).

    Determinism contract: the per-source rank orders by (value, id) — the
    ``id_col`` tiebreak makes tied values rank identically on every
    engine — the rank index is exact integer arithmetic
    (``idx = round((rank-1) * grid / (n-1))`` as half-up integer
    division), and the pooled quantile grid uses exact interpolated
    percentiles (Spark ``percentile`` == DuckDB ``quantile_cont``), so
    the mapping is engine-portable.  Singleton groups (n == 1) map to
    the pooled median.

    Shape at 100 TB: one window per GROUP partition (never global) for
    the in-source rank, one aggregate for the (grid+1)-point pooled
    quantile table, broadcast-joined back — the value column never
    shuffles globally.  ``grid`` bounds the quantile table (1001 rows),
    the standard resolution/size trade.
    """
    from pyspark.sql import Window

    pct = [i / grid for i in range(grid + 1)]
    gtab = df.agg(
        F.expr(
            f"percentile({value_col}, array({', '.join(str(p) for p in pct)}))"
        ).alias("_grid")
    )
    w = Window.partitionBy(group_col).orderBy(F.col(value_col), F.col(id_col))
    ranked = df.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(group_col))
    )
    # half-up integer division (operands positive): no float division, so
    # the index is bit-exact and the SQL oracle mirrors it with `//`
    idx = F.when(
        F.col("_n") > 1,
        F.expr(
            f"CAST((CAST(_rk - 1 AS BIGINT) * {2 * grid} + (_n - 1)) DIV ((_n - 1) * 2) AS INT)"
        ),
    ).otherwise(F.lit(grid // 2))
    return (
        ranked.crossJoin(F.broadcast(gtab))
        .withColumn(out_col, F.round(F.element_at("_grid", idx + 1), 6))
        .drop("_rk", "_n", "_grid")
    )


def diff_snapshots(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff: (key, status) with status in
    added | removed | changed | unchanged.

    The data-ops primitive behind incremental corpus releases ("what moved
    between v3 and v4") — a full outer join on the key comparing content
    DIGESTS, so the shuffle carries (key, 32-byte md5) and never document
    text; at 100 TB both sides reduce to key+digest projections before the
    join."""
    o = old.select(F.col(key_col).alias("k"), F.md5(F.col(content_col)).alias("_ho"))
    n = new.select(F.col(key_col).alias("k"), F.md5(F.col(content_col)).alias("_hn"))
    j = o.join(n, "k", "full_outer")
    status = (
        F.when(F.col("_ho").isNull(), "added")
        .when(F.col("_hn").isNull(), "removed")
        .when(F.col("_ho") != F.col("_hn"), "changed")
        .otherwise("unchanged")
    )
    return j.select(F.col("k").alias(key_col), status.alias("status"))


def cap_per_group(
    df: DataFrame,
    group_col: str = "source",
    cap: int = 100,
    score_col: str | None = None,
    id_col: str = "doc_id",
    rank_col: str = "grp_rank",
    keep_col: str = "keep",
    prefilter: bool = False,
) -> DataFrame:
    """Per-group document cap (RefinedWeb-style per-domain limit): keep at
    most ``cap`` rows per ``group_col``, preferring the highest
    ``score_col`` (doc-id ascending tie-break; id order alone when no score
    is given).  Appends a deterministic within-group rank and a boolean
    ``keep`` flag instead of filtering, so the decision is auditable and
    the discarded rows remain addressable (the Dolma attribute posture).

    Shape at 100 TB: one shuffle keyed on the group and a row_number
    window.  A pathological group (one domain with 10^9 pages) makes one
    hot window partition; ``prefilter=True`` switches to the two-phase
    top-k shape — a first window over (input-partition, group) keeps only
    each task\'s local top-``cap``, bounding the global window\'s input to
    cap x num_partitions rows per group.  The global top-``cap`` is a
    subset of the union of local top-``cap``s, so ``keep`` is exact;
    the trade-off is that rows eliminated locally are absent from the
    output (keep-only semantics), which is why it is opt-in.
    """
    order = [F.col(score_col).desc(), F.col(id_col).asc()] if score_col else [F.col(id_col).asc()]
    src_df = df
    if prefilter:
        wl = Window.partitionBy(F.spark_partition_id(), group_col).orderBy(*order)
        src_df = (
            df.withColumn("_lr", F.row_number().over(wl))
            .filter(F.col("_lr") <= cap)
            .drop("_lr")
        )
    w = Window.partitionBy(group_col).orderBy(*order)
    out = src_df.withColumn(rank_col, F.row_number().over(w))
    return out.withColumn(keep_col, F.col(rank_col) <= cap)


def leakage_safe_split(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Train/val/test assignment where near-duplicate CLUSTERS never
    straddle a split boundary: a document's split is hashed from its
    connected-component id, not its own id, so A in train and its near-dup
    A' in test (silent eval leakage — the failure mode benchmark
    decontamination can't catch inside one corpus) cannot happen.

    Output: (id, component, split).

    Shape at 100 TB: connected_components' label-propagation rounds (edge
    list from any pair generator — minhash/simhash/jaccard — all
    bucket-capped upstream), then one md5 per row; the split stays a pure
    record property (stable under retries, growth, repartitioning) — it
    just keys on the cluster instead of the document.
    """
    comps = connected_components(edges, docs, src=src, dst=dst, id_col=id_col)
    assigned = hash_split(
        comps.withColumnRenamed("component", "_comp"),
        id_col="_comp",
        weights=weights,
        salt=salt,
    )
    return assigned.select(id_col, F.col("_comp").alias("component"), "split")


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer: Viterbi-EM training + encode.
# Two twins differ only in the segmenter and the count->score map.  The log
# twin scores a path as sum(ln(c/T)); libm ln is not guaranteed identical
# across engines, so it is rows-only.  The *_prob twin (r08) scores it as
# prod(c/T) in plain doubles: int->double (exact below 2^53), division and
# multiplication are correctly rounded IEEE-754 ops that Python, the JVM
# and DuckDB perform bit-identically, and the DP fixes the association
# order, so a SQL oracle replays the whole fit, float ties included (the
# kmeans_fit vs kmeans_fit_int split).  No underflow: words are short and
# probs >= 1/T.  One distributed fit, one Arrow encoder and one pure-Python
# reference serve both twins; the reference runs its own EM loop, not the
# Spark fit's, so it stays an independent pin of the distributed skeleton.
# ---------------------------------------------------------------------------


def _backtrack(word: str, back: list[int]) -> list[str]:
    """The pieces of ``word`` along a Viterbi DP's back-pointers."""
    out, i = [], len(word)
    while i > 0:
        out.append(word[back[i] : i])
        i = back[i]
    return out[::-1]


def _viterbi_segment(
    word: str, logprobs: dict[str, float], max_len: int
) -> list[str] | None:
    """Best segmentation of ``word`` into vocab pieces under a unigram LM —
    max total logprob, DP over end positions.  Tie-break: at equal score
    prefer the LONGER last piece (smaller split point), which is exact and
    engine-independent because candidate scores are compared on identical
    float arithmetic in both the distributed and reference paths.  Returns
    None when the word cannot be covered (never happens in training: every
    corpus character is seeded into the vocab)."""
    n = len(word)
    best = [0.0] + [float("-inf")] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            lp = logprobs.get(word[j:i])
            if lp is None or best[j] == float("-inf"):
                continue
            score = best[j] + lp
            # strictly-greater OR equal-with-smaller-j: longer last piece wins
            if score > best[i] or (score == best[i] and j < back[i]):
                best[i], back[i] = score, j
    return None if best[n] == float("-inf") else _backtrack(word, back)


def _viterbi_segment_prob(
    word: str, probs: dict, max_len: int
) -> list[str] | None:
    """Best segmentation under probability products — same DP and
    tie-break as ``_viterbi_segment`` (longer last piece at equal score)
    with scores multiplied instead of log-summed."""
    n = len(word)
    best = [1.0] + [0.0] * n  # 0.0 = unreachable (true scores are > 0)
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            p = probs.get(word[j:i])
            if p is None or best[j] == 0.0:
                continue
            score = best[j] * p
            if score > best[i] or (score == best[i] and j < back[i]):
                best[i], back[i] = score, j
    return None if best[n] == 0.0 else _backtrack(word, back)


def _log_score(count: int, total: int) -> float:
    return math.log(count / total)


def _prob_score(count: int, total: int) -> float:
    return count / total


def _unigram_reference(
    word_freqs: list[tuple[str, int]],
    segment: Callable,
    score: Callable[[int, int], float],
    vocab_size: int,
    n_iter: int,
    max_piece_len: int,
    seed_mult: int,
) -> list[tuple[str, int, float]]:
    """The exact Viterbi-EM algorithm on a (word, freq) list in one
    process, shared by both reference twins: (piece, count, score) sorted
    by (count desc, piece)."""
    # seed: every substring up to max_piece_len, weighted by word freq
    cand: Counter[str] = Counter()
    chars: set[str] = set()
    for w, f in word_freqs:
        chars.update(w)
        for i in range(len(w)):
            for l in range(1, min(max_piece_len, len(w) - i) + 1):
                cand[w[i : i + l]] += f
    multi = sorted(
        ((p, c) for p, c in cand.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[: seed_mult * vocab_size]
    pieces = {p: cand[p] for p in chars}
    pieces.update(dict(multi))

    def em_round(vocab_counts: dict[str, int]) -> dict[str, int]:
        total = sum(vocab_counts.values())
        scores = {p: score(c, total) for p, c in vocab_counts.items() if c > 0}
        counts: Counter[str] = Counter()
        for w, f in word_freqs:
            for p in segment(w, scores, max_piece_len) or []:
                counts[p] += f
        # chars never die (coverage guarantee, as in SentencePiece)
        return {p: max(counts.get(p, 0), 1 if len(p) == 1 else 0) for p in vocab_counts}

    for _ in range(n_iter):
        pieces = {p: c for p, c in em_round(pieces).items() if c > 0}
    # prune to vocab_size: all chars + best multi-char by (count desc, piece)
    multi_kept = sorted(
        ((p, c) for p, c in pieces.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[: max(0, vocab_size - len(chars))]
    pruned = {p: c for p, c in pieces.items() if len(p) == 1}
    pruned.update(dict(multi_kept))
    final = {p: c for p, c in em_round(pruned).items() if c > 0}
    tot = sum(final.values())
    return sorted(
        ((p, c, score(c, tot)) for p, c in final.items()),
        key=lambda x: (-x[1], x[0]),
    )


def unigram_lm_reference(
    word_freqs: list[tuple[str, int]],
    vocab_size: int = 64,
    n_iter: int = 3,
    max_piece_len: int = 4,
    seed_mult: int = 4,
) -> list[tuple[str, int, float]]:
    """Pure-Python single-process reference for ``unigram_lm_train`` — the
    exact algorithm on a (word, freq) list, used by pytest to pin the
    distributed implementation.  Returns (piece, count, logprob)."""
    return _unigram_reference(
        word_freqs, _viterbi_segment, _log_score, vocab_size, n_iter,
        max_piece_len, seed_mult,
    )


def unigram_lm_reference_prob(
    word_freqs: list,
    vocab_size: int = 64,
    n_iter: int = 3,
    max_piece_len: int = 4,
    seed_mult: int = 4,
) -> list:
    """Pure-Python single-process reference for ``unigram_lm_train_prob``
    (the pytest pin).  Returns (piece, count, prob)."""
    return _unigram_reference(
        word_freqs, _viterbi_segment_prob, _prob_score, vocab_size, n_iter,
        max_piece_len, seed_mult,
    )


def _unigram_fit(
    df: DataFrame,
    segment: Callable,
    score: Callable[[int, int], float],
    vocab_size: int,
    n_iter: int,
    max_piece_len: int,
    seed_mult: int,
    text_col: str,
    max_words: int | None,
) -> list[tuple[str, int]]:
    """The distributed Viterbi-EM fit both train twins run: the final
    (piece, count) rows sorted by (count desc, piece)."""
    import pandas as pd

    words = _word_freqs(df, text_col, max_words).localCheckpoint()

    # --- seed candidates: every substring (start i, length l <= max_piece_len)
    # by two codegen explodes, codegen sum, bounded top-k ---
    starts = words.select("w", "freq", F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i"))
    lens = F.sequence(F.lit(1), F.least(F.lit(max_piece_len), F.length("w") - F.col("i") + 1))
    subs = (
        starts.select("w", "freq", "i", F.explode(lens).alias("l"))
        .groupBy(F.substring("w", "i", "l").alias("p"))
        .agg(F.sum("freq").alias("cnt"))
    )
    chars = {r["p"]: int(r["cnt"]) for r in subs.filter(F.length("p") == 1).collect()}
    multi_rows = (
        subs.filter(F.length("p") > 1)
        .orderBy(F.col("cnt").desc(), F.col("p"))
        .limit(seed_mult * vocab_size)
        .collect()
    )
    pieces = {**chars, **{r["p"]: int(r["cnt"]) for r in multi_rows}}

    def em_round(vocab_counts: dict[str, int]) -> dict[str, int]:
        total = sum(vocab_counts.values())
        scores = {p: score(c, total) for p, c in vocab_counts.items() if c > 0}

        def estep(batches, _scores=scores, _seg=segment, _ml=max_piece_len):
            for pdf in batches:
                pairs = [
                    (p, int(f)) for w, f in zip(pdf["w"], pdf["freq"]) for p in _seg(w, _scores, _ml) or []
                ]
                yield pd.DataFrame(pairs, columns=["p", "c"])

        counted = {
            r["p"]: int(r["cnt"])
            for r in words.mapInPandas(estep, schema="p string, c long")
            .groupBy("p")
            .agg(F.sum("c").alias("cnt"))
            .collect()
        }
        return {p: max(counted.get(p, 0), 1 if len(p) == 1 else 0) for p in vocab_counts}

    for _ in range(n_iter):
        pieces = {p: c for p, c in em_round(pieces).items() if c > 0}
    multi_kept = sorted(
        ((p, c) for p, c in pieces.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[: max(0, vocab_size - len(chars))]
    pruned = {p: c for p, c in pieces.items() if len(p) == 1}
    pruned.update(dict(multi_kept))
    final = {p: c for p, c in em_round(pruned).items() if c > 0}
    return sorted(final.items(), key=lambda x: (-x[1], x[0]))


def unigram_lm_train(
    df: DataFrame,
    vocab_size: int = 64,
    n_iter: int = 3,
    max_piece_len: int = 4,
    seed_mult: int = 4,
    text_col: str = "text",
    max_words: int | None = 50000,
) -> DataFrame:
    """Distributed unigram-LM tokenizer training (SentencePiece's model
    [Kudo 2018, arXiv:1804.10959], Viterbi-EM variant): seed a candidate
    vocabulary from frequent substrings, iterate (Viterbi-segment every
    word under current piece probabilities -> re-estimate probabilities
    from the freq-weighted piece counts), prune to ``vocab_size``.

    Scale structure (same skeleton as bpe_train):
    1. ONE corpus shuffle to the (distinct word, freq) table; EM never
       touches raw text again.  Optional ``max_words`` cap, top-k via
       TakeOrderedAndProject.
    2. Candidate seeding is a bounded explode: ≤ ``max_piece_len · len(w)``
       substrings per word, codegen groupBy-sum, top-k reduce.
    3. Each EM round: piece logprobs (a few KB) ride into ONE Arrow-batched
       mapInPandas over the word table; the E-step emits (piece, freq)
       pairs and the M-step is a codegen groupBy SUM.  Viterbi (hard-EM)
       counts are INTEGERS, so the aggregate is exact and
       partitioning-independent — the determinism trick that also powers
       pagerank's decimal sums.
    4. Only the vocab-sized count table ever reaches the driver.

    Returns (rank, piece, piece_len, count, logprob) — logprob rounded 6dp.
    Pinned in pytest against ``unigram_lm_reference`` on the same corpus.
    """
    rows = _unigram_fit(
        df, _viterbi_segment, _log_score, vocab_size, n_iter, max_piece_len,
        seed_mult, text_col, max_words,
    )
    tot = sum(c for _, c in rows)
    return driver_table(
        df.sparkSession,
        [
            (i, p, len(p), c, round(_log_score(c, tot), 6))
            for i, (p, c) in enumerate(rows)
        ],
        "rank int, piece string, piece_len int, count long, logprob double",
    )


def unigram_lm_train_prob(
    df: DataFrame,
    vocab_size: int = 64,
    n_iter: int = 3,
    max_piece_len: int = 4,
    seed_mult: int = 4,
    text_col: str = "text",
    max_words: int | None = 50000,
) -> DataFrame:
    """``unigram_lm_train`` with product-domain Viterbi scoring — the
    certifiable twin (see the section banner above).  Same distributed
    fit.  Returns (rank, piece, piece_len, count, prob) with
    prob = count/total rounded 6dp IN SPARK (half-up parity with the
    oracle's round())."""
    rows = _unigram_fit(
        df, _viterbi_segment_prob, _prob_score, vocab_size, n_iter,
        max_piece_len, seed_mult, text_col, max_words,
    )
    tot = sum(c for _, c in rows)
    base = driver_table(
        df.sparkSession,
        [(i, p, len(p), c, tot) for i, (p, c) in enumerate(rows)],
        "rank int, piece string, piece_len int, count long, _tot long",
    )
    return base.select(
        "rank",
        "piece",
        "piece_len",
        "count",
        F.round(F.col("count").cast("double") / F.col("_tot").cast("double"), 6).alias("prob"),
    )


def _unigram_encode(
    df: DataFrame,
    segment: Callable,
    scores: dict[str, float],
    text_col: str,
    id_col: str,
    unk_token: str,
) -> DataFrame:
    """The Arrow encoder both encode twins run: per word, ``segment``'s
    best piece sequence under ``scores``; characters outside the
    vocabulary become ``unk_token``."""
    import pandas as pd

    max_len = max((len(p) for p in scores), default=1)

    def encode(batches, _scores=scores, _seg=segment, _ml=max_len, _unk=unk_token):
        for pdf in batches:
            memo: dict[str, list[str]] = {}
            ids, ns, toks = [], [], []
            for rid, text in zip(pdf["_id"], pdf["_text"]):
                out: list[str] = []
                # NULL text must yield 0 pieces (matches the SQL oracle's
                # semantics); str(None) would segment the literal 'None'.
                for w in split_words(text):
                    seg = memo.get(w)
                    if seg is None:
                        seg = _seg(w, _scores, _ml)
                        if seg is None:
                            # cover unknown chars: segment maximal known runs
                            seg = []
                            for known, run in groupby(w, _scores.__contains__):
                                run = "".join(run)
                                seg.extend(
                                    (_seg(run, _scores, _ml) or [_unk]) if known else [_unk] * len(run)
                                )
                        memo[w] = seg
                    out.extend(seg)
                ids.append(rid)
                ns.append(len(out))
                toks.append(out)
            yield pd.DataFrame({"_id": ids, "n_pieces": ns, "pieces": toks})

    src = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    out = src.mapInPandas(encode, schema="_id long, n_pieces int, pieces array<string>")
    return out.withColumnRenamed("_id", id_col)


def unigram_lm_encode(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_token: str = "<unk>",
) -> DataFrame:
    """Encode text with a trained unigram-LM vocabulary: per word, the
    Viterbi-best piece sequence under the piece logprobs; characters
    outside the vocabulary become ``unk_token``.

    Same deployment shape as bpe_encode: the vocab table is tiny, collected
    once, closure-broadcast into ONE Arrow-batched mapInPandas — map-only,
    no shuffle, per-distinct-word memoization inside each batch.

    Output: (id, n_pieces, pieces array<string>).
    """
    lps = {r["piece"]: float(r["logprob"]) for r in vocab.collect()}
    return _unigram_encode(df, _viterbi_segment, lps, text_col, id_col, unk_token)


def unigram_lm_encode_prob(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_token: str = "<unk>",
) -> DataFrame:
    """``unigram_lm_encode`` against a prob-twin vocabulary: Viterbi in
    the product domain with probs reconstructed EXACTLY as count/total
    from the vocab's integer counts (never from the rounded prob column).
    Same map-only Arrow shape and unknown-char fallback."""
    counts = {r["piece"]: int(r["count"]) for r in vocab.select("piece", "count").collect()}
    total = sum(counts.values())
    ps = {p: _prob_score(c, total) for p, c in counts.items()}
    return _unigram_encode(df, _viterbi_segment_prob, ps, text_col, id_col, unk_token)


def phrase_scan(
    df: DataFrame,
    phrases: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring contamination scan: per benchmark phrase, how many
    documents contain it and how many total occurrences — the
    case-sensitive byte-level complement to token-n-gram
    ``decontaminate`` (catches mid-word and punctuation-variant leaks
    that whitespace tokenization normalizes away).

    Occurrences are counted with pure codegen string arithmetic:
    ``(length(text) - length(replace(text, p))) / length(p)`` — no regex
    compilation, no UDF; each phrase adds one conditional-sum pair to a
    SINGLE aggregate node, so a k-phrase scan over 100 TB is still one
    map-side-combined scan.  ``phrases`` is a bounded literal list (a
    benchmark suite's canaries, tens-to-hundreds); for 10^5+ patterns
    switch to the n-gram hash join in ``decontaminate``.

    Returns (phrase, n_docs, n_occurrences) in input-phrase order.
    """
    aggs = []
    text = F.col(text_col)
    for i, p in enumerate(phrases):
        if not p:
            raise ValueError("empty phrase")
        occ = (
            (F.length(text) - F.length(F.replace(text, F.lit(p), F.lit(""))))
            / F.lit(len(p))
        ).cast("long")
        aggs.append(F.sum(F.when(occ > 0, 1).otherwise(0)).alias(f"_d{i}"))
        aggs.append(F.sum(occ).alias(f"_o{i}"))
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(p).alias("phrase"),
                F.col(f"_d{i}").alias("n_docs"),
                F.col(f"_o{i}").alias("n_occurrences"),
            )
            for i, p in enumerate(phrases)
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select("r.phrase", "r.n_docs", "r.n_occurrences")


def source_overlap_matrix(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source n-gram overlap matrix: for every source pair, the count
    of distinct word n-grams they share and the gram-set Jaccard — the
    dataset-card "how much does subset A leak into subset B" audit (the
    pairwise generalization of decontaminate(), which checks one corpus
    against one benchmark).  Includes zero-overlap pairs, so the output is
    the full upper triangle: (src_a, src_b, grams_a, grams_b, shared,
    jaccard), m*(m-1)/2 rows.

    Grams are compared as the portable md5 60-bit hash (the oracle idiom) —
    the shuffle and the self-join carry longs, never gram text; a collision
    needs two different grams to agree on 60 bits within one source pair
    (p ~ |grams|^2 / 2^60, negligible).

    100 TB shape: the gram explode is map-only; distinct and the self-join
    key on the gram hash, whose cardinality ~ corpus vocabulary — the
    shuffle spreads over the cluster (never keyed by source, which would
    put one source per task); per-source totals are m rows broadcast both
    ways; the zero-pair completion is an m^2 broadcast cross of two m-row
    aggregates.
    """
    grams = word_ngrams_exploded(df.select(source_col, text_col), text_col, source_col, n)
    g = grams.select(
        source_col,
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("long").alias("_g"),
    ).distinct()
    if not g.isStreaming:
        # lazy: materializes once on FIRST action, then feeds all three
        # consumers (totals + both join legs); eager would execute the
        # caller's entire upstream lineage at BUILD time, which punishes
        # pipelines that compose this audit but collect it later
        g = g.localCheckpoint(eager=False)
    totals = g.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_grams"))
    shared = (
        g.select(F.col(source_col).alias("src_a"), "_g")
        .join(g.select(F.col(source_col).alias("src_b"), "_g"), "_g")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ta = totals.select(F.col(source_col).alias("src_a"), F.col("n_grams").alias("grams_a"))
    tb = totals.select(F.col(source_col).alias("src_b"), F.col("n_grams").alias("grams_b"))
    pairs = ta.crossJoin(F.broadcast(tb)).filter(F.col("src_a") < F.col("src_b"))
    out = pairs.join(F.broadcast(shared), ["src_a", "src_b"], "left").withColumn(
        "shared", F.coalesce(F.col("shared"), F.lit(0))
    )
    jacc = F.col("shared").cast("double") / (
        F.col("grams_a") + F.col("grams_b") - F.col("shared")
    ).cast("double")
    return out.select(
        "src_a", "src_b", "grams_a", "grams_b", "shared", F.round(jacc, 6).alias("jaccard")
    )


def sliding_window_chunks(
    df: DataFrame,
    window: int = 64,
    stride: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token windows (RAG / long-context chunk prep): window
    starts at 0, stride, 2*stride, ...; the final window is the last start
    < n_tokens, so every token lands in at least one chunk and trailing
    text keeps window-worth of left context.  stride < window gives
    (window - stride) tokens of overlap between neighbors — the standard
    retrieval-chunking recipe; stride == window is
    :func:`chunk_documents`.

    Output: (id, chunk_id, start_pos, n_tokens, chunk_text), chunk_id
    0-based.  All codegen: split, explode(sequence), slice, concat —
    map-only, no shuffle; the 1->ceil(n/stride) fan-out is the same
    explode shape as chunk_documents.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("sliding_window_chunks requires window > 0 and stride > 0")

    # the size guard keeps zero-token documents out: Spark's ``sequence``
    # infers step -1 when start > stop, so an empty doc would yield [0, -1]
    d = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_w")).filter(F.size("_w") > 0)
    nchunks = F.ceil(F.size("_w") / F.lit(stride))
    d = d.select(
        id_col, "_w", F.explode(F.sequence(F.lit(0), nchunks - 1)).alias("chunk_id")
    )
    chunk = F.slice(F.col("_w"), F.col("chunk_id") * stride + 1, window)
    return d.select(
        id_col,
        "chunk_id",
        (F.col("chunk_id") * stride).alias("start_pos"),
        F.size(chunk).alias("n_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )
