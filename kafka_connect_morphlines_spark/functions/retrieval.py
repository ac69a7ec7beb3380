"""Text retrieval operators: inverted-index statistics, bounded posting
lists, and BM25 ranked search.

Why in a corpus-prep engine: decontamination audits ("which training docs
mention this benchmark phrase?"), boilerplate hunting, and quality triage all
reduce to term lookup + ranked retrieval over the document table.  The
reference engine feeds Solr for exactly this (loadSolr,
/root/reference/config/cloudsolr.conf:74-78); these operators are the
Spark-native equivalent that needs no external index server.

Shape at 100 TB:
- Index statistics are plain aggregates (count / min / max) over one token
  explode — map-side combine keeps the shuffle at one row per (partition,
  term), and the result is vocabulary-sized, not corpus-sized.
- Posting lists are only ever materialized *after* a doc-frequency band
  filter, so a stopword's billion-row posting list is never collected; the
  band bound is what makes `collect_list` admissible.
- BM25 scoring filters the exploded tokens against the (tiny, broadcast)
  query-term set *before* any shuffle, so the per-query cost is proportional
  to the matching postings, not the corpus.  Document text itself never
  shuffles — only (doc_id, term, tf) longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kafka_connect_morphlines_spark.functions.textstats import tokens


def term_postings(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(term, doc_id, tf): one row per distinct (term, document) pair.

    One codegen explode + groupBy; the shuffle carries (term, id, count)
    only.  This is the map phase of every index build below.
    """
    ex = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
    return ex.groupBy("term", id_col).agg(F.count(F.lit(1)).alias("tf"))


def index_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-term index statistics: document frequency, collection frequency,
    posting-list doc-id bounds.

    All four are algebraic aggregates (count/sum/min/max) so partial
    aggregation runs map-side and the shuffled state is one row per term per
    map partition — the scale-safe face of "build the index" that never
    materializes a posting list.
    """
    tp = term_postings(df, text_col, id_col)
    return tp.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("ctf"),
        F.min(id_col).alias("min_doc"),
        F.max(id_col).alias("max_doc"),
    )


def inverted_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    max_df: int = 10_000,
) -> DataFrame:
    """(term, df, postings): sorted doc-id posting lists for terms whose
    document frequency lies in [min_df, max_df].

    The band filter runs BEFORE collection (df computed first, postings
    semi-joined to surviving terms), so list size is bounded by ``max_df`` —
    the only reason a per-term ``collect_list`` is safe at corpus scale.
    Stopword-class terms (df > max_df) are exactly the ones whose posting
    lists would be useless *and* unbuildable; they stay as stats-only rows in
    :func:`index_stats`.
    """
    tp = term_postings(df, text_col, id_col)
    dfreq = tp.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    kept = dfreq.filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
    return (
        tp.join(kept, "term")
        .groupBy("term", "df")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("postings"))
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval: top-k documents for a bag-of-terms query.

    Uses the Lucene/BM25+ non-negative idf ``ln(1 + (N - df + 0.5)/(df +
    0.5))``.  Plan shape: the exploded token stream is filtered against the
    literal query-term set immediately (a pushdown-friendly `isin`), so the
    expensive paths — tf groupBy, df aggregate, score join — all run over
    matching postings only.  Document length and the corpus-wide (N, avgdl)
    pair come from a separate stats pass whose result is a single broadcast
    row.  Per-term scores are rounded then summed as exact DECIMAL so the
    final score is independent of aggregation order (a float sum over a
    shuffle is not reproducible run-to-run; a decimal sum is).

    Returns (doc_id, score, n_terms_matched) ordered by (score desc, doc_id)
    — a deterministic total order — limited to k.
    """
    terms = [t for t in query_terms if t]
    ex = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))

    # corpus stats: one row — N docs and average doc length.  dl feeds both
    # the stats aggregate and the per-doc score join; without materializing
    # it the full-corpus tokenization runs once per consumer (SCALE.md
    # lesson 7).  The checkpointed frame is two numbers per doc — tiny
    # relative to the text it replaces.
    dl = df.select(F.col(id_col), F.size(tokens(F.col(text_col))).alias("dl"))
    if not dl.isStreaming:
        dl = dl.localCheckpoint()
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))

    hits = ex.filter(F.col("term").isin(terms))
    tf = hits.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    # dfreq is query-vocabulary-sized (tiny): always broadcast.  dl is
    # doc-count-sized: equi-join on the id key and let AQE decide — tf is
    # already restricted to matching postings, so this join's left side is
    # small whenever the query is selective.
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
    denom = F.col("tf") + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    term_score = idf * (F.col("tf") * F.lit(k1 + 1.0)) / denom
    per_term = scored.select(
        F.col(id_col),
        F.round(term_score, 6).cast("decimal(18,6)").alias("_s"),
    )
    out = per_term.groupBy(id_col).agg(
        F.round(F.sum("_s"), 4).cast("double").alias("score"),
        F.count(F.lit(1)).alias("n_terms_matched"),
    )
    return out.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k TF-IDF terms per document: (id, term, tf, tfidf, rank) — the
    classic sparse document representation exported for downstream ML
    (keyword extraction, weak labels, cluster naming).

    tf = in-doc count, idf = ln((N+1)/(df+1)) + 1 (smoothed, never
    negative).  Two aggregates over the posting frame (per-doc tf, per-term
    df) joined back — the df table is vocabulary-sized, AQE broadcasts it;
    the top-k window partitions by document, so no global sort.  Ties break
    on term for determinism.
    """
    from pyspark.sql import Window

    tf = term_postings(df, text_col, id_col)  # already (term, id, tf)
    if not tf.isStreaming:
        tf = tf.localCheckpoint()  # feeds df-counts AND the score join
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = df.select(id_col).distinct().count()
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("_df") + 1)) + F.lit(1.0)
    scored = tf.join(dfreq, "term").select(
        id_col, "term", "tf", F.round(F.col("tf") * idf, 6).alias("tfidf")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def rrf_fuse(
    lists: "dict[str, DataFrame]",
    id_col: str = "doc_id",
    k_const: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR'09):
    combine several ranked retrieval lists into one by summing
    ``1 / (k_const + rank)`` per list — the standard fusion for hybrid
    lexical+vector search (BM25 list + embedding-cosine list).

    Each input frame must be a BOUNDED ranked list (a top-N result:
    ``(id_col, score)``, N ~ tens-to-hundreds of rows) — the corpus-sized
    work happens upstream in whatever produced the lists (bm25_topk's
    filtered postings, brute_force_topk's TakeOrdered).  Fusion itself
    therefore runs on k-sized frames: the per-list rank window and the
    full-outer id join are driver-trivial at any corpus scale, which is
    exactly why RRF is the production hybrid-search default.

    Determinism: rank = row_number over (score desc, id asc) — a total
    order; the fused score is a fixed-length sum of exact double terms
    ``1/(k_const+rank)`` evaluated in sorted-name list order, so it is
    bit-identical on any engine.  Returns
    ``(id_col, rank_<name>..., rrf_score)`` ordered by
    (rrf_score desc, id asc), limited to ``k``.
    """
    from pyspark.sql import Window

    fused = None
    names = sorted(lists)
    for name in names:
        w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
        r = lists[name].select(
            F.col(id_col), F.row_number().over(w).alias(f"rank_{name}")
        )
        fused = r if fused is None else fused.join(r, id_col, "full_outer")
    score = None
    for name in names:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(float(k_const)) + F.col(f"rank_{name}")), F.lit(0.0)
        )
        score = term if score is None else score + term
    return (
        fused.select(
            id_col,
            *[f"rank_{n}" for n in names],
            F.round(score, 6).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(k)
    )
