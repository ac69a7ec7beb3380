"""Text analysis operators: tokenization, quality scoring, language ID,
document fingerprinting.

All pure Column expressions (JVM-side, codegen): at 100 TB these run
map-side with zero shuffle — the scan is the only cost, and column pruning
means only ``text`` is read.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic
# language identifier.  Real deployments load bigger tables; the *operator*
# (score-and-argmax over marker hits) is what matters at scale.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "un", "pour", "que", "dans", "est", "les"],
    "de": ["der", "die", "und", "das", "ein", "mit", "ist", "von", "den", "nicht"],
    "zh": ["的", "是", "了", "在", "我", "有", "他", "这", "就", "不"],
}

EN_STOPWORDS = LANG_MARKERS["en"] + ["on", "with", "as", "at", "by", "an", "be", "this", "are", "was"]


# Java regex ``\s``: the characters ``tokens()`` separates on and strips.
_JAVA_WS = " \t\n\x0b\f\r"
_JAVA_WS_RUN = re.compile(f"[{_JAVA_WS}]+")


def tokens(text: Column) -> Column:
    """Whitespace tokenization — the one tokenizer every operator shares.

    Contract: tokens are the maximal runs of non-separator characters,
    where the separators are Java regex ``\\s`` (space, ``\\t``, ``\\n``,
    ``\\x0B``, ``\\f``, ``\\r``); empty tokens are dropped, so empty or
    whitespace-only text gives ``[]``; NULL gives NULL.  ``btrim`` strips
    the separators from both ends first (one-argument ``trim`` strips only
    spaces), so ``split`` on ``\\s+`` can then yield an empty token only
    for empty text, which the ``when`` maps to ``[]``.  Every step is a
    whole-stage-codegen expression — no interpreted higher-order function.

    The DuckDB oracles mirror it as ``string_split(trim(text), ' ')`` with
    empty tokens filtered out.  The two agree only on space-separated text,
    which holds for the test corpora: none of the 500/500/5,000 documents at
    sf0.001/0.01/0.1 contains a tab, newline, CR, form feed or vertical tab.
    """
    tt = F.btrim(text, F.lit(_JAVA_WS))
    return F.when(F.length(tt) == 0, F.array().cast("array<string>")).otherwise(F.split(tt, r"\s+"))


def split_words(text: str | None) -> list[str]:
    """``tokens`` for Python-worker code: the runs between Java ``\\s``
    separators, empty pieces dropped; ``[]`` for None or non-string text.
    ``str.split()`` would also split on Unicode spaces such as U+00A0."""
    return [w for w in _JAVA_WS_RUN.split(text) if w] if isinstance(text, str) else []


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-ish regex tokenization: words, numbers, and single punctuation
    marks as separate tokens (the GPT-2-style pre-tokenizer shape)."""
    return F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality features.

    Returns named Columns so callers project exactly what they need.
    """
    toks = tokens(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    stop_hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(EN_STOPWORDS)))
    punct_chars = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}-]", ""))
    uniq_ratio = F.when(n_tokens > 0, F.size(F.array_distinct(toks)) / n_tokens).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": F.when(n_tokens > 0, (F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))) / n_tokens).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0)),
        "punct_ratio": F.when(n_chars > 0, punct_chars / n_chars).otherwise(F.lit(0.0)),
        "unique_token_ratio": uniq_ratio,
    }


def lang_id(text: Column) -> Column:
    """Marker-token language ID: argmax of per-language marker hits, 'und'
    when nothing matches.  Deterministic tie-break by language code order."""
    toks = tokens(F.lower(text))
    best = F.lit("und")
    best_score = F.lit(0)
    for code in sorted(LANG_MARKERS):  # deterministic order; strict > keeps first-best
        score = F.size(F.filter(toks, lambda t: t.isin(LANG_MARKERS[code])))
        is_better = score > best_score
        best = F.when(is_better, F.lit(code)).otherwise(best)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best


def lang_id_exploded(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "lang_pred",
):
    """``lang_id`` as an explode-once + codegen-conditional-sum plan —
    identical output (same marker sets, strict >, code order, 'und'
    floor; parity pinned in pytest), ~5-10x faster at corpus scale.

    ``lang_id``'s Column form evaluates ``size(filter(tokens, ...))`` per
    language — interpreted per element, and it re-derives the token array
    for every language.  This variant explodes the tokens ONCE
    (explode_outer so empty/null-text docs keep their row and land on
    'und'), scores all languages as codegen CASE sums in a single
    groupBy(id) with map-side combine — the shingles_exploded discipline.
    Shuffle is one row per doc (the score tuple).
    """
    codes = sorted(LANG_MARKERS)
    toks = tokens(F.col(text_col))
    ex = df.select(F.col(id_col), F.explode_outer(toks).alias("_t")).select(
        F.col(id_col), F.lower(F.col("_t")).alias("_t")
    )
    scores = ex.groupBy(id_col).agg(
        *[
            F.sum(F.when(F.col("_t").isin(LANG_MARKERS[c]), 1).otherwise(0)).alias(f"_s_{c}")
            for c in codes
        ]
    )
    best = F.lit("und")
    best_score = F.lit(0).cast("long")
    for c in codes:  # same sequential strict-> argmax as lang_id
        s = F.coalesce(F.col(f"_s_{c}"), F.lit(0))
        is_better = s > best_score
        best = F.when(is_better, F.lit(c)).otherwise(best)
        best_score = F.when(is_better, s).otherwise(best_score)
    return scores.select(F.col(id_col), best.alias(out_col))


def shingles(text: Column, n: int = 4) -> Column:
    """Word n-gram shingles as strings (for fingerprints / MinHash / Jaccard)."""
    toks = tokens(text)
    k = F.size(toks) - (n - 1)
    return F.when(
        k > 0,
        F.transform(F.sequence(F.lit(1), k), lambda i: F.array_join(F.slice(toks, i, n), " ")),
    ).otherwise(F.array(F.array_join(toks, " ")))


def fingerprint(text: Column, n: int = 4) -> Column:
    """Document fingerprint: min hash-of-shingle (a 1-permutation MinHash,
    also the 'winnowing lite' rolling fingerprint).  Deterministic."""
    return F.array_min(F.transform(shingles(text, n), lambda s: F.md5(s)))


# --- codegen-shaped (explode + aggregate) variants -------------------------
# Spark higher-order functions are interpreted per element; the per-row cost
# (~ms/doc) is invisible at test scale and ruinous at 100 TB.  These variants
# explode once and aggregate with codegen expressions; map-side partial
# aggregation keeps the shuffle at one row per doc.


def shingles_exploded(df, text_col: str = "text", id_col: str = "doc_id", n: int = 4, outer: bool = False):
    """(id, _s): one row per word-n-gram shingle, fully codegen.

    Produces the same shingle strings as ``shingles()`` but ~20x faster at
    corpus scale: ``shingles()`` builds the array with ``F.transform``
    (interpreted per element), while this explodes the token *index*
    (``sequence``) and builds each shingle with ``array_join(slice(...))``
    inside whole-stage codegen.  Documents shorter than ``n`` tokens yield
    their whole text as one shingle (identical to ``shingles()``); with
    ``outer`` null-text docs keep a null-shingle row instead of dropping.
    """
    toks = tokens(F.col(text_col))
    k = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    base = df.select(F.col(id_col), toks.alias("_t"), k.alias("_k"))
    gen = F.explode_outer if outer else F.explode
    return base.select(
        F.col(id_col), "_t", gen(F.sequence(F.lit(1), F.col("_k"))).alias("_i")
    ).select(F.col(id_col), F.array_join(F.slice("_t", F.col("_i"), n), " ").alias("_s"))


def fingerprint_df(df, text_col: str = "text", id_col: str = "doc_id", n: int = 4):
    """(id, fp): min(md5(shingle)) via codegen shingle explode + groupBy-min."""
    ex = shingles_exploded(df, text_col, id_col, n, outer=True)
    return ex.groupBy(id_col).agg(F.min(F.md5(F.col("_s"))).alias("fp"))


def quality_features_df(df, text_col: str = "text", id_col: str = "doc_id"):
    """(id, n_tokens, stopword_ratio, unique_token_ratio, avg_token_len) as a
    map-only projection — ZERO shuffle.

    v1 exploded tokens and aggregated back per doc; the ``countDistinct``
    added an expand pass and the whole thing cost a shuffle plus a 16 s
    codegen-compile on first run.  Everything here is per-row: tokens via
    ``tokens`` (whole-stage codegen), the distinct count via
    ``array_distinct`` (codegen), token-length sum as
    ``length(regexp_replace(text, '\\s', ''))`` (total non-whitespace chars
    == sum of token lengths), and only the stopword count uses an
    interpreted higher-order filter (one pass per doc, embarrassingly
    parallel).  At 100 TB this runs map-side with the scan as the only cost.
    """
    toks = tokens(F.col(text_col))
    nonws = F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
    d = df.select(F.col(id_col), toks.alias("_t"), nonws.alias("_nonws"))
    nt = F.size("_t")
    stop = F.size(F.filter("_t", lambda x: F.lower(x).isin(EN_STOPWORDS)))
    uniq = F.size(F.array_distinct("_t"))
    return d.select(
        F.col(id_col),
        nt.alias("n_tokens"),
        F.when(nt > 0, stop / nt).otherwise(F.lit(0.0)).alias("stopword_ratio"),
        F.when(nt > 0, uniq / nt).otherwise(F.lit(0.0)).alias("unique_token_ratio"),
        F.when(nt > 0, F.col("_nonws") / nt).otherwise(F.lit(0.0)).alias("avg_token_len"),
    )


def zipf_slope_df(df, text_col: str = "text", tie_subbuckets: int = 64):
    """One-row corpus statistic: the Zipf slope — the OLS slope of
    ln(frequency) on ln(rank) over the token frequency table (natural
    corpora sit near -1; gibberish and templated text deviate — a cheap
    corpus-health diagnostic).

    Output: (n_vocab, zipf_slope).

    Scale shape (late r10 — previously a vocabulary-sized row_number on
    ONE partition, the exact hazard the guardrail hunts: Heaps' law puts
    |vocab| at 1e8+ for a 100 TB corpus).  The statistic only depends on
    the MULTISET of (rank, count) pairs, and every token in a count-tie
    group shares ln(count), so WHICH token takes which rank inside a tie
    group cannot move the answer.  That freedom distributes the ranking
    exactly:

    1. the (count, group-size) frame — one row per DISTINCT count, at
       most O(sqrt(total tokens)) rows — takes an adaptive exclusive
       cumulative (orderstats.bucketed_cumsum), giving each tie group
       its base = #tokens with a larger count;
    2. tie groups split into ``tie_subbuckets`` deterministic xxhash64
       sub-buckets; per-(count, sub-bucket) sizes cumulate WITHIN each
       count (a window over <= tie_subbuckets rows per count);
    3. each token's rank = base + its sub-bucket offset + a row_number
       over its (count, sub-bucket) slice — every window partition is
       either sub-bucket-count-bounded or ~group/tie_subbuckets rows.

    The giant c=1 singleton group — half the vocabulary — lands on all
    cores instead of one.  The (rank, count) multiset is identical to
    the single-window formulation, so the certified 6dp statistic is
    unchanged.
    """
    from pyspark.sql import Window

    from kafka_connect_morphlines_spark.functions import orderstats

    ex = df.select(F.explode(tokens(F.col(text_col))).alias("_t"))
    counts = ex.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
    counts = counts.localCheckpoint()  # counted below; 3 jobs read it
    n_vocab = counts.count()
    per_c = counts.groupBy("_c").agg(F.count(F.lit(1)).alias("_g"))
    per_c = per_c.localCheckpoint()
    # base = #tokens with a LARGER count = V - before_asc - g
    based = orderstats.bucketed_cumsum(
        per_c, "_c", {"_before_asc": "_g"}, n_rows=per_c.count()
    ).select(
        "_c", (F.lit(n_vocab) - F.col("_before_asc") - F.col("_g")).alias("_base")
    )
    sub = counts.withColumn(
        "_hb", F.pmod(F.xxhash64("_t"), F.lit(tie_subbuckets)).cast("int")
    )
    w_hb = Window.partitionBy("_c").orderBy("_hb").rowsBetween(
        Window.unboundedPreceding, -1
    )
    hb_off = (
        sub.groupBy("_c", "_hb")
        .agg(F.count(F.lit(1)).alias("_hn"))
        .withColumn("_hoff", F.coalesce(F.sum("_hn").over(w_hb), F.lit(0)))
        .select("_c", "_hb", "_hoff")
    )
    w_tok = Window.partitionBy("_c", "_hb").orderBy("_t")
    ranked = (
        sub.join(hb_off, ["_c", "_hb"])
        .join(based, "_c")
        .withColumn(
            "_rank", F.col("_base") + F.col("_hoff") + F.row_number().over(w_tok)
        )
    )
    x = F.log(F.col("_rank").cast("double"))
    y = F.log(F.col("_c").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.round(F.covar_pop(x, y) / F.var_pop(x), 6).alias("zipf_slope"),
    )


def hashed_linear_score_df(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 4096,
    seed: str = "qclf",
    weights=None,
    carry_cols: tuple = (),
):
    """(id, n_tokens, score, label): fasttext-style linear quality classifier
    over hashed bag-of-words features.

    Each token maps to a feature bucket ``md5(token) % dim``; the model is a
    weight per bucket; a document's score is the mean token weight and the
    label is ``score > 0``.  Two weight sources:

    - ``weights`` DataFrame (bucket, weight_milli: int in [-1000, 1000]) — a
      real (externally trained) model, joined onto the exploded tokens.  The
      table is dim-sized, far under the broadcast budget, so the join is a
      broadcast hash join: corpus text never shuffles.
    - ``None`` — weights derived per row from ``md5(seed, bucket)``: a fixed
      pseudo-random model (the oracle-testable default), fully map-side.

    Determinism contract: weights are integer *milli-units*, so the per-doc
    sum is exact BIGINT arithmetic — no float summation-order sensitivity —
    and the 6-dp score is computed by integer half-away-from-zero division
    (micro = (2*|sum|*1000 + n) div (2*n)), so no engine-dependent float
    rounding exists anywhere (a plain round(sum/(1000n), 6) hit a
    half-boundary tie at sf0.1 where Spark and DuckDB rounded the same
    double differently).  Shape at 100 TB: explode + per-doc groupBy with
    map-side combine; the shuffle carries (id, long) partial sums, never
    text.

    ``carry_cols``: narrow per-document columns (e.g. ``source``) to keep
    in the output.  They ride the explode and become extra groupBy keys
    (id is unique, so cardinality is unchanged) — one scan and one
    shuffle instead of scoring then re-joining the source frame on id.
    """
    carry = [F.col(c) for c in carry_cols]
    ex = df.select(
        F.col(id_col),
        *carry,
        F.explode_outer(tokens(F.col(text_col))).alias("_t"),
    ).select(
        F.col(id_col),
        *carry,
        "_t",
        (
            F.conv(F.substring(F.md5(F.concat(F.lit(f"feat/{seed}/"), F.col("_t"))), 1, 6), 16, 10).cast("long")
            % dim
        ).alias("_bkt"),
    )
    if weights is not None:
        w = F.broadcast(weights.select(F.col("bucket").alias("_bkt"), F.col("weight_milli").alias("_wm")))
        ex = ex.join(w, "_bkt", "left")
    else:
        ex = ex.withColumn(
            "_wm",
            F.conv(F.substring(F.md5(F.concat(F.lit(f"w/{seed}/"), F.col("_bkt").cast("string"))), 1, 6), 16, 10)
            .cast("long")
            % 2001
            - 1000,
        )
    agg = ex.groupBy(id_col, *carry_cols).agg(
        F.count("_t").alias("n_tokens"),
        F.coalesce(F.sum("_wm"), F.lit(0)).alias("_sum_milli"),
    )
    nt = F.col("n_tokens")
    sm = F.col("_sum_milli")
    # score in exact integer micro-units, half away from zero; operands are
    # non-negative so `div` (truncating) == floor
    micro = F.when(sm < 0, F.lit(-1)).otherwise(F.lit(1)) * F.expr(
        "(abs(_sum_milli) * 2000 + n_tokens) div (2 * n_tokens)"
    )
    return agg.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        nt,
        F.when(nt > 0, micro.cast("double") / F.lit(1000000.0)).otherwise(F.lit(0.0)).alias("score"),
        (sm > 0).alias("label"),
    )


def unigram_logprob_df(df, text_col: str = "text", id_col: str = "doc_id", alpha: float = 1.0):
    """(id, n_tokens, logprob): per-document average unigram log-probability
    under the corpus's own add-alpha-smoothed unigram LM — the classic
    cheap perplexity-style quality filter for LLM corpora (gibberish and
    boilerplate score far from the corpus mode).

    Shape at 100 TB: one explode + token-count groupBy builds the LM (the
    count table is vocabulary-sized, shuffled once with map-side combine),
    the corpus total rides along as a literal-sized single-row cross join,
    and scoring is a broadcast-eligible join of exploded tokens against the
    LM followed by a per-doc average — token hashes and counts in the
    shuffle, never document text.  Empty docs keep a row (outer explode)
    with logprob 0.
    """
    ex = df.select(F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("_t"))
    counts = ex.filter(F.col("_t").isNotNull()).groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
    totals = counts.agg(F.sum("_c").alias("_total"), F.count(F.lit(1)).alias("_vocab"))
    lm = counts.crossJoin(F.broadcast(totals)).select(
        "_t",
        F.log((F.col("_c") + F.lit(alpha)) / (F.col("_total") + F.lit(alpha) * F.col("_vocab"))).alias("_lp"),
    )
    # no broadcast hint on the LM: a 100 TB corpus's vocabulary may exceed
    # the broadcast budget — AQE picks broadcast when the count table is
    # small enough and falls back to a token-keyed shuffle join otherwise
    scored = ex.join(lm, "_t", "left")
    return scored.groupBy(id_col).agg(
        F.count(F.col("_t")).alias("n_tokens"),
        F.round(F.coalesce(F.avg("_lp"), F.lit(0.0)), 6).alias("logprob"),
    )


def bigram_logprob_df(df, text_col: str = "text", id_col: str = "doc_id", alpha: float = 1.0):
    """(id, n_bigrams, logprob): per-document average conditional bigram
    log-probability ``ln P(w2 | w1)`` under the corpus's own add-alpha-smoothed
    bigram LM — the next step up from :func:`unigram_logprob_df` on the
    perplexity-filter ladder (catches shuffled-word salad that unigram
    statistics cannot: the same tokens in implausible order score low).

    ``P(w2|w1) = (c(w1 w2) + alpha) / (c(w1) + alpha * V)`` with V = unigram
    vocabulary size.  Documents with fewer than two tokens get logprob 0 and
    n_bigrams 0 (kept via a left join back to the corpus ids).

    Shape at 100 TB: bigrams come from one codegen index-explode (no
    interpreted higher-order fold), both count tables shuffle once with
    map-side combine (bigram table ~ O(V^2) worst case but Zipf-bounded in
    practice), scoring joins carry only (id, hash, count) — document text
    never shuffles.  AQE broadcasts the count tables when they fit.
    """
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("_t"))
    # one row per bigram occurrence: (id, w1, w2), codegen explode of the
    # token index — same shape as shingles_exploded but keeping the pair
    # components separate (we need c(w1) as well as c(w1 w2))
    pairs = base.filter(F.size("_t") >= 2).select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(1), F.size("_t") - 1)).alias("_i"),
        F.col("_t"),
    ).select(
        F.col(id_col),
        F.element_at("_t", F.col("_i")).alias("_w1"),
        F.element_at("_t", F.col("_i") + 1).alias("_w2"),
    )
    # pairs feeds the bigram-count aggregate AND the scoring join; without a
    # checkpoint the tokenize+explode runs once per consumer (SCALE.md
    # lesson 7)
    if not pairs.isStreaming:
        pairs = pairs.localCheckpoint()
    uni = df.select(F.explode(toks).alias("_w")).groupBy("_w").agg(F.count(F.lit(1)).alias("_c1"))
    vocab = uni.agg(F.count(F.lit(1)).alias("_v"))
    big = pairs.groupBy("_w1", "_w2").agg(F.count(F.lit(1)).alias("_c2"))
    lm = (
        big.join(uni.withColumnRenamed("_w", "_w1"), "_w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "_w1",
            "_w2",
            F.log((F.col("_c2") + F.lit(alpha)) / (F.col("_c1") + F.lit(alpha) * F.col("_v"))).alias("_lp"),
        )
    )
    scored = pairs.join(lm, ["_w1", "_w2"], "left")
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_lp"), 6).alias("logprob"),
    )
    ids = df.select(F.col(id_col))
    return ids.join(agg, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("logprob", F.lit(0.0)).alias("logprob"),
    )


def kn_bigram_logprob_df(df, text_col: str = "text", id_col: str = "doc_id", discount: float = 0.75):
    """(id, n_bigrams, logprob): per-doc average ln P(w2|w1) under interpolated
    Kneser-Ney — the standard n-gram smoothing for perplexity filtering
    (add-alpha over-penalizes unseen pairs of common words; KN backs off to
    how promiscuously a word CONTINUES contexts, not how often it occurs).

    P(w2|w1) = max(c(w1w2) - D, 0)/c(w1·) + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)

    Every factor derives from the bigram count table alone (left-context
    totals, per-context fan-out, continuation counts, total bigram types) —
    four aggregates over a Zipf-bounded table, then a scoring join that
    carries only (id, w1, w2).  Document text never shuffles.
    """
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("_t"))
    pairs = base.filter(F.size("_t") >= 2).select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(1), F.size("_t") - 1)).alias("_i"),
        F.col("_t"),
    ).select(
        F.col(id_col),
        F.element_at("_t", F.col("_i")).alias("_w1"),
        F.element_at("_t", F.col("_i") + 1).alias("_w2"),
    )
    if not pairs.isStreaming:
        pairs = pairs.localCheckpoint()
    big = pairs.groupBy("_w1", "_w2").agg(F.count(F.lit(1)).alias("_c2")).localCheckpoint()
    # left-context totals and fan-out: c(w1·) and N1+(w1·)
    ctx = big.groupBy("_w1").agg(
        F.sum("_c2").alias("_c1"), F.count(F.lit(1)).alias("_nfol")
    )
    # continuation counts N1+(·w2) and total bigram types N1+(··)
    cont = big.groupBy("_w2").agg(F.count(F.lit(1)).alias("_ncont"))
    types = big.agg(F.count(F.lit(1)).alias("_ntypes"))
    lm = (
        big.join(ctx, "_w1")
        .join(cont, "_w2")
        .crossJoin(F.broadcast(types))
        .select(
            "_w1",
            "_w2",
            F.log(
                F.greatest(F.col("_c2") - F.lit(discount), F.lit(0.0)) / F.col("_c1")
                + F.lit(discount)
                * F.col("_nfol")
                / F.col("_c1")
                * (F.col("_ncont") / F.col("_ntypes"))
            ).alias("_lp"),
        )
    )
    scored = pairs.join(lm, ["_w1", "_w2"], "left")
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_lp"), 6).alias("logprob"),
    )
    ids = df.select(F.col(id_col))
    return ids.join(agg, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("logprob", F.lit(0.0)).alias("logprob"),
    )


def vocab_growth(df, n_buckets: int = 10, text_col: str = "text", id_col: str = "doc_id"):
    """Vocabulary growth curve (Heaps' law audit): corpus docs are split
    into ``n_buckets`` equal slices by id order, and each slice reports the
    running token count and running distinct-type count — the V(N) curve
    whose log-log slope is the Heaps exponent.  A flattening curve is the
    classic signal that a crawl has stopped contributing new content.

    The curve needs "distinct types seen so far" at every checkpoint —
    naively a cumulative COUNT(DISTINCT) rescan per slice.  One pass
    suffices: a type is new at exactly one slice (the one containing
    ``min(doc_id)`` over its occurrences), so per-slice new-type counts
    followed by a running sum over ``n_buckets`` rows IS the curve.

    Shape at 100 TB: slice assignment needs each doc's exact global rank by
    id, and ids are UNIQUE — the histogram-CDF trick (rank_buckets) would
    degenerate to a doc-count-sized histogram through one window
    partition.  Instead the rank is computed two-phase: range-bin the id
    space (~4k bins from one min/max agg), take per-bin counts (map-side
    combined) and a running offset over the bin table (4k rows), then a
    row_number window *within* each bin — no partition ever sees more than
    a bin's worth of rows.  Tokens then shuffle twice with map-side
    combine (token -> min(doc_id), slice -> counts); the cumulative window
    runs over ``n_buckets`` rows.  Output: (bucket, n_docs, n_tokens,
    cum_tokens, new_types, cum_types).
    """
    from pyspark.sql import Window

    docs = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_w"))
    mn, mx, total = docs.agg(
        F.min(id_col), F.max(id_col), F.count(F.lit(1))
    ).first()
    width = max(1, (int(mx) - int(mn) + 1) // 4096) if mx is not None else 1
    binned = docs.withColumn("_bin", ((F.col(id_col) - F.lit(int(mn or 0))) / width).cast("long"))
    bin_counts = binned.groupBy("_bin").agg(F.count(F.lit(1)).alias("_bc"))
    wbin = Window.orderBy("_bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    offsets = bin_counts.select(
        "_bin", (F.sum("_bc").over(wbin) - F.col("_bc")).alias("_off")
    )
    win_in = Window.partitionBy("_bin").orderBy(id_col)
    ranked = binned.join(F.broadcast(offsets), "_bin").withColumn(
        "_rank0", F.col("_off") + F.row_number().over(win_in) - 1
    )
    bucket = F.lit(1)
    for i in range(1, n_buckets):
        thr = (int(total) * i + n_buckets - 1) // n_buckets
        bucket = bucket + (F.col("_rank0") >= F.lit(thr)).cast("int")
    sliced = ranked.select(id_col, "_w", bucket.alias("bucket"))
    lut = sliced.select(F.col(id_col).alias("_id"), "bucket")
    per_doc = sliced.select(id_col, "bucket", F.size("_w").alias("_n"))
    slice_tokens = per_doc.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("_n").alias("n_tokens")
    )
    first_seen = (
        sliced.select(F.col(id_col), F.explode("_w").alias("_tok"))
        .groupBy("_tok")
        .agg(F.min(id_col).alias("_first"))
        .join(lut, F.col("_first") == F.col("_id"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    curve = slice_tokens.join(first_seen, "bucket", "left").select(
        "bucket", "n_docs", "n_tokens", F.coalesce("new_types", F.lit(0)).alias("new_types")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return curve.select(
        "bucket",
        "n_docs",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
        "new_types",
        F.sum("new_types").over(w).alias("cum_types"),
    )


def collocations_pmi_df(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    topk: int = 20,
):
    """Collocation mining by pointwise mutual information (Church & Hanks,
    1990): the ``topk`` adjacent-token bigrams whose co-occurrence most
    exceeds the unigram-independence expectation,
    ``PMI = ln(c12 * N / (c1 * c2))`` over bigram-margin counts.

    All counts are exact integers from one bigram explode + three
    aggregates (bigrams, left margins, right margins); N is the bigram
    total.  PMI is one fixed-shape double expression over those integers
    (the _ratio6 portability argument), and the global top-k is
    orderBy().limit() — TakeOrderedAndProject, no single-partition window.
    ``min_count`` prunes hapax pairs BEFORE the margin joins, which both
    denoises PMI (its known low-count pathology) and keeps the joined
    frame bounded at corpus scale.

    Returns (w1, w2, c12, c1, c2, pmi) ordered by (pmi desc, w1, w2).
    """
    from pyspark.sql import Window  # noqa: F401  (kept for API symmetry)

    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    n = F.size("_t")
    pairs = toks.filter(n >= 2).select(
        F.explode(F.sequence(F.lit(1), n - 1)).alias("_i"), F.col("_t")
    ).select(
        F.element_at("_t", F.col("_i")).alias("w1"),
        F.element_at("_t", F.col("_i") + 1).alias("w2"),
    )
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    if not big.isStreaming:
        big = big.localCheckpoint()  # feeds margins + total + the scored join
    left = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    right = big.groupBy("w2").agg(F.sum("c12").alias("c2"))
    total = big.agg(F.sum("c12").alias("_n"))
    scored = (
        big.filter(F.col("c12") >= min_count)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "c12", "c1", "c2",
            F.round(
                F.log(
                    (F.col("c12").cast("double") * F.col("_n").cast("double"))
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2")).limit(topk)


def control_char_stats_df(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Per-document control/replacement-character audit — the mojibake and
    binary-contamination signal of corpus cleaning: (id, n_chars,
    n_control, n_replacement, control_ratio).

    ``n_control`` counts C0/C1 control characters excluding \\t \\n \\r;
    ``n_replacement`` counts U+FFFD (the decoder's substitution char, the
    smoking gun of a wrong-charset decode).  Counting is
    ``length(x) - length(regexp_replace(x, class, ''))`` — pure codegen
    string ops, map-only, zero shuffle; the ratio is the fixed-shape
    integer-input division (engine-portable).
    """
    x = F.col(text_col)
    n_chars = F.length(x)
    ctl = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x80-\x9F]"
    n_control = n_chars - F.length(F.regexp_replace(x, ctl, ""))
    n_repl = n_chars - F.length(F.regexp_replace(x, "�", ""))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_control.alias("n_control"),
        n_repl.alias("n_replacement"),
        F.when(
            n_chars > 0,
            F.round(n_control.cast("double") / n_chars.cast("double"), 6),
        ).otherwise(F.lit(0.0)).alias("control_ratio"),
    )


def js_divergence_matrix(
    docs: DataFrame,
    text: Column,
    source: Column,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (bits) between the token
    distributions of every pair of corpus sources — the standard
    "how different are these data sources?" drift metric used when
    composing training mixtures (a JSD near 0 says two crawls are
    near-interchangeable; near 1 says disjoint vocabularies).

    Decomposition that avoids any full-outer join: for shared tokens
    (p = c_a/N_a > 0, q = c_b/N_b > 0, base-2 logs)

        JSD = sum_shared [ p/2*log2(2p/(p+q)) + q/2*log2(2q/(p+q)) ]
              + (1 - P_shared_a)/2 + (1 - P_shared_b)/2

    because every token present in only one source contributes exactly
    p/2*log2(p/(p/2)) = p/2.  P_shared_* come from EXACT integer count
    sums divided once, so only the log-term sum is floating (the
    word_entropy precedent: deterministic per-term double chains from
    exact integer counts, final 6dp round).

    ALL m(m-1)/2 pairs are emitted (ADVICE r09): a pair with no shared
    tokens cannot survive the token join, so absent pairs are enumerated
    from the totals frame and filled with the closed-form disjoint
    values (jsd_bits = 1.0, n_shared = 0) — the maximally-drifted pairs
    are rows, not silent holes.

    Shuffle shape: one groupBy(source, token), an m-row totals broadcast,
    one token-keyed self-join (each token meets only the sources that
    contain it — at most m(m-1)/2 pairs per token), one groupBy(pair),
    one m-row broadcast NLJ for the pair enumeration.  Everything is
    keyed; nothing is quadratic in corpus size — m sources is a
    config-sized constant."""
    tok = docs.select(source.alias("_s"), F.explode(tokens(text)).alias("_t"))
    counts = tok.groupBy("_s", "_t").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("_s").agg(F.sum("c").alias("n"))
    cn = counts.join(F.broadcast(totals), "_s")
    a = cn.select(
        F.col("_t"),
        F.col("_s").alias("source_a"),
        F.col("c").alias("ca"),
        F.col("n").alias("na"),
    )
    b = cn.select(
        F.col("_t"),
        F.col("_s").alias("source_b"),
        F.col("c").alias("cb"),
        F.col("n").alias("nb"),
    )
    shared = a.join(b, ["_t"]).filter(F.col("source_a") < F.col("source_b"))
    p = F.col("ca").cast("double") / F.col("na").cast("double")
    q = F.col("cb").cast("double") / F.col("nb").cast("double")
    term = p / 2 * F.log2(2 * p / (p + q)) + q / 2 * F.log2(2 * q / (p + q))
    per_pair = shared.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared"),
        F.sum(term).alias("_terms"),
        F.sum("ca").alias("_sca"),
        F.max("na").alias("_na"),
        F.sum("cb").alias("_scb"),
        F.max("nb").alias("_nb"),
    )
    p_shared_a = F.col("_sca").cast("double") / F.col("_na").cast("double")
    p_shared_b = F.col("_scb").cast("double") / F.col("_nb").cast("double")
    jsd = F.col("_terms") + (1 - p_shared_a) / 2 + (1 - p_shared_b) / 2
    scored = per_pair.select(
        "source_a",
        "source_b",
        "n_shared",
        F.round(jsd, 6).alias("jsd_bits"),
    )
    # ADVICE r09: a pair with ZERO shared tokens never survives the inner
    # token join, yet it is exactly the maximally-drifted pair (JSD = 1
    # bit).  Enumerate all m(m-1)/2 pairs from the m-row totals frame
    # (broadcast NLJ — m is config-sized) and fill absent pairs with the
    # closed-form disjoint value instead of silently omitting them.
    all_pairs = (
        totals.select(F.col("_s").alias("source_a"))
        .crossJoin(F.broadcast(totals.select(F.col("_s").alias("source_b"))))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    return (
        all_pairs.join(F.broadcast(scored), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce(F.col("n_shared"), F.lit(0).cast("long")).alias("n_shared"),
            F.coalesce(F.col("jsd_bits"), F.lit(1.0)).alias("jsd_bits"),
        )
        .orderBy("source_a", "source_b")
    )
