"""Text cleaning / filtering operators for training-data pipelines: PII
redaction, HTML stripping, repetition statistics (the Gopher/C4-style
quality-filter family), token-distribution entropy.

Scale posture: redaction and stripping are pure codegen ``regexp_replace``
chains (map-only, zero shuffle — the scan is the only cost at 100 TB);
repetition and entropy aggregate an exploded token/shingle frame through
TWO-LEVEL groupBy ((doc, gram) -> doc) so the distinct count never plans an
expand pass and both levels keep map-side partial aggregation.

Regex patterns are deliberately RE2-compatible (no lookarounds) so the same
pattern text runs on Spark (java.util.regex) and external engines (DuckDB
oracles, RE2-based scanners) with identical semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from kafka_connect_morphlines_spark.functions.textstats import tokens

# (pattern, replacement) chain, applied in order.  SSN before phone (3-2-4
# vs 3-3-4 grouping), email first (its local part may contain digits that
# later patterns would chew up).
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(text: Column) -> Column:
    """Replace emails / SSNs / phone numbers / IPv4 literals with typed
    placeholder tokens — a codegen ``regexp_replace`` chain, map-only."""
    out = text
    for pattern, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return out


def strip_html(text: Column) -> Column:
    """Drop HTML/XML tags and collapse the whitespace they leave behind
    (the C4-style markup scrub).  Tags become single spaces so adjacent
    words don't fuse; entities are left alone (they're content)."""
    no_tags = F.regexp_replace(text, r"<[^>]+>", " ")
    return F.trim(F.regexp_replace(no_tags, r"\s+", " "))


def _grams_exploded(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, _g): one row per word n-gram, fully codegen (explode the start
    index, build the gram with array_join(slice(...)); docs shorter than n
    tokens yield no rows)."""
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("_t"), (F.size(toks) - (n - 1)).alias("_k"))
    return (
        base.filter(F.col("_k") > 0)
        .select(F.col(id_col), "_t", F.explode(F.sequence(F.lit(1), F.col("_k"))).alias("_i"))
        .select(F.col(id_col), F.array_join(F.slice("_t", F.col("_i"), n), " ").alias("_g"))
    )


def repetition_stats_df(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2) -> DataFrame:
    """(id, n_grams, dup_gram_frac): fraction of word n-grams that are
    repeats — the Gopher repetition quality signal.  Two-level groupBy:
    (doc, gram) counts first, then per-doc totals; no countDistinct expand,
    both aggregations partial-combine map-side."""
    lvl1 = _grams_exploded(df, text_col, id_col, n).groupBy(id_col, "_g").agg(F.count(F.lit(1)).alias("_c"))
    lvl2 = lvl1.groupBy(id_col).agg(F.sum("_c").alias("n_grams"), F.count(F.lit(1)).alias("_distinct"))
    total = F.col("n_grams")
    return lvl2.select(
        F.col(id_col),
        total,
        F.when(total > 0, 1.0 - F.col("_distinct") / total).otherwise(F.lit(0.0)).alias("dup_gram_frac"),
    )


def word_entropy_df(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, entropy): Shannon entropy of the token distribution in nats,
    computed as ln(n) - sum(c*ln(c))/n so the whole thing is ONE pass over
    the (doc, token) counts — no per-token probability join back."""
    ex = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t"))
    lvl1 = ex.groupBy(id_col, "_t").agg(F.count(F.lit(1)).cast("double").alias("_c"))
    n = F.sum("_c")
    s = F.sum(F.col("_c") * F.log(F.col("_c")))
    return lvl1.groupBy(id_col).agg((F.log(n) - s / n).alias("entropy"))


def gopher_filter_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 30,
    max_tokens: int = 50_000,
    min_stopword_ratio: float = 0.02,
    min_unique_ratio: float = 0.4,
    max_dup_gram_frac: float = 0.05,
) -> DataFrame:
    """Gopher-style composite corpus filter (Rae et al. 2021, §A1.1):
    length, stopword, lexical-diversity, and repetition rules combined into
    one verdict per document, with the failed-rule list kept for audit.

    Output: (id, passed, reasons) — ``reasons`` is a comma-joined,
    fixed-order list of failed rules ('' when passed).

    Shape: the length/stopword/diversity signals are the map-only
    quality_features_df projection; repetition adds its two-level groupBy;
    one join on the doc id reunites them (docs with <2 tokens have no
    bigram row — treated as repetition 0).  Nothing here touches the text
    twice: at 100 TB the cost is one scan + the bigram aggregation.
    """
    from kafka_connect_morphlines_spark.functions.textstats import quality_features_df

    q = quality_features_df(df, text_col, id_col)
    r = repetition_stats_df(df, text_col, id_col, n=2).select(id_col, "dup_gram_frac")
    j = q.join(r, id_col, "left").withColumn(
        "dup_gram_frac", F.coalesce(F.col("dup_gram_frac"), F.lit(0.0))
    )
    rules = [
        ("too_short", F.col("n_tokens") < min_tokens),
        ("too_long", F.col("n_tokens") > max_tokens),
        ("low_stopword", F.col("stopword_ratio") < min_stopword_ratio),
        ("low_diversity", F.col("unique_token_ratio") < min_unique_ratio),
        ("repetitive", F.col("dup_gram_frac") > max_dup_gram_frac),
    ]
    # concat_ws skips NULLs, so the reasons string is the fixed-order list
    # of failed rules with no placeholder handling
    reasons = F.concat_ws(",", *[F.when(cond, F.lit(name)) for name, cond in rules])
    return j.select(
        F.col(id_col),
        (reasons == "").alias("passed"),
        reasons.alias("reasons"),
    )


def line_frequency_dedup(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """RefinedWeb/CCNet-style boilerplate removal: delete every line that
    occurs in at least ``min_docs`` *distinct* documents (nav bars, cookie
    banners, license footers), then rebuild each document from its
    surviving lines in order.

    Differs from ``traindata.remove_duplicate_spans`` in both unit and
    policy: spans are fixed-width token windows and the first occurrence is
    kept; boilerplate lines are natural text units and ALL occurrences are
    removed once the line crosses the document-frequency threshold — a
    line shared by 10k pages is noise everywhere, including its "first"
    page.

    Output: (id, clean_text, n_lines, n_removed) — one row per input
    document (docs with no surviving lines keep a row with clean_text '').

    Shape at 100 TB:
    - the line frame is codegen posexplode(split); frequency counting
      groups a *distinct* (digest, doc) projection — 16-byte digests plus
      a long, never line text, and the distinct pass keeps map-side
      partial aggregation;
    - the boilerplate set (digests with df >= min_docs) is a tiny fraction
      of distinct lines; removal is a digest-keyed LEFT join + null flag
      (r10 optimization round: the earlier left-anti + separate totals
      aggregate scanned the exploded line frame THREE times — boiler set,
      anti join, per-doc totals — and joined the doc spine twice; marking
      instead of dropping lets ONE per-doc aggregation produce kept text,
      total line count, and kept count together, so the corpus is
      exploded twice, not three times, with one fewer shuffle and one
      fewer spine join, identical output).  AQE broadcasts the
      boilerplate side when it fits;
    - reassembly groups by doc id (array_sort over (pos, line) structs —
      lines-per-doc bounded, per-row codegen; collect_list SKIPS the
      NULL-marked boilerplate rows), so full text crosses the wire
      exactly once.
    """
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), delim)).alias("_pos", "_line"),
    ).filter(F.trim(F.col("_line")) != "")
    keyed = lines.withColumn("_key", F.md5(F.trim(F.col("_line"))))
    boiler = (
        keyed.select("_key", "_id")
        .distinct()
        .groupBy("_key")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_key", F.lit(1).alias("_bl"))
    )
    marked = keyed.join(boiler, "_key", "left")
    per_doc = marked.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.when(F.col("_bl").isNull(), F.lit(1))).alias("_n_kept"),
        F.concat_ws(
            delim,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_bl").isNull(),
                            F.struct(F.col("_pos"), F.col("_line")),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
        ).alias("clean_text"),
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
            (F.coalesce(F.col("n_lines"), F.lit(0)) - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def dedup_lines_within_doc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """Within-document repeated-line cleanup (the RefinedWeb complement to
    :func:`line_frequency_dedup`): inside each document, keep only the
    FIRST occurrence of every line — scraped pages repeat nav blocks and
    list fragments inside one page, which inflates the Gopher repetition
    signals and wastes tokens.

    Output: (id, clean_text, n_lines, n_removed), one row per input doc.

    Shape at 100 TB: entirely doc-local — posexplode, a min-pos aggregate
    per (doc, line-digest), and the same array_sort reassembly as the
    corpus-level operator; ONE doc-keyed shuffle, no cross-document state
    at all, so it composes before the corpus-level pass (cheapest filter
    first).
    """
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), delim)).alias("_pos", "_line"),
    ).filter(F.trim(F.col("_line")) != "")
    firsts = lines.groupBy("_id", F.md5(F.trim(F.col("_line"))).alias("_key")).agg(
        F.min(F.struct(F.col("_pos"), F.col("_line"))).alias("_first"),
        F.count(F.lit(1)).alias("_occ"),
    )
    rebuilt = firsts.groupBy("_id").agg(
        F.concat_ws(
            delim,
            F.transform(F.array_sort(F.collect_list("_first")), lambda s: s["_line"]),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
        F.sum("_occ").alias("n_lines"),
    )
    return (
        df.select(F.col(id_col))
        .join(rebuilt.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
            (F.coalesce(F.col("n_lines"), F.lit(0)) - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def pii_scan(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document PII audit: one count column per PII type from the same
    pattern table redaction uses (they cannot drift).  The release-gate
    complement to :func:`redact_pii` — "how much PII does this corpus
    contain, and where" — without mutating the text.

    Map-only codegen ``regexp_count`` chain, zero shuffle; the downstream
    corpus rollup is a tiny aggregate.
    """
    type_names = {"<EMAIL>": "n_email", "<SSN>": "n_ssn", "<PHONE>": "n_phone", "<IP>": "n_ip"}
    cols = [F.col(id_col)]
    # count patterns in REDACTION ORDER on the progressively-redacted text:
    # the patterns overlap (an SSN parses as a phone fragment), and the
    # chain order is exactly what redact_pii removes, so counts match what
    # redaction would replace
    remaining = F.col(text_col)
    for pattern, repl in PII_PATTERNS:
        cols.append(F.regexp_count(remaining, F.lit(pattern)).alias(type_names[repl]))
        remaining = F.regexp_replace(remaining, pattern, repl)
    return df.select(*cols)


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap redundancy
    signal (used by Dolma/RedPajama-class pipelines: highly compressible
    text is repetitive boilerplate; incompressible text is often binary
    junk or gibberish).  Emits (id, n_bytes, n_compressed, ratio) with
    ``ratio = round(n_compressed / n_bytes, 6)`` (NULL for empty text).

    zlib with a pinned ``level`` is deterministic for a given input, so
    the output is rerun-stable; there is no SQL analogue (no oracle by
    nature — golden-pinned instead).  Runs as one Arrow-batched
    mapInPandas projection: map-only, zero shuffle — at 100 TB the scan
    is the entire cost, the same shape as the other quality signals.
    """
    import pandas as pd  # noqa: F401
    import zlib

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    base = df.select(F.col(id_col), F.col(text_col))
    out_schema = StructType(
        [
            base.schema[id_col],
            StructField("n_bytes", LongType(), True),
            StructField("n_compressed", LongType(), True),
            StructField("ratio", DoubleType(), True),
        ]
    )

    def _score(batches):
        for pdf in batches:
            nb, nc, ratio = [], [], []
            for s in pdf[text_col]:
                raw = (s or "").encode("utf-8")
                if not raw:
                    nb.append(0)
                    nc.append(0)
                    ratio.append(None)
                    continue
                comp = zlib.compress(raw, level)
                nb.append(len(raw))
                nc.append(len(comp))
                ratio.append(round(len(comp) / len(raw), 6))
            out = pdf[[id_col]].copy()
            out["n_bytes"] = nb
            out["n_compressed"] = nc
            out["ratio"] = ratio
            yield out

    return base.mapInPandas(_score, out_schema)
