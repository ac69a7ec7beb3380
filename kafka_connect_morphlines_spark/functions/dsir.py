"""DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
2023, arXiv:2302.03169).

Selects raw-corpus documents whose hashed-n-gram distribution resembles a
target corpus: fit bag-of-hashed-ngram models ``p_target`` and ``p_raw``
(add-one smoothed over ``dim`` buckets), weight each document by the
log-likelihood ratio ``log w(x) = sum_b f_b(x) * (ln p_t[b] - ln p_r[b])``,
then resample with deterministic Gumbel top-k (equivalent to sampling
without replacement proportional to ``w(x)``).

Determinism contract (the hashed_linear_score_df idiom, textstats.py): the
per-bucket log-ratio is computed once from exact integer counts and rounded
half-up to integer *milli-units* — ``floor(1000 * llr + 0.5)`` — so every
per-document weight is an exact BIGINT sum, independent of float summation
order on any engine.  Feature hashing is the portable md5-prefix bucket
(``conv(substr(md5(...), 1, 6), 16, 10) % dim``) that DuckDB mirrors with a
hex cast.

Shape at 100 TB: one codegen index-explode produces unigram+bigram
occurrences (indices ``1..n`` are unigrams, ``n+1..2n-1`` pair ``i-n`` with
``i-n+1`` — a single explode, no interpreted higher-order fold); the two
count tables are at most ``dim`` rows (broadcast); the per-document shuffle
carries ``(id, bigint)`` partial sums with map-side combine — document text
never shuffles.  Gumbel top-k is TakeOrderedAndProject: per-partition heaps,
only k rows reach the driver.

Reference parity note: the reference engine has no data-selection surface —
this module is part of the beyond-reference training-data pipeline layer
(SURVEY.md "LLM-data-pipeline operators").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .textstats import tokens


def _bucket(gram: Column, dim: int, seed: str) -> Column:
    """Portable feature bucket: first 24 bits of md5, mod dim."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"feat/{seed}/"), gram)), 1, 6), 16, 10).cast("long") % dim
    )


def hashed_features_exploded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 4096,
    seed: str = "dsir",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """(id, [carry_cols...], bkt): one row per unigram+bigram occurrence.

    A single codegen explode over index ``1..2n-1``: index ``i <= n`` emits
    token ``i``; index ``i > n`` emits the bigram ``toks[i-n] + ' ' +
    toks[i-n+1]`` — the DSIR paper's hashed unigram+bigram feature space.
    """
    carry = [F.col(c) for c in (carry_cols or [])]
    base = df.select(F.col(id_col), *carry, tokens(F.col(text_col)).alias("_t"))
    n = F.size("_t")
    grams = base.filter(n >= 1).select(
        F.col(id_col),
        *carry,
        F.explode(F.sequence(F.lit(1), n * 2 - 1)).alias("_i"),
        F.col("_t"),
    )
    n2 = F.size("_t")
    gram = F.when(F.col("_i") <= n2, F.element_at("_t", F.col("_i"))).otherwise(
        F.concat(
            F.element_at("_t", F.col("_i") - n2),
            F.lit(" "),
            F.element_at("_t", F.col("_i") - n2 + 1),
        )
    )
    return grams.select(F.col(id_col), *carry, _bucket(gram, dim, seed).alias("bkt"))


def logratio_table(
    feats: DataFrame,
    is_target: Column,
    dim: int = 4096,
    cnt_col: str | None = None,
) -> DataFrame:
    """(bkt, lam_milli): per-bucket milli-scaled log-likelihood ratio
    ``ln p_target[b] - ln p_raw[b]`` under add-one smoothing.

    ``lam_milli = floor(1000 * (ln(ct+1) - ln(Nt+dim) - ln(cr+1) +
    ln(Nr+dim)) + 0.5)`` — each ``ln`` argument is an exact integer-valued
    double, so the rounded milli value is engine-portable.  Only buckets
    observed in the raw corpus appear (unobserved buckets contribute to no
    document by construction).

    ``feats`` is either one row per feature occurrence (``cnt_col=None``)
    or a pre-aggregated count frame (``cnt_col`` names the count column) —
    the counts are identical, the pre-aggregated form just shuffles less.
    """
    occ = F.lit(1) if cnt_col is None else F.col(cnt_col)
    raw = feats.groupBy("bkt").agg(F.sum(occ).alias("_cr"))
    tgt = feats.filter(is_target).groupBy("bkt").agg(F.sum(occ).alias("_ct"))
    totals = raw.agg(F.sum("_cr").alias("_nr")).crossJoin(
        tgt.agg(F.coalesce(F.sum("_ct"), F.lit(0)).alias("_nt"))
    )
    lam = (
        raw.join(tgt, "bkt", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bkt",
            F.floor(
                F.lit(1000.0)
                * (
                    F.log(F.coalesce(F.col("_ct"), F.lit(0)) + F.lit(1.0))
                    - F.log(F.col("_nt") + F.lit(float(dim)))
                    - F.log(F.col("_cr") + F.lit(1.0))
                    + F.log(F.col("_nr") + F.lit(float(dim)))
                )
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lam_milli"),
        )
    )
    return lam


def importance_weights(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 4096,
    seed: str = "dsir",
) -> DataFrame:
    """(id, n_feats, logw_milli): DSIR importance weight per document.

    ``is_target`` is a boolean Column over ``df``'s columns selecting the
    target-domain subset (e.g. ``F.col("lang") == "en"``).  Documents with
    no features (empty text) keep weight 0 via the left join back to ids.

    The exploded feature frame feeds the raw counts, the target counts, and
    the per-document aggregate.  It is collapsed to per-(doc, bucket)
    COUNTS through one map-side-combined shuffle before the lineage cut —
    checkpointing the raw occurrence explode materialized ~2 rows per
    token (measured 6.4s warm at sf0.1); the count frame is distinct-pair
    sized and every downstream aggregate is count-weighted, so tokenize +
    explode still run exactly once (docs/SCALE.md lesson 7) but the
    materialized frame shrinks by the in-doc gram multiplicity.
    """
    feats = hashed_features_exploded(
        df.withColumn("_is_tgt", is_target),
        text_col=text_col,
        id_col=id_col,
        dim=dim,
        seed=seed,
        carry_cols=["_is_tgt"],
    )
    pair = feats.groupBy(F.col(id_col), F.col("_is_tgt"), F.col("bkt")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    if not pair.isStreaming:
        pair = pair.localCheckpoint()
    lam = logratio_table(pair, F.col("_is_tgt"), dim=dim, cnt_col="_cnt")
    agg = (
        pair.join(F.broadcast(lam), "bkt")
        .groupBy(id_col)
        .agg(
            F.sum("_cnt").alias("n_feats"),
            F.sum(F.col("_cnt") * F.col("lam_milli")).alias("logw_milli"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            F.coalesce("logw_milli", F.lit(0)).alias("logw_milli"),
        )
    )


def gumbel_topk(
    weights: DataFrame,
    k: int = 100,
    id_col: str = "doc_id",
    weight_col: str = "logw_milli",
    seed: str = "dsir",
) -> DataFrame:
    """(id, key_milli): deterministic Gumbel top-k resample of ``k`` rows.

    Adding independent Gumbel(0,1) noise to each log-weight and keeping the
    top k is exactly sampling k items without replacement with probability
    proportional to ``exp(logw)`` (Gumbel-max trick).  The "noise" is
    derandomized from the id — ``u = (md5_24(id) % 1e6 + 0.5) / 1e6``,
    ``g_milli = floor(-1000 * ln(-ln(u)) + 0.5)`` — so reruns and engines
    agree bit-for-bit; ties at the k-boundary break on id.
    """
    um = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"gumbel/{seed}/"), F.col(id_col).cast("string"))), 1, 6),
            16,
            10,
        ).cast("long")
        % 1000000
    )
    u = (um + F.lit(0.5)) / F.lit(1000000.0)
    g_milli = F.floor(F.lit(-1000.0) * F.log(-F.log(u)) + F.lit(0.5)).cast("long")
    return (
        weights.select(
            F.col(id_col),
            (F.col(weight_col) + g_milli).alias("key_milli"),
        )
        .orderBy(F.col("key_milli").desc(), F.col(id_col))
        .limit(k)
    )


def gumbel_topk_by_group(
    weights: DataFrame,
    k: int,
    group_col: str,
    id_col: str = "doc_id",
    weight_col: str = "logw_milli",
    seed: str = "dsir",
) -> DataFrame:
    """Stratified Gumbel top-k: sample ``k`` rows WITHOUT replacement per
    group, proportional to ``exp(logw)`` within the group — the quota
    sampler for mixture building (e.g. k best-weighted documents per
    source) with the same derandomized Gumbel-max keys as gumbel_topk, so
    reruns and engines agree bit-for-bit.

    One window per GROUP partition instead of the global TakeOrdered —
    scale-safe for any group cardinality; ties at each group's k-boundary
    break on id.  Returns (group_col, id_col, key_milli, grp_rank).
    """
    from pyspark.sql import Window

    um = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"gumbel/{seed}/"), F.col(id_col).cast("string"))), 1, 6),
            16,
            10,
        ).cast("long")
        % 1000000
    )
    u = (um + F.lit(0.5)) / F.lit(1000000.0)
    g_milli = F.floor(F.lit(-1000.0) * F.log(-F.log(u)) + F.lit(0.5)).cast("long")
    keyed = weights.select(
        F.col(group_col),
        F.col(id_col),
        (F.col(weight_col) + g_milli).alias("key_milli"),
    )
    w = Window.partitionBy(group_col).orderBy(F.col("key_milli").desc(), F.col(id_col))
    return keyed.withColumn("grp_rank", F.row_number().over(w)).filter(
        F.col("grp_rank") <= k
    )
