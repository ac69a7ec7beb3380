"""Model-evaluation metrics over DataFrames: ROC-AUC, calibration bins,
threshold PR curves, Cohen's kappa, and a multinomial Naive Bayes
classifier (train + predict).

These are the measurement half of a training-data pipeline: after quality
scoring / language-ID / dedup produce *predictions*, these operators grade
them against labels — distributed, one-or-two-shuffle shapes that survive
100 TB, with every reported ratio computed from exact integer counts via
DECIMAL division (the ``money_sum`` idiom) so results are bit-identical
across engines and partitionings.

Scale notes (100 TB):
- ``binary_rank_auc`` aggregates to *distinct score values* first
  (callers pass a quantized score, e.g. 6dp-rounded), so the ordered
  cumulative pass runs over at most ~1e6 rows regardless of input size —
  the classic two-pass Mann-Whitney AUC.  The rank arithmetic is kept in
  scaled integers (2x avg-rank) so tie handling is exact.
- ``calibration_table`` / ``threshold_metrics`` / ``cohens_kappa`` are
  single codegen aggregations (plus a broadcast of the tiny threshold /
  class-marginal tables) — map-side combine does the heavy lifting.
- ``nb_train`` shuffles token counts once on (class, token) with the
  vocabulary capped to ``vocab_size`` (selected by corpus term
  frequency, deterministic tie-break, via TakeOrdered — no global
  window); the emitted model is ``n_classes x vocab_size`` rows —
  always broadcastable.
- ``nb_predict`` joins exploded tokens against the broadcast model
  (map-side), then one shuffle on doc_id for the per-class log-likelihood
  sum.  Log-likelihood terms are 6dp-rounded then summed as DECIMAL, so
  the per-document argmax is associative and partition-invariant.

No reference-repo counterpart (the morphlines engine has no analytics
surface) — this family is engine-native, per SURVEY.md Part C scope.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_connect_morphlines_spark.functions import driver_table, orderstats
from kafka_connect_morphlines_spark.functions.textstats import split_words, tokens

__all__ = [
    "binary_rank_auc",
    "calibration_table",
    "threshold_metrics",
    "cohens_kappa",
    "krippendorff_alpha_nominal",
    "bradley_terry_strengths",
    "spearman_rho",
    "nb_train",
    "nb_predict",
    "pmi_table",
    "chi2_tokens",
    "rouge_l",
    "ndcg_at_k",
    "map_at_k",
    "bootstrap_mean_ci",
    "permutation_test_diff",
]

_DEC = "decimal(38,12)"


def _ratio6(num: Column, den: Column) -> Column:
    """Exact-integer ratio -> 6dp double, stable across engines.

    Both operands are exact integers (counts), so the IEEE double division
    is bit-identical on any engine — the corpus' proven ratio idiom
    (nation_market_share, psi_value_drift).  DECIMAL/DECIMAL division is
    deliberately avoided: Spark and DuckDB resolve the result scale
    differently, which CAN flip a 6th decimal.  ``try_divide`` so an empty
    class (0/0) yields NULL under ANSI mode, like SQL."""
    return F.round(F.try_divide(num.cast("double"), den.cast("double")), 6)


def binary_rank_auc(df: DataFrame, score: Column, label: Column) -> DataFrame:
    """Mann-Whitney ROC-AUC with exact average-rank tie handling.

    Returns one row: ``(n_pos, n_neg, auc)`` where
    ``AUC = (sum of avg ranks of positives - np(np+1)/2) / (np*nn)``.

    All rank arithmetic is done on 2x-scaled integers (avg rank over a tie
    group is a multiple of 1/2), so the only division is the final exact
    DECIMAL one — no floating-point accumulation anywhere.

    Scale shape: the distinct-score frame is checkpointed and counted,
    and the cumulative pass runs through orderstats.bucketed_cumsum — one
    plain window while the frame fits a partition, the bucketed path
    beyond SMALL_ROWS — so a CONTINUOUS unquantized score does not
    concentrate the ranking on one task.
    """
    per_score = df.groupBy(score.alias("s")).agg(
        F.sum(F.when(label, 1).otherwise(0)).alias("np_s"),
        F.sum(F.when(label, 0).otherwise(1)).alias("nn_s"),
    )
    per_score = per_score.localCheckpoint()  # count below is then ~free
    ranked = orderstats.bucketed_cumsum(
        per_score.withColumn("_n_s", F.col("np_s") + F.col("nn_s")),
        "s",
        {"before": "_n_s"},
        n_rows=per_score.count(),
    ).withColumn(
        # avg rank of the tie group at s = before + (n_s + 1)/2 ; 2x scale
        "rank2", 2 * F.col("before") + F.col("np_s") + F.col("nn_s") + 1
    )
    # np_s * rank2 is O(n_pos_s * 2N); summed over scores it reaches
    # O(n_pos * 2N), which wraps int64 silently (non-ANSI) around a few
    # billion rows.  DECIMAL(38,0) keeps every term exact to ~1e38 —
    # genuinely 100-TB-safe — and _ratio6's final double cast is unchanged.
    dec0 = "decimal(38,0)"
    return ranked.agg(
        F.sum("np_s").alias("n_pos"),
        F.sum("nn_s").alias("n_neg"),
        F.sum(F.col("np_s").cast(dec0) * F.col("rank2").cast(dec0)).alias(
            "sum_rank2_pos"
        ),
    ).select(
        "n_pos",
        "n_neg",
        _ratio6(
            F.col("sum_rank2_pos") - F.col("n_pos").cast(dec0) * (F.col("n_pos") + 1),
            2 * F.col("n_pos").cast(dec0) * F.col("n_neg"),
        ).alias("auc"),
    )


def multiclass_prf(
    df: DataFrame,
    actual: Column,
    predicted: Column,
) -> DataFrame:
    """Per-class precision / recall / F1 for a multiclass prediction —
    the standard per-class report card next to the confusion matrix and
    Cohen's kappa; macro averages are the caller's one-line
    ``avg(precision)/avg(recall)/avg(f1)`` over the class rows.

    Exact-integer confusion counts per class (tp = diagonal, fp = column
    sum - tp, fn = row sum - tp) from ONE groupBy over the (actual,
    predicted) pair table, with class margins joined from the
    |classes|^2-row aggregate (bounded by construction — classes, not
    corpus, set every post-aggregate size).  Ratios are the corpus'
    proven exact-integer-over-double idiom (_ratio6), F1 in the integer
    form ``2*TP / (2*TP + FP + FN)``; an absent class yields NULL via
    try_divide, never a division error.  Returns
    (class, tp, fp, fn, precision, recall, f1) for every class appearing
    as actual OR predicted.
    """
    pairs = df.select(actual.alias("_a"), predicted.alias("_p"))
    counts = pairs.groupBy("_a", "_p").agg(F.count(F.lit(1)).alias("_n"))
    if not counts.isStreaming:
        counts = counts.localCheckpoint()  # |classes|^2 rows, feeds 3 legs
    row_tot = counts.groupBy(F.col("_a").alias("cls")).agg(F.sum("_n").alias("_row"))
    col_tot = counts.groupBy(F.col("_p").alias("cls")).agg(F.sum("_n").alias("_col"))
    diag = counts.filter(F.col("_a") == F.col("_p")).select(
        F.col("_a").alias("cls"), F.col("_n").alias("tp")
    )
    base = (
        row_tot.join(col_tot, "cls", "full_outer")
        .join(diag, "cls", "left")
        .select(
            "cls",
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
            (F.coalesce(F.col("_col"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0))).alias("fp"),
            (F.coalesce(F.col("_row"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0))).alias("fn"),
        )
    )
    return base.select(
        F.col("cls").alias("class"),
        "tp",
        "fp",
        "fn",
        _ratio6(F.col("tp"), F.col("tp") + F.col("fp")).alias("precision"),
        _ratio6(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall"),
        _ratio6(2 * F.col("tp"), 2 * F.col("tp") + F.col("fp") + F.col("fn")).alias("f1"),
    ).orderBy("class")


def mrr_at_k(
    df: DataFrame,
    query_col: str,
    score: Column,
    relevant: Column,
    k: int = 10,
    tiebreak: Column | None = None,
) -> DataFrame:
    """Mean Reciprocal Rank @ k inputs: per query, 1/rank of the FIRST
    relevant item within the top-k by score (0 when none) — the standard
    known-item / navigational ranking metric next to NDCG and MAP.

    Same determinism recipe as ndcg_at_k / map_at_k: rank = (score desc,
    tiebreak) per query, ties never prefer relevant items; the reciprocal
    is one fixed-shape 6dp division over an exact integer rank.  One rank
    window PARTITIONED BY QUERY + one aggregate.  Returns
    (query_col, first_rel_rank, rr) — first_rel_rank NULL and rr 0.0 when
    no relevant item lands in the top-k; macro-MRR is the caller's
    ``avg(rr)``.
    """
    tb = [tiebreak.alias("tb")] if tiebreak is not None else []
    base = df.select(
        F.col(query_col).alias("q"), score.alias("s"),
        relevant.cast("int").alias("rel"), *tb,
    )
    tb_order = [F.col("tb").asc()] if tiebreak is not None else []
    w_rank = Window.partitionBy("q").orderBy(F.col("s").desc(), *tb_order)
    ranked = base.withColumn("rk", F.row_number().over(w_rank))
    agg = ranked.groupBy("q").agg(
        F.min(
            F.when((F.col("rel") == 1) & (F.col("rk") <= k), F.col("rk"))
        ).alias("first_rel_rank")
    )
    return agg.select(
        F.col("q").alias(query_col),
        "first_rel_rank",
        F.coalesce(
            F.round(F.lit(1.0) / F.col("first_rel_rank").cast("double"), 6),
            F.lit(0.0),
        ).alias("rr"),
    ).orderBy(query_col)


def mann_whitney_u(
    df: DataFrame,
    value: Column,
    group: Column,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Mann-Whitney U test (Wilcoxon rank-sum): the nonparametric two-sample
    location test — does group ``a`` tend to produce larger values than
    ``b``?  The distribution-free companion to the permutation test for
    the same question, with a closed-form normal approximation instead of
    replicates.

    Exact-arithmetic contract (same recipe as roc_auc): average ranks over
    tie groups ride as 2x-scaled DECIMAL integers, so ``u2 = 2*U`` is an
    exact integer; the tie-corrected variance term ``sum(t^3 - t)`` over
    tie-group sizes is exact DECIMAL too.  Only the final z is float — a
    fixed-shape expression over exact operands, 6dp-rounded, so the SQL
    oracle mirrors it bit-for-bit.  ``z = (U - n_a*n_b/2) / sqrt(var)``
    with ``var = n_a*n_b/12 * ((n+1) - sum(t^3-t)/(n*(n-1)))`` (normal
    approximation with tie correction; no continuity correction, stated
    so the oracle is unambiguous).

    Returns one row (n_a, n_b, u2, z): ``u2`` is 2*U for group ``a``
    (integer-exact), z > 0 means ``a`` ranks higher.  Shape at 100 TB:
    one distinct-value aggregate, the adaptive bucketed cumulative pass
    (orderstats.bucketed_cumsum — plain window while the distinct frame
    fits one partition, the bucketed path for continuous values beyond
    SMALL_ROWS), one final aggregate.
    """
    dec0 = "decimal(38,0)"
    per_v = (
        df.filter(group.isin([group_a, group_b]))
        .groupBy(value.alias("v"))
        .agg(
            F.sum(F.when(group == group_a, 1).otherwise(0)).alias("na_v"),
            F.sum(F.when(group == group_b, 1).otherwise(0)).alias("nb_v"),
        )
    )
    per_v = per_v.localCheckpoint()  # count below is then ~free
    ranked = orderstats.bucketed_cumsum(
        per_v.withColumn("_n_v", F.col("na_v") + F.col("nb_v")),
        "v",
        {"before": "_n_v"},
        n_rows=per_v.count(),
    ).withColumn("rank2", 2 * F.col("before") + F.col("na_v") + F.col("nb_v") + 1)
    t = (F.col("na_v") + F.col("nb_v")).cast(dec0)
    agg = ranked.agg(
        F.sum("na_v").alias("n_a"),
        F.sum("nb_v").alias("n_b"),
        F.sum(F.col("na_v").cast(dec0) * F.col("rank2").cast(dec0)).alias("_r2a"),
        F.sum(t * t * t - t).alias("_ties"),
    )
    na = F.col("n_a").cast(dec0)
    nb = F.col("n_b").cast(dec0)
    n = na + nb
    u2 = (F.col("_r2a") - na * (na + 1)).alias("u2")  # 2*U_a, exact integer
    var = (
        (na * nb).cast("double")
        / 12.0
        * (
            (n + 1).cast("double")
            - F.col("_ties").cast("double") / (n * (n - 1)).cast("double")
        )
    )
    z = F.when(
        var > 0,
        F.round(
            (u2.cast("double") / 2.0 - (na * nb).cast("double") / 2.0) / F.sqrt(var), 6
        ),
    )  # all-tied data has zero variance -> z NULL, not a division blowup
    return agg.select(
        "n_a",
        "n_b",
        u2.cast("long").alias("u2"),
        z.alias("z"),
    )


def calibration_table(
    df: DataFrame, score: Column, label: Column, bins: int = 10
) -> DataFrame:
    """Reliability-diagram bins: equal-width buckets of a [0,1] score with
    count, mean predicted score (DECIMAL mean, 6dp) and exact positive
    rate per bin.  A single codegen aggregation."""
    b = F.least(F.floor(score * bins), F.lit(bins - 1)).cast("int")
    return (
        df.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(score.cast(_DEC)).alias("_ssum"),
            F.sum(F.when(label, 1).otherwise(0)).alias("_pos"),
        )
        .select(
            "bin",
            "n",
            F.round(F.col("_ssum").cast("double") / F.col("n").cast("double"), 6).alias(
                "mean_score"
            ),
            _ratio6(F.col("_pos"), F.col("n")).alias("pos_rate"),
        )
        .orderBy("bin")
    )


def threshold_metrics(
    df: DataFrame, score: Column, label: Column, thresholds: list[float]
) -> DataFrame:
    """Precision / recall / F1 at each threshold, from exact confusion
    counts.  The fact table is scanned once: the tiny threshold list is
    cross-joined (broadcast), so each row lands in every threshold's
    confusion tally within one map-side-combined aggregate.

    ``F1 = 2*TP / (2*TP + FP + FN)`` — the integer form, no intermediate
    precision/recall doubles.
    """
    th = F.broadcast(
        driver_table(df.sparkSession, [(float(x),) for x in thresholds], "threshold double")
    )
    pred = score >= F.col("threshold")
    return (
        df.crossJoin(th)
        .groupBy("threshold")
        .agg(
            F.sum(F.when(pred & label, 1).otherwise(0)).alias("tp"),
            F.sum(F.when(pred & ~label, 1).otherwise(0)).alias("fp"),
            F.sum(F.when(~pred & label, 1).otherwise(0)).alias("fn"),
            F.sum(F.when(~pred & ~label, 1).otherwise(0)).alias("tn"),
        )
        .select(
            "threshold",
            "tp",
            "fp",
            "fn",
            "tn",
            _ratio6(F.col("tp"), F.col("tp") + F.col("fp")).alias("precision"),
            _ratio6(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall"),
            _ratio6(2 * F.col("tp"), 2 * F.col("tp") + F.col("fp") + F.col("fn")).alias(
                "f1"
            ),
        )
        .orderBy("threshold")
    )


def cohens_kappa(df: DataFrame, rater_a: Column, rater_b: Column) -> DataFrame:
    """Cohen's kappa between two categorical raters.

    ``kappa = (n*agree - sum_k nA_k*nB_k) / (n*n - sum_k nA_k*nB_k)`` —
    the all-integer form of ``(po-pe)/(1-pe)``, so the single DECIMAL
    division at the end is exact.  One aggregate over the pair table plus
    two tiny class-marginal aggregates (joined on the class label —
    both sides are |classes| rows, broadcast)."""
    pairs = df.select(rater_a.alias("a"), rater_b.alias("b"))
    totals = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).alias("agree"),
    )
    ma = pairs.groupBy(F.col("a").alias("cls")).agg(F.count(F.lit(1)).alias("na"))
    mb = pairs.groupBy(F.col("b").alias("cls")).agg(F.count(F.lit(1)).alias("nb"))
    # All products (na*nb, n*agree, n*n) wrap int64 near n ~ 3e9 under
    # Spark's non-ANSI silent overflow while DuckDB errors; DECIMAL(38,0)
    # keeps the kappa arithmetic exact at any realistic scale.  The
    # displayed sum_ab column stays BIGINT for schema stability.
    dec0 = "decimal(38,0)"
    chance = (
        ma.join(F.broadcast(mb), "cls")
        .agg(F.sum(F.col("na").cast(dec0) * F.col("nb").cast(dec0)).alias("sum_ab_d"))
    )
    return totals.crossJoin(F.broadcast(chance)).select(
        "n",
        "agree",
        F.col("sum_ab_d").cast("long").alias("sum_ab"),
        _ratio6(
            F.col("n").cast(dec0) * F.col("agree") - F.col("sum_ab_d"),
            F.col("n").cast(dec0) * F.col("n") - F.col("sum_ab_d"),
        ).alias("kappa"),
    )


def krippendorff_alpha_nominal(df: DataFrame, unit: Column, rating: Column) -> DataFrame:
    """Krippendorff's alpha (nominal metric) over a long ratings table.

    Input: one row per *rating instance* ``(unit, rating)`` — rater
    identity is irrelevant (alpha is rater-symmetric) and missing
    ratings are simply absent rows, which is exactly the missing-data
    case alpha handles and Cohen's kappa cannot.  Units with fewer than
    two ratings are excluded (pairable ratings only), per Krippendorff.

    Exact-arithmetic form (no double sums anywhere):
    the coincidence-matrix disagreement collapses per unit to
    ``a_u = m_u^2 - sum_c r_uc^2`` over a denominator ``m_u - 1``
    (each ordered within-unit pair weighs ``1/(m_u-1)``).  Summing
    ``a_u`` grouped by the handful of distinct ``m`` values and scaling
    by ``L = lcm{m-1}`` clears every denominator, so

        alpha = 1 - (n-1) * A_L / (L * B),
        A_L   = sum_m (L div (m-1)) * S_m          (exact integer)
        B     = (sum_c n_c)^2 - sum_c n_c^2        (exact integer)

    with ``n_c`` the per-category totals and ``n = sum_u m_u``.  The one
    driver round-trip collects the DISTINCT m values — bounded by the
    number of raters, never by data size.  Shuffle shape: one groupBy on
    (unit, rating) with map-side combine, then aggregates over
    already-reduced unit rows; category/m marginals are tiny.  The final
    division is a single integer/integer double division rounded 6dp —
    bit-identical across engines (the _ratio6 contract).
    """
    from math import lcm

    dec0 = "decimal(38,0)"
    ruc = (
        df.select(unit.alias("u"), rating.alias("c"))
        .groupBy("u", "c")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    # materialize the REDUCED (unit, rating, r) frame once: rating
    # construction upstream (e.g. an expensive lang-id scan) must not be
    # recomputed by the marginal/aggregate passes below
    ruc = ruc.localCheckpoint()
    per_u = (
        ruc.groupBy("u")
        .agg(
            F.sum("r").alias("m"),
            F.sum(F.col("r") * F.col("r")).alias("sq"),
        )
        .filter(F.col("m") >= 2)
        .withColumn("a", F.col("m") * F.col("m") - F.col("sq"))
    )
    per_u = per_u.localCheckpoint()  # reused by 3 small aggregates below
    sm = per_u.groupBy("m").agg(F.sum(F.col("a").cast(dec0)).alias("s"))
    m_values = [int(r["m"]) for r in sm.select("m").collect()]  # <= #raters rows
    if not m_values:
        return driver_table(
            per_u.sparkSession, [(0, 0, None)], "n_units long, n_ratings long, alpha double"
        )
    big_l = lcm(*[m - 1 for m in m_values])
    # exact integer weight L/(m-1) as a literal CASE over the observed m
    # values (computed in Python — no runtime division anywhere)
    weight = F.lit(None).cast("long")
    for m in m_values:
        weight = F.when(F.col("m") == m, F.lit(big_l // (m - 1))).otherwise(weight)
    a_l = sm.agg(F.sum(weight.cast(dec0) * F.col("s")).alias("a_l"))
    totals = per_u.agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum("m").alias("n_ratings"),
    )
    nc = (
        ruc.join(per_u.select("u"), "u")  # pairable units only
        .groupBy("c")
        .agg(F.sum("r").alias("n_c"))
    )
    b = nc.agg(
        (
            F.sum(F.col("n_c").cast(dec0)) * F.sum(F.col("n_c").cast(dec0))
            - F.sum(F.col("n_c").cast(dec0) * F.col("n_c").cast(dec0))
        ).alias("b")
    )
    return (
        totals.crossJoin(F.broadcast(a_l))
        .crossJoin(F.broadcast(b))
        .select(
            "n_units",
            "n_ratings",
            F.round(
                F.lit(1.0)
                - F.try_divide(
                    ((F.col("n_ratings").cast(dec0) - 1) * F.col("a_l")).cast("double"),
                    (F.lit(big_l).cast(dec0) * F.col("b")).cast("double"),
                ),
                6,
            ).alias("alpha"),
        )
    )


def bradley_terry_strengths(
    duels: DataFrame,
    winner: Column,
    loser: Column,
    n_iter: int = 3,
    unit: int = 1 << 20,
) -> DataFrame:
    """Bradley-Terry preference strengths from a pairwise-duel table —
    the aggregation step behind RLHF preference datasets and arena-style
    model leaderboards.

    Distributed part: ONE groupBy((winner, loser)) reduces arbitrarily
    many duels to the k*(k-1) wins matrix (map-side combine; k = item
    count), which is collected — the same bounded-driver-state contract
    as kmeans_fit_int's k x (d+1) stats.  The MM fixed point (Zermelo /
    Hunter 2004)

        p_i' = floor(W_i * unit^2 / S_i),
        S_i  = sum_j floor(n_ij * unit^2 / (p_i + p_j))

    runs ``n_iter`` rounds in PYTHON integers (arbitrary precision — no
    overflow at any n_ij), on the fixed-point lattice p ~ unit, so a SQL
    oracle replays the full fit with BIGINT arithmetic wherever
    n_ij * unit^2 < 2^63 (true by orders of magnitude at certification
    scale; shrink ``unit`` for duel counts beyond ~2^22).  No
    normalization inside the loop — the MM update is scale-covariant and
    deterministic without it; the reported strength normalizes once at
    the end via the exact-integer _ratio6 idiom.  Items that lose every
    duel reach p = 0 (strength 0), the fixed-point analog of the BT MLE
    diverging for never-winners.
    """
    u2 = unit * unit
    rows = (
        duels.groupBy(winner.alias("a"), loser.alias("b"))
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()
    )
    wins_ab = {(r["a"], r["b"]): int(r["w"]) for r in rows}
    items = sorted({a for a, _ in wins_ab} | {b for _, b in wins_ab})
    n_ij: dict[tuple, int] = {}
    big_w = {i: 0 for i in items}
    for (a, b), c in wins_ab.items():
        big_w[a] += c
        n_ij[(a, b)] = n_ij.get((a, b), 0) + c
        n_ij[(b, a)] = n_ij.get((b, a), 0) + c
    p = {i: unit for i in items}
    for _ in range(n_iter):
        s = {
            i: sum(
                (n_ij[(i, j)] * u2) // (p[i] + p[j])
                for j in items
                if j != i and (i, j) in n_ij
            )
            for i in items
        }
        p = {i: (big_w[i] * u2) // s[i] if s[i] > 0 else p[i] for i in items}
    tot = sum(p.values())
    out_rows = [
        (
            i,
            big_w[i],
            sum(n_ij.get((i, j), 0) for j in items if j != i),
            p[i],
            tot,
        )
        for i in items
    ]
    df = driver_table(
        duels.sparkSession, out_rows, "item string, wins long, duels long, _p long, _tot long"
    )
    return df.select(
        "item", "wins", "duels", _ratio6(F.col("_p"), F.col("_tot")).alias("strength")
    ).orderBy("item")


def _rank2(
    df: DataFrame, col: str, out: str, n_rows: int | None = None
) -> DataFrame:
    """(value -> 2*average-rank) as an exact-integer map over DISTINCT
    values: 2*avg_rank(v) = 2*#less(v) + #equal(v) + 1.  ``n_rows`` is
    any upper bound on the distinct-value count (see
    _rank2_from_counts)."""
    cnt = df.groupBy(F.col(col).alias("_v")).agg(F.count(F.lit(1)).alias("_c"))
    return _rank2_from_counts(cnt.withColumnRenamed("_v", col), col, out, n_distinct=n_rows)


def _rank2_from_counts(
    cnt: DataFrame, col: str, out: str, n_distinct: int | None = None
) -> DataFrame:
    """_rank2 for callers that ALREADY aggregated (value -> count) —
    e.g. kruskal_wallis, whose (group, value, count) frame yields the
    per-value totals for free.  ``cnt`` must have columns (col, _c).
    The cumulative count is orderstats.bucketed_cumsum, cut over at
    ``n_distinct`` (any upper bound on the distinct-value count): one
    plain window up to SMALL_ROWS, the bucketed path beyond it — both
    emit identical exact integers (pinned by
    test_rank2_distributed_matches_single_partition)."""
    cnt = cnt.select(F.col(col).alias("_v"), F.col("_c"))
    if n_distinct is None or n_distinct > orderstats.SMALL_ROWS:
        cnt = cnt.localCheckpoint()  # the bucketed path reads it twice
    return orderstats.bucketed_cumsum(
        cnt, "_v", {"_before": "_c"}, n_rows=n_distinct
    ).select(
        F.col("_v").alias(col),
        (2 * F.col("_before") + F.col("_c") + 1).alias(out),
    )


def spearman_rho(df: DataFrame, x: Column, y: Column) -> DataFrame:
    """Spearman rank correlation (tie-corrected: Pearson over average
    ranks) between two row-level metrics — the monotone-association
    check of drift/quality dashboards (does metric A's ordering track
    metric B's?).

    Exactness: ranks are kept as 2*avg_rank INTEGERS (ties make average
    ranks half-integers; doubling clears them — the AUC idiom), so all
    five Pearson moments are exact DECIMAL sums and both engines feed
    identical numbers into the closed form; the only float ops are two
    correctly-rounded casts, two IEEE sqrts and one divide (the
    acf_daily_revenue argument).  Scale: the rank maps are built by
    _rank2 on orderstats.bucketed_cumsum, so continuous metrics with ~n
    distinct values do not imply a single-partition sort; the maps join back by value
    WITHOUT a broadcast hint — for quantized metrics AQE broadcasts the
    small map at runtime, for continuous ones it picks a shuffle join
    instead of shipping an O(n) table to every executor."""
    dec0 = "decimal(38,0)"
    pairs = df.select(x.alias("_x"), y.alias("_y"))
    # materialize the reduced metric frame once: it feeds both rank maps
    # AND the ranked join — without this the upstream aggregation (often
    # a full fact-table groupBy) runs three times
    pairs = pairs.localCheckpoint()
    n_pairs = pairs.count()  # checkpointed: one bounded metadata-ish job
    rx = _rank2(pairs, "_x", "_rx", n_rows=n_pairs)
    ry = _rank2(pairs, "_y", "_ry", n_rows=n_pairs)
    ranked = pairs.join(rx, "_x").join(ry, "_y")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_rx").cast(dec0)).alias("sx"),
        F.sum(F.col("_ry").cast(dec0)).alias("sy"),
        F.sum((F.col("_rx") * F.col("_ry")).cast(dec0)).alias("sxy"),
        F.sum((F.col("_rx") * F.col("_rx")).cast(dec0)).alias("sxx"),
        F.sum((F.col("_ry") * F.col("_ry")).cast(dec0)).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.try_divide(num, den), 6).alias("rho"),
    )


def nb_train(
    docs: DataFrame,
    text: Column,
    cls: Column,
    vocab_size: int = 256,
    alpha: int = 1,
) -> DataFrame:
    """Multinomial Naive Bayes training: per-(class, token) Laplace
    log-likelihoods over a term-frequency-capped vocabulary.

    Returns the dense ``n_classes x vocab_size`` grid
    ``(cls, token, cnt, loglik)`` with
    ``loglik = round(ln((cnt + alpha) / (class_tokens + alpha*V)), 6)``.
    The grid is dense (zero-count cells included) so prediction can join
    on token alone and every class receives a term for every in-vocab
    token — the standard NB smoothing contract.

    Shuffle shape: one groupBy on (cls, token) for counts, one tiny
    groupBy for the vocabulary (top-``vocab_size`` by corpus token count,
    token-lexicographic tie-break), one for class totals; everything
    after the counts is broadcast-sized.  r10 optimization round: the
    bounded intermediates are localCheckpointed — ``vocab`` is
    vocab_size rows and ``in_vocab`` at most n_classes * vocab_size —
    because the lazy grid plan otherwise re-executes the corpus-sized
    tokenize + (cls, token) groupBy once per consumer (the vocab rank,
    the class totals, and the grid join each re-derived ``counts``:
    three corpus passes per model execution, and nb_predict executed
    the model twice more — ~6 corpus scans for one bounded grid).
    """
    tok = docs.select(cls.alias("cls"), F.explode(tokens(F.lower(text))).alias("token"))
    counts = tok.groupBy("cls", "token").agg(F.count(F.lit(1)).alias("cnt"))
    corpus = counts.groupBy("token").agg(F.sum("cnt").alias("tf"))
    # Two-phase rank (traindata.build_vocab shape): orderBy().limit() is
    # TakeOrderedAndProject — each partition keeps only its local top
    # vocab_size, so no single-partition global sort of the full distinct
    # vocabulary (billions of tokens at web scale).
    vocab = (
        corpus.orderBy(F.desc("tf"), F.asc("token"))
        .limit(vocab_size)
        .select("token")
        .localCheckpoint()
    )
    in_vocab = counts.join(F.broadcast(vocab), "token").localCheckpoint()
    class_totals = in_vocab.groupBy("cls").agg(F.sum("cnt").alias("class_tokens"))
    v = F.lit(vocab_size)
    grid = (
        class_totals.crossJoin(F.broadcast(vocab))
        .join(in_vocab, ["cls", "token"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
    )
    return grid.select(
        "cls",
        "token",
        "cnt",
        F.round(
            F.log(
                (F.col("cnt") + alpha).cast("double")
                / (F.col("class_tokens") + alpha * v).cast("double")
            ),
            6,
        ).alias("loglik"),
    )


def nb_predict(docs: DataFrame, doc_id: Column, text: Column, model: DataFrame) -> DataFrame:
    """Score documents with an ``nb_train`` model: argmax over classes of
    ``prior_log + sum(loglik over in-vocab tokens)``.

    OOV tokens are dropped (they contribute the same smoothed mass to
    every class only if modeled; the standard multinomial-NB choice is to
    ignore them, which keeps the join inner and the scan map-side).  Each
    6dp loglik term is summed as DECIMAL, so the per-document score —
    and therefore the argmax — is partition-invariant; ties break on the
    class label.  Returns ``(doc_id, pred_cls, n_terms, score)``.

    The model (classes x vocab rows) and the prior table are broadcast;
    the only shuffle is the (doc_id, cls) aggregation.
    """
    # r10 optimization round: the model grid is bounded (n_classes *
    # vocab_size rows) but its plan is corpus-sized — it feeds BOTH the
    # prior table and the broadcast scoring join, so without a
    # materialization the whole training pipeline executed twice.
    model = model.localCheckpoint()
    # priors from the model's class-total counts: P(cls) ∝ class token mass.
    class_mass = model.groupBy("cls").agg(F.sum("cnt").alias("mass"))
    total = class_mass.agg(F.sum("mass").alias("tot"))
    priors = class_mass.crossJoin(total).select(
        "cls",
        F.round(F.log(F.col("mass").cast("double") / F.col("tot").cast("double")), 6)
        .cast(_DEC)
        .alias("prior"),
    )
    tok = docs.select(doc_id.alias("doc_id"), F.explode(tokens(F.lower(text))).alias("token"))
    scored = (
        tok.join(F.broadcast(model.select("token", "cls", "loglik")), "token")
        .groupBy("doc_id", "cls")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.col("loglik").cast(_DEC)).alias("ll_sum"),
        )
        .join(F.broadcast(priors), "cls")
        .withColumn("score", F.col("prior") + F.col("ll_sum"))
    )
    wbest = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cls"))
    return (
        scored.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("cls").alias("pred_cls"),
            "n_terms",
            F.round(F.col("score"), 6).cast("double").alias("score"),
        )
    )


def pmi_table(df: DataFrame, x: Column, y: Column) -> DataFrame:
    """Pointwise mutual information between two categorical columns:
    ``(x, y, n_xy, pmi, mi_nats)`` per observed cell, where
    ``pmi = ln(N*n_xy / (n_x*n_y))`` and ``mi_nats`` is the cell's
    contribution ``(n_xy/N) * pmi`` to total mutual information (6dp /
    9dp).  Summing ``mi_nats`` gives I(X;Y); emitting per-cell terms keeps
    the output free of order-dependent floating-point accumulation.

    One cell aggregate + two marginal aggregates joined broadcast (both
    are |domain|-sized) + the 1-row total cross-joined: every shuffle is
    on the tiny cell table, the corpus is scanned once."""
    cells = df.groupBy(x.alias("x"), y.alias("y")).agg(
        F.count(F.lit(1)).alias("n_xy")
    )
    tot = cells.agg(F.sum("n_xy").alias("n"))
    mx = cells.groupBy("x").agg(F.sum("n_xy").alias("n_x"))
    my = cells.groupBy("y").agg(F.sum("n_xy").alias("n_y"))
    pmi = F.log(
        (F.col("n").cast("double") * F.col("n_xy").cast("double"))
        / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
    )
    return (
        cells.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            "n_xy",
            F.round(pmi, 6).alias("pmi"),
            F.round((F.col("n_xy").cast("double") / F.col("n").cast("double")) * pmi, 9).alias(
                "mi_nats"
            ),
        )
        .orderBy("x", "y")
    )


def chi2_tokens(
    docs: DataFrame,
    text: Column,
    cls: Column,
    min_df: int = 5,
    topk: int = 5,
) -> DataFrame:
    """Chi-square feature selection: the ``topk`` most class-discriminative
    tokens per class, by the presence/absence 2x2 contingency chi-square
    (the classic feature-selection statistic; Yang & Pedersen, ICML'97).

    For token t and class c with a = docs of c containing t, n_c = docs of
    c, df_t = docs containing t, N = all docs:
    ``chi2 = N*(a*N - n_c*df_t)^2 / (n_c*(N-n_c)*df_t*(N-df_t))``
    (the (ad-bc) form with b, c, d eliminated).  All contingency inputs
    are exact integers from two groupBys; the chi2 itself is evaluated as
    one fixed-shape double expression mirrored term-for-term in the SQL
    oracle — correctly-rounded IEEE ops over identical integers give
    identical doubles on any engine (the corpus' _ratio6 argument).

    100 TB shape: one distinct (doc, token) explode -> groupBy (token,
    class) for a; token df and class counts are two more aggregates
    (vocabulary- and |classes|-sized); ``min_df`` prunes the tail before
    the per-class top-k window, which partitions BY CLASS (never a global
    sort).  Raise min_df with corpus size to keep the window input
    vocabulary-bounded.  Degenerate tokens (df_t = N) are filtered: their
    denominator is 0 and they carry no signal.

    Returns (cls, token, a, df_t, n_c, chi2, rank) with rank 1..topk per
    class, ties broken by token.
    """
    pres = docs.select(
        cls.alias("cls"), F.explode(F.array_distinct(tokens(F.lower(text)))).alias("token")
    )
    n_total = docs.count()
    a = pres.groupBy("cls", "token").agg(F.count(F.lit(1)).alias("a"))
    dft = a.groupBy("token").agg(F.sum("a").alias("df_t"))
    ncls = docs.groupBy(cls.alias("cls")).agg(F.count(F.lit(1)).alias("n_c"))
    j = (
        a.join(F.broadcast(dft.filter(
            (F.col("df_t") >= min_df) & (F.col("df_t") < n_total)
        )), "token")
        .join(F.broadcast(ncls), "cls")
    )
    nd = F.lit(float(n_total))
    diff = F.col("a").cast("double") * nd - F.col("n_c").cast("double") * F.col("df_t").cast("double")
    den = (
        F.col("n_c").cast("double")
        * (nd - F.col("n_c").cast("double"))
        * F.col("df_t").cast("double")
        * (nd - F.col("df_t").cast("double"))
    )
    scored = j.select(
        "cls", "token", "a", "df_t", "n_c",
        F.round(nd * diff * diff / den, 6).alias("chi2"),
    )
    w = Window.partitionBy("cls").orderBy(F.col("chi2").desc(), F.col("token").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .orderBy("cls", "rank")
    )


def rouge_l_py(tokens_a: list, tokens_b: list, decimals: int = 6) -> tuple:
    """Pure-Python ROUGE-L core (one pair): (lcs_len, p, r, f).  Shared by
    the distributed operator and its pytest reference so they cannot
    drift."""
    ta, tb = tokens_a[:512], tokens_b[:512]
    m, n = len(ta), len(tb)
    if m == 0 or n == 0:
        return 0, None, None, None
    prev = [0] * (n + 1)
    for i in range(1, m + 1):
        cur = [0] * (n + 1)
        tai = ta[i - 1]
        for j in range(1, n + 1):
            if tai == tb[j - 1]:
                cur[j] = prev[j - 1] + 1
            else:
                cur[j] = cur[j - 1] if cur[j - 1] >= prev[j] else prev[j]
        prev = cur
    lcs = prev[n]
    p, r = lcs / m, lcs / n
    f = (2 * p * r / (p + r)) if (p + r) > 0 else 0.0
    # half-UP rounding (floor(x*10^d + 0.5)), not Python's banker's round:
    # SQL engines round half away from zero, and lcs/m CAN land exactly on
    # a 10^-7 tie (power-of-two token counts, e.g. the 512 cap), so the
    # oracle and the operator must break ties the same way
    import math

    scale = 10**decimals
    rnd = lambda x: math.floor(x * scale + 0.5) / scale  # noqa: E731
    return lcs, rnd(p), rnd(r), rnd(f)


def rouge_l(
    pairs: DataFrame,
    text_a_col: str = "text_a",
    text_b_col: str = "text_b",
    decimals: int = 6,
) -> DataFrame:
    """ROUGE-L (Lin, 2004): LCS-based precision/recall/F1 between two text
    columns of an ALREADY-PAIRED frame — the standard summary/reference
    overlap metric, also used to grade near-duplicate rewrites.

    The LCS dynamic program is inherently per-pair sequential, so it runs
    in an Arrow-batched ``mapInPandas`` over whitespace tokens; the caller
    owns keeping the pair frame bounded (candidate pairs from a blocked
    join / LSH buckets — the same contract as jaro-winkler linkage, never
    the all-pairs cross join).  Cost is O(|a|*|b|) per pair; token lists
    are truncated at 512 tokens (ROUGE saturates long before).

    Output adds (lcs_len, rouge_p, rouge_r, rouge_f) to the input columns;
    ratios are computed from the exact integer lcs/token counts in Python
    doubles, round-half-even at ``decimals``.
    """
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        list(pairs.schema.fields)
        + [
            StructField("lcs_len", IntegerType(), True),
            StructField("rouge_p", DoubleType(), True),
            StructField("rouge_r", DoubleType(), True),
            StructField("rouge_f", DoubleType(), True),
        ]
    )

    def _score(batches):
        for pdf in batches:
            res = [
                rouge_l_py(split_words(a), split_words(b), decimals)
                for a, b in zip(pdf[text_a_col], pdf[text_b_col])
            ]
            pdf = pdf.copy()
            pdf["lcs_len"] = [x[0] for x in res]
            pdf["rouge_p"] = [x[1] for x in res]
            pdf["rouge_r"] = [x[2] for x in res]
            pdf["rouge_f"] = [x[3] for x in res]
            yield pdf

    return pairs.mapInPandas(_score, out_schema)


def ndcg_at_k(
    df: DataFrame,
    query_col: str,
    score: Column,
    relevance: Column,
    k: int = 10,
    tiebreak: Column | None = None,
) -> DataFrame:
    """NDCG@k per query (Jarvelin & Kekalainen, TOIS 2002): ranking quality
    with graded relevance — ``DCG = sum (2^rel - 1) / log2(rank + 1)`` over
    the top-k by score, normalized by the ideal ordering's DCG.

    Determinism: rank = row_number over (score desc, tiebreak) per query
    — pass a unique ``tiebreak`` column (an item/event id) so the order
    is TOTAL even among equal-score rows; ideal rank orders by (rel desc,
    score desc, tiebreak).  Score ties deliberately do NOT prefer
    relevant items (that would systematically inflate DCG); the tiebreak
    alone arbitrates, matching the conventional arbitrary-tie treatment.  Per-rank gains are
    6dp-rounded doubles summed as DECIMAL, so both DCG sums are
    partition-invariant; log2 is spelled ln(x)/ln(2) so the SQL oracle
    mirrors the exact expression tree; the final ndcg is the fixed-shape
    double division.

    100 TB shape: two windows PARTITIONED BY QUERY (never global) over a
    (query, score, rel) projection, each followed by a rank <= k filter —
    the shuffles carry three narrow columns; queries with no relevant
    item get ndcg NULL (0/0) via try_divide.  Returns
    (query_col, dcg, idcg, ndcg).
    """
    tb = [tiebreak.alias("tb")] if tiebreak is not None else []
    base = df.select(
        F.col(query_col).alias("q"), score.alias("s"),
        relevance.cast("long").alias("rel"), *tb,
    )
    tb_order = [F.col("tb").asc()] if tiebreak is not None else []
    w_rank = Window.partitionBy("q").orderBy(F.col("s").desc(), *tb_order)
    w_ideal = Window.partitionBy("q").orderBy(
        F.col("rel").desc(), F.col("s").desc(), *tb_order
    )
    gain = (F.pow(F.lit(2.0), F.col("rel").cast("double")) - F.lit(1.0))
    ranked = base.withColumn("rk", F.row_number().over(w_rank)).withColumn(
        "irk", F.row_number().over(w_ideal)
    )
    term = lambda rk: F.round(  # noqa: E731
        gain / (F.log(rk.cast("double") + F.lit(1.0)) / F.log(F.lit(2.0))), 6
    ).cast(_DEC)
    agg = ranked.groupBy("q").agg(
        F.sum(F.when(F.col("rk") <= k, term(F.col("rk"))).otherwise(F.lit(0).cast(_DEC))).alias("_dcg"),
        F.sum(F.when(F.col("irk") <= k, term(F.col("irk"))).otherwise(F.lit(0).cast(_DEC))).alias("_idcg"),
    )
    return agg.select(
        F.col("q").alias(query_col),
        F.round(F.col("_dcg").cast("double"), 6).alias("dcg"),
        F.round(F.col("_idcg").cast("double"), 6).alias("idcg"),
        F.round(
            F.try_divide(F.col("_dcg").cast("double"), F.col("_idcg").cast("double")), 6
        ).alias("ndcg"),
    ).orderBy(query_col)


def map_at_k(
    df: DataFrame,
    query_col: str,
    score: Column,
    relevant: Column,
    k: int = 10,
    tiebreak: Column | None = None,
) -> DataFrame:
    """Average Precision @ k per query (binary relevance): the other
    standard ranking metric next to NDCG —
    ``AP = sum over relevant ranks r<=k of (rel_count_at_r / r)``,
    normalized by ``min(k, total_relevant)``.

    Same determinism recipe as ndcg_at_k: rank = (score desc, tiebreak) —
    a caller-supplied unique ``tiebreak`` makes the rank a total order and
    score ties do not prefer relevant items; precision-at-r terms are exact-integer
    ratios rounded to 6dp and summed as DECIMAL; the final normalization
    is the fixed-shape double division (NULL when the query has no
    relevant item).  One rank window + one cumulative window, both
    PARTITIONED BY QUERY, over a 4-column projection.  Returns
    (query_col, n_relevant, ap).  Macro-MAP is the caller's one-line
    ``avg(ap)``.
    """
    tb = [tiebreak.alias("tb")] if tiebreak is not None else []
    base = df.select(
        F.col(query_col).alias("q"), score.alias("s"),
        relevant.cast("int").alias("rel"), *tb,
    )
    tb_order = [F.col("tb").asc()] if tiebreak is not None else []
    w_rank = Window.partitionBy("q").orderBy(F.col("s").desc(), *tb_order)
    ranked = base.withColumn("rk", F.row_number().over(w_rank))
    w_cum = (
        Window.partitionBy("q").orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = ranked.withColumn("cum_rel", F.sum("rel").over(w_cum))
    term = F.when(
        (F.col("rel") == 1) & (F.col("rk") <= k),
        F.round(
            F.col("cum_rel").cast("double") / F.col("rk").cast("double"), 6
        ).cast(_DEC),
    ).otherwise(F.lit(0).cast(_DEC))
    agg = cum.groupBy("q").agg(
        F.sum("rel").alias("n_relevant"),
        F.sum(term).alias("_ap_sum"),
    )
    denom = F.least(F.lit(k), F.col("n_relevant")).cast("double")
    return agg.select(
        F.col("q").alias(query_col),
        "n_relevant",
        F.round(
            F.try_divide(F.col("_ap_sum").cast("double"), denom), 6
        ).alias("ap"),
    ).orderBy(query_col)


# Cumulative Poisson(1) thresholds for the inverse-CDF lookup, P(X <= k):
# e^-1 * sum_{j<=k} 1/j!.  Capped at 6 (P(X>6|lam=1) ~ 8e-5).
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)


def bootstrap_mean_ci(
    df: DataFrame,
    value: Column,
    id_col: Column,
    b: int = 100,
    lo_q: float = 0.025,
    hi_q: float = 0.975,
    seed: str = "boot",
) -> DataFrame:
    """Poisson-bootstrap confidence interval for a mean — the distributed
    'online bootstrap' (Oza & Russell, AISTATS 2001; Kleiner et al.'s
    scalable-bootstrap family): each of ``b`` replicates reweights every
    row by an independent Poisson(1) draw, so a replicate's weighted mean
    is distributed like a with-replacement resample WITHOUT materializing
    resamples or sharing driver state.

    Fully DERANDOMIZED (hash-certifiable): the Poisson draw is the
    inverse-CDF of a 24-bit md5 uniform per (replicate, id), five uniforms
    per digest so each row pays ceil(b/5) md5 calls — reruns and engines
    agree bit-for-bit.  Shape at 100 TB: one explode by ``b``
    (rows x b, map-side) into one groupBy(replicate) — b partial sums,
    map-side combined; the replicate-mean frame is b rows, so the
    percentile bounds are driver-trivial.  Weighted sums accumulate
    6dp-rounded DECIMAL terms (partition-invariant).

    Returns one row: (n, mean, boot_lo, boot_hi) with the interval at
    [lo_q, hi_q] over replicate means (exact interpolated percentile).
    """
    from kafka_connect_morphlines_spark.functions import ensure_parallelism

    # the replicate explode amplifies every base row b x, so a coarse input
    # layout (one small parquet file -> one partition) must not serialize
    # the whole md5+aggregate pass onto a single core
    base = ensure_parallelism(
        df.select(value.cast("double").alias("x"), id_col.alias("_id")).filter(
            F.col("x").isNotNull()
        )
    )
    # One md5 digest yields five 24-bit uniforms (6 hex chars each, 30 of
    # 32 used), so each base row pays ceil(b/5) digests instead of b;
    # digest d covers replicates [5d, 5d+5).  TWO-LEVEL explode: the outer
    # generate emits one row per digest (md5 computed exactly once there),
    # the inner fans out the 5 chunks — each amplified row carries ONE
    # 32-char digest.  (A pre-explode digest ARRAY riding the b-fold
    # explode copies n_digests strings per replicate row — measured 40s vs
    # ~2s warm at sf0.1 for b=100.)
    n_digests = (b + 4) // 5
    rep = (
        base.select(
            "x", "_id",
            F.explode(F.sequence(F.lit(0), F.lit(n_digests - 1))).alias("_d"),
        )
        .withColumn(
            "_dg",
            F.md5(
                F.concat(
                    F.lit(f"{seed}/"), F.col("_d").cast("string"),
                    F.lit("/"), F.col("_id").cast("string"),
                )
            ),
        )
        .select(
            "x", "_dg", "_d",
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("_c"),
        )
        .withColumn("rep", F.col("_d") * 5 + F.col("_c"))
        .filter(F.col("rep") < b)
    )
    u = (
        F.conv(
            F.substring(F.col("_dg"), F.col("_c").cast("int") * 6 + 1, 6), 16, 10
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(float(1 << 24))
    w = F.lit(len(_POIS1_CDF))
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(w)
    dec = "decimal(38,12)"
    means = (
        rep.select("rep", w.alias("w"), "x")
        .groupBy("rep")
        .agg(
            F.sum("w").alias("_wn"),
            F.sum(F.round(F.col("w") * F.col("x"), 6).cast(dec)).alias("_wx"),
        )
        .select(
            F.round(
                F.try_divide(F.col("_wx").cast("double"), F.col("_wn").cast("double")),
                6,
            ).alias("m")
        )
    )
    point = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("x"), 6).cast(dec)).alias("_sx"),
    )
    ci = means.agg(
        F.round(F.expr(f"percentile(m, {lo_q})"), 6).alias("boot_lo"),
        F.round(F.expr(f"percentile(m, {hi_q})"), 6).alias("boot_hi"),
    )
    return point.crossJoin(ci).select(
        "n",
        F.round(F.col("_sx").cast("double") / F.col("n").cast("double"), 6).alias("mean"),
        "boot_lo",
        "boot_hi",
    )


def permutation_test_diff(
    df: DataFrame,
    value: Column,
    group: Column,
    group_a: str,
    group_b: str,
    id_col: Column = None,
    b: int = 200,
    seed: str = "perm",
) -> DataFrame:
    """Two-sample permutation test for a difference in means — the exact
    nonparametric companion to the z-test: under H0 the group labels are
    exchangeable, so each of ``b`` replicates reassigns every row to a
    pseudo-arm and recomputes the mean difference;
    ``p = (1 + #{|diff_rep| >= |observed|}) / (b + 1)`` (the standard
    add-one Monte-Carlo estimator, Phipson & Smyth 2010).

    The relabeling coin is CONDITIONED ON THE OBSERVED SPLIT: row -> arm a
    with probability n_a/(n_a+n_b), via a 16-bit md5 uniform compared in
    exact integer arithmetic (u16*(n_a+n_b) < n_a*65536).  An
    unconditioned 50/50 coin would give every null replicate two ~n/2
    pseudo-arms whose diff variance is ~4*sigma^2/n instead of the
    observed-split sigma^2*(1/n_a+1/n_b) — for unbalanced arms the
    replicate diffs come out systematically too small and the p-value
    collapses toward 1/(b+1) even under H0.  Binomial sizes around the
    observed split are the standard scalable surrogate for exact
    permutation (which would need a per-replicate global sort).

    Fully DERANDOMIZED like bootstrap_mean_ci: replicate r's uniform is
    hex chars [4*(r mod 8), 4*(r mod 8)+4) of md5(seed/(r div 8)/id) —
    one digest yields eight 16-bit coins, so each row pays ceil(b/8) md5
    calls, not b — and engines/reruns agree exactly.  Shape: one explode
    by ``b`` into one groupBy(replicate) carrying four conditional sums
    (map-side combined); the observed difference is one more aggregate
    (broadcast onto the exploded frame for the threshold); the comparison
    happens over b rows.  Values accumulate as exact BIGINT micro-units
    (see inline note); each replicate diff and the observed diff are
    6dp-rounded doubles so the >= comparison is engine-stable.  Returns
    (n_a, n_b, diff, p_value).
    """
    # 6dp values ride as exact BIGINT micro-units: round(x*1e6) is the
    # same integer as round(x,6)*1e6, long sums stay in whole-stage
    # codegen (the DECIMAL-sum variant measured ~3x slower on the b-fold
    # exploded frame), and |sum(x)| is bounded by 9.2e12 before overflow —
    # ample for bounded metrics; pre-scale or shrink b beyond that.
    from kafka_connect_morphlines_spark.functions import ensure_parallelism

    # same b x explode amplification as bootstrap_mean_ci: never let a
    # single-file input serialize the replicate pass onto one core
    base = ensure_parallelism(
        df.select(
            F.round(value.cast("double") * F.lit(1000000.0)).cast("long").alias("xm"),
            group.alias("g"),
            (id_col if id_col is not None else F.monotonically_increasing_id()).alias("_id"),
        ).filter(F.col("xm").isNotNull() & F.col("g").isin([group_a, group_b]))
    )
    obs = base.agg(
        F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("g") == group_a, F.col("xm")).otherwise(0)).alias("_sa"),
        F.sum(F.when(F.col("g") == group_b, F.col("xm")).otherwise(0)).alias("_sb"),
    ).select(
        "n_a",
        "n_b",
        F.round(
            (F.col("_sa").cast("double") / F.lit(1000000.0)) / F.col("n_a").cast("double")
            - (F.col("_sb").cast("double") / F.lit(1000000.0)) / F.col("n_b").cast("double"),
            6,
        ).alias("diff"),
    )
    # obs (1 row) and diffs (b rows) each feed TWO downstream consumers
    # (the exceed count and the final projection); without a lineage cut
    # the b-fold explode + md5 pass re-executes per consumer — measured
    # 10.4s -> ~4s warm at sf0.1 with the cuts.
    if not obs.isStreaming:
        obs = obs.localCheckpoint()
    # One md5 digest yields eight 16-bit coins (4 hex chars each), so each
    # base row pays ceil(b/8) md5 calls instead of b (measured: the
    # per-replicate-md5 variant spent its whole 10s warm in 80M digest
    # computations).  Two-level explode, same as bootstrap_mean_ci: outer
    # generate = one row per digest (md5 once), inner = the 8 chunks, so
    # each amplified row carries one digest string, never an array of them.
    n_digests = (b + 7) // 8
    rep = (
        base.crossJoin(F.broadcast(obs.select("n_a", "n_b")))
        .select(
            "xm", "_id", "n_a", "n_b",
            F.explode(F.sequence(F.lit(0), F.lit(n_digests - 1))).alias("_d"),
        )
        .withColumn(
            "_dg",
            F.md5(
                F.concat(
                    F.lit(f"{seed}/"), F.col("_d").cast("string"),
                    F.lit("/"), F.col("_id").cast("string"),
                )
            ),
        )
        .select(
            "xm", "n_a", "n_b", "_dg", "_d",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("_c"),
        )
        .withColumn("rep", F.col("_d") * 8 + F.col("_c"))
        .filter(F.col("rep") < b)
    )
    u16 = F.conv(
        F.substring(F.col("_dg"), F.col("_c").cast("int") * 4 + 1, 4), 16, 10
    ).cast("long")
    # Pseudo-arm a with probability n_a/(n_a+n_b) — exact integer compare,
    # no float threshold, so any engine mirrors it bit-for-bit.
    coin = F.when(
        u16 * (F.col("n_a") + F.col("n_b")) < F.col("n_a") * F.lit(65536), 0
    ).otherwise(1)
    diffs = (
        rep.select("rep", coin.alias("c"), "xm")
        .groupBy("rep")
        .agg(
            F.sum(F.when(F.col("c") == 0, 1).otherwise(0)).alias("_na"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("_nb"),
            F.sum(F.when(F.col("c") == 0, F.col("xm")).otherwise(0)).alias("_sa"),
            F.sum(F.when(F.col("c") == 1, F.col("xm")).otherwise(0)).alias("_sb"),
        )
        .select(
            F.round(
                F.try_divide(
                    F.col("_sa").cast("double") / F.lit(1000000.0),
                    F.col("_na").cast("double"),
                )
                - F.try_divide(
                    F.col("_sb").cast("double") / F.lit(1000000.0),
                    F.col("_nb").cast("double"),
                ),
                6,
            ).alias("d")
        )
    )
    if not diffs.isStreaming:
        diffs = diffs.localCheckpoint()
    exceed = diffs.crossJoin(F.broadcast(obs)).agg(
        F.sum(
            F.when(F.abs(F.col("d")) >= F.abs(F.col("diff")), 1).otherwise(0)
        ).alias("_ge")
    )
    return obs.crossJoin(F.broadcast(exceed)).select(
        "n_a",
        "n_b",
        "diff",
        F.round(
            (F.col("_ge").cast("double") + F.lit(1.0)) / F.lit(float(b + 1)), 6
        ).alias("p_value"),
    )


def kruskal_wallis(df: DataFrame, group: Column, value: Column) -> DataFrame:
    """Kruskal-Wallis H test — the k-group rank companion to
    mann_whitney (2 groups) and the nonparametric sibling of the ANOVA F
    (anova_value_by_type): does at least one group's distribution
    stochastically dominate?  The standard screen when values are skewed
    or outlier-ridden and ANOVA's normality story is wrong.

    H = 12/(n(n+1)) * sum_g R_g^2/n_g - 3(n+1), tie-corrected by
    1 - sum(t^3-t)/(n^3-n).  With the 2x-integer average ranks
    (R2 = 2*avg_rank, the AUC idiom) this becomes
    H = 3/(n(n+1)) * sum_g R2_g^2/n_g - 3(n+1): every rank sum is an
    exact DECIMAL integer on both engines.

    AGGREGATE-FIRST plan (r09 rework — measured): the naive formulation
    (checkpoint the raw pool, rank-join 20M rows, three corpus scans)
    read 150s at a 20M-row smoke and degraded run-over-run under
    block-manager pressure.  Ranks only depend on the (group, value,
    count) aggregate, so ONE map-side-combined groupBy collapses the
    corpus and everything downstream — rank map, per-group rank sums
    R2_g = sum_v count*r2(v), tie correction — runs on the tiny distinct
    frame.  No corpus-sized checkpoint, no row-level join, exactly one
    scan of the input.

    Division parity: the per-group R2_g^2/n_g quotient uses the ANOVA
    r09 idiom — a deterministic double chain quantized onto the 6dp grid
    and summed as exact DECIMAL(38,6).  Pass values as long-backed
    DECIMAL(18,6) (precision <= 18): wider decimals materialize a JVM
    BigDecimal per row in the hot groupBy (26x slower, docs/SCALE.md).
    """
    dec0 = "decimal(38,0)"
    gv = (
        df.select(group.alias("_g"), value.alias("_v"))
        .groupBy("_g", "_v")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    gv = gv.localCheckpoint()  # k x distinct values — feeds 3 consumers
    per_v = gv.groupBy("_v").agg(F.sum("_cnt").alias("_c"))
    r2 = _rank2_from_counts(per_v, "_v", "_r2", n_distinct=gv.count())
    ranked = gv.join(r2, "_v")
    per_g = ranked.groupBy("_g").agg(
        F.sum("_cnt").alias("n_g"),
        F.sum(F.col("_cnt").cast(dec0) * F.col("_r2")).alias("r2_g"),
    )
    ties = per_v.agg(
        F.coalesce(
            F.sum(
                F.col("_c").cast(dec0) * F.col("_c") * F.col("_c") - F.col("_c")
            ),
            F.lit(0).cast(dec0),
        ).alias("tie3")
    )
    tot = per_g.agg(
        F.sum("n_g").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(
            F.round(
                F.col("r2_g").cast("double")
                * F.col("r2_g").cast("double")
                / F.col("n_g").cast("double"),
                6,
            ).cast("decimal(38,6)")
        ).alias("srq"),
    ).crossJoin(F.broadcast(ties))
    n = F.col("n").cast("double")
    h = F.lit(3.0) / (n * (n + F.lit(1.0))) * F.col("srq").cast("double") - F.lit(
        3.0
    ) * (n + F.lit(1.0))
    corr = F.lit(1.0) - F.col("tie3").cast("double") / (n * n * n - n)
    return tot.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("k").cast("long").alias("n_groups"),
        F.round(h, 6).alias("h_stat"),
        F.round(F.try_divide(h, corr), 6).alias("h_tie_corrected"),
    )


def brown_forsythe(df: DataFrame, group: Column, value: Column) -> DataFrame:
    """Brown-Forsythe test (Levene with MEDIAN centers) for variance
    homogeneity across groups — the robust "are the spreads equal?"
    companion to anova_value_by_type (which assumes they are) and
    robust_outliers_by_type (which flags points, not groups).

    W = one-way ANOVA F computed on z_ig = |v_ig - median_g|.

    AGGREGATE-FIRST plan (r09 rework — measured): the naive formulation
    (checkpoint the raw pool, per-group median window over the corpus,
    row-level join back) read 157s at a 20M-row smoke: a window
    partitioned by k groups puts n/k ROWS in each sort.  Medians and all
    z moments only depend on the (group, value, count) aggregate, so one
    map-side-combined groupBy collapses the corpus; the median window
    then ranks DISTINCT VALUES per group (quantized metrics: bounded —
    the binary_rank_auc discipline), the k med2 rows broadcast back onto
    the distinct frame, and the moments are count-weighted sums.  One
    corpus scan, no corpus-sized window or checkpoint.

    Exactness: group medians are EXACT rank-picked (med2 = sum of the
    two middle values via cumulative-count crossing conditions — for odd
    counts, or when both middle ranks land inside one value's count run,
    the same row satisfies both conditions and contributes v twice);
    z2 = |2v - med2| cast to long-backed DECIMAL(18,6) (exact while
    |z2| < 1e12), so z2^2 is DECIMAL(37,12) — inside Spark's 38-cap, NO
    silent scale reduction.  The squared term is quantized onto the 6dp
    grid (the ANOVA idiom) BEFORE the count-weighted sum so the
    cnt * z2^2 product cannot overflow precision; F is invariant to the
    uniform 2x scale of z2."""
    dec0 = "decimal(38,0)"
    gv = (
        df.select(group.alias("_g"), value.alias("_v"))
        .groupBy("_g", "_v")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    gv = gv.localCheckpoint()  # k x distinct values — feeds medians + moments
    w_g = Window.partitionBy("_g").orderBy("_v")
    n_w = Window.partitionBy("_g")
    cum_before = F.coalesce(
        F.sum("_cnt").over(w_g.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    n_g = F.sum("_cnt").over(n_w)
    lo = F.floor((n_g + 1) / 2)
    hi = F.floor((n_g + 2) / 2)
    win = gv.select(
        "_g",
        "_v",
        "_cnt",
        cum_before.alias("_cb"),
        lo.alias("_lo"),
        hi.alias("_hi"),
    )
    meds = win.groupBy("_g").agg(
        (
            F.sum(
                F.when(
                    (F.col("_cb") < F.col("_lo"))
                    & (F.col("_lo") <= F.col("_cb") + F.col("_cnt")),
                    F.col("_v"),
                )
            )
            + F.sum(
                F.when(
                    (F.col("_cb") < F.col("_hi"))
                    & (F.col("_hi") <= F.col("_cb") + F.col("_cnt")),
                    F.col("_v"),
                )
            )
        ).alias("med2")
    )
    z = gv.join(F.broadcast(meds), "_g").select(
        "_g",
        "_cnt",
        F.abs(F.col("_v") * 2 - F.col("med2")).cast("decimal(18,6)").alias("z2"),
    )
    # quantize z2^2 onto the 6dp grid BEFORE weighting by count: the
    # deterministic double chain both engines replay (ANOVA idiom); the
    # (38,6) x count product then keeps scale 6 exactly
    z2sq6 = F.round(
        F.col("z2").cast("double") * F.col("z2").cast("double"), 6
    ).cast("decimal(38,6)")
    g = z.groupBy("_g").agg(
        F.sum("_cnt").alias("n"),
        F.sum(F.col("_cnt").cast(dec0) * F.col("z2")).alias("s"),
        F.sum(F.col("_cnt").cast(dec0) * z2sq6).alias("s2"),
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        F.count(F.lit(1)).alias("k"),
        F.sum("s").alias("st"),
        F.sum("s2").alias("s2t"),
        F.sum(
            F.round(
                F.col("s").cast("double") * F.col("s").cast("double")
                / F.col("n").cast("double"),
                6,
            ).cast("decimal(38,6)")
        ).alias("ssb_term"),
    )
    ssb = F.col("ssb_term").cast("double") - F.col("st").cast("double") * F.col(
        "st"
    ).cast("double") / F.col("nt").cast("double")
    ssw = F.col("s2t").cast("double") - F.col("ssb_term").cast("double")
    w_stat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("nt") - F.col("k")))
    return tot.select(
        F.col("nt").cast("long").alias("n_rows"),
        F.col("k").cast("long").alias("n_groups"),
        F.round(w_stat, 6).alias("w_stat"),
    )
