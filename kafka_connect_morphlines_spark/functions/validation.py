"""Data-quality validation: one-pass column profiling + constraint checks.

The Deequ idea (Schelter et al., VLDB 2018: "Automating Large-Scale Data
Quality Verification") re-expressed DataFrame-native: a constraint suite
compiles to ONE aggregate pass over the table (conditional-sum codegen
aggregates, map-side combined), so a 100 TB gate costs a single scan no
matter how many constraints it carries.  Referential constraints add one
anti-join each (broadcast when the key side is small).

Used as the admission gate of an ingest pipeline: `check()` returns a
(constraint, column, violations, passed) frame; `expect()` raises when any
constraint fails, which is the batch-abort semantics of the reference's
per-record failure path lifted to table granularity
(/root/reference/src/main/java/com/github/epheatt/kafka/connect/morphlines/MorphlineSinkTask.java:136-138
— `if (!morphline.process(record)) log.warn(...)` drop-and-continue — is
the closest per-record analogue).

Scale notes:
- every scalar constraint is a conditional SUM in the same Aggregate node —
  no expand, no extra scan;
- `unique` uses count_distinct: ONE distinct aggregate triggers no Expand;
  N>1 unique constraints in one suite do (Spark plans multi-distinct via
  Expand) — split suites or use approx for the at-scale path;
- `profile()` keeps approx_count_distinct (HLL, single-pass) by default and
  exact count_distinct only when asked (the oracle-able path).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

from kafka_connect_morphlines_spark.functions import driver_table


@dataclass(frozen=True)
class NotNull:
    column: str


@dataclass(frozen=True)
class InRange:
    column: str
    lo: float
    hi: float


@dataclass(frozen=True)
class Matches:
    column: str
    pattern: str  # RE2-compatible, anchored by the caller


@dataclass(frozen=True)
class Unique:
    column: str


@dataclass(frozen=True)
class SubsetOf:
    """Referential integrity: every non-null value of ``column`` appears in
    ``ref_df[ref_column]``."""

    column: str
    ref_df: DataFrame
    ref_column: str

    def __hash__(self):  # DataFrames aren't hashable; identity is fine here
        return hash((self.column, self.ref_column, id(self.ref_df)))


Constraint = NotNull | InRange | Matches | Unique | SubsetOf


def _violations(c: Constraint) -> Optional[Column]:
    """The scalar violation-count aggregate for one constraint (None for
    constraints that need a join instead)."""
    col = F.col(c.column)
    if isinstance(c, NotNull):
        return F.sum(col.isNull().cast("long"))
    if isinstance(c, InRange):
        bad = col.isNull() | (col < F.lit(c.lo)) | (col > F.lit(c.hi))
        return F.sum(bad.cast("long"))
    if isinstance(c, Matches):
        bad = col.isNull() | ~col.rlike(c.pattern)
        return F.sum(bad.cast("long"))
    if isinstance(c, Unique):
        return F.count(col) - F.count_distinct(col)
    return None


def _label(c: Constraint) -> str:
    if isinstance(c, NotNull):
        return "not_null"
    if isinstance(c, InRange):
        return f"in_range[{c.lo},{c.hi}]"
    if isinstance(c, Matches):
        return f"matches[{c.pattern}]"
    if isinstance(c, Unique):
        return "unique"
    return "subset_of"


def check(df: DataFrame, constraints: list[Constraint]) -> DataFrame:
    """Run a constraint suite; returns (constraint, column, violations,
    passed) with one row per constraint, ordered as given.

    All scalar constraints ride in ONE aggregate over ``df``; each SubsetOf
    adds one anti-join count (broadcast the ref side when small).
    """
    spark = df.sparkSession
    scalar = [(i, c) for i, c in enumerate(constraints) if _violations(c) is not None]
    results: dict[int, tuple[str, str, int]] = {}
    if scalar:
        aggs = [_violations(c).alias(f"v{i}") for i, c in scalar]
        row = df.agg(*aggs).collect()[0]
        for i, c in scalar:
            results[i] = (_label(c), c.column, int(row[f"v{i}"] or 0))
    for i, c in enumerate(constraints):
        if isinstance(c, SubsetOf):
            missing = (
                df.select(F.col(c.column).alias("_k"))
                .filter(F.col("_k").isNotNull())
                .join(
                    c.ref_df.select(F.col(c.ref_column).alias("_k")).distinct(),
                    "_k",
                    "left_anti",
                )
                .count()
            )
            results[i] = (_label(c), c.column, int(missing))
    rows = [
        (results[i][0], results[i][1], results[i][2], results[i][2] == 0)
        for i in range(len(constraints))
    ]
    return driver_table(
        spark, rows, "constraint string, column string, violations long, passed boolean"
    )


class ConstraintViolation(Exception):
    pass


def expect(df: DataFrame, constraints: list[Constraint]) -> DataFrame:
    """Batch-abort gate: raise ConstraintViolation listing every failed
    constraint; returns the check frame when all pass."""
    out = check(df, constraints)
    failed = [r for r in out.collect() if not r["passed"]]
    if failed:
        detail = ", ".join(f"{r['constraint']}({r['column']})={r['violations']}" for r in failed)
        raise ConstraintViolation(f"constraint violations: {detail}")
    return out


def profile(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """Numeric column profile in long format: (column, metric, value) with
    metrics row_count / completeness / n_distinct / min / max / mean.

    ONE aggregate pass; distinct counts are HLL (approx_count_distinct)
    unless ``exact_distinct`` — exact multi-column distincts make Spark plan
    an Expand (rows × constraints), which is the known scale trap; keep the
    approx default at 100 TB.
    """
    from pyspark.sql.types import NumericType

    names = columns or [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, name in enumerate(names):
        c = F.col(name)
        nd = F.count_distinct(c) if exact_distinct else F.approx_count_distinct(c)
        aggs += [
            F.avg(c.isNotNull().cast("double")).alias(f"comp{i}"),
            nd.cast("double").alias(f"nd{i}"),
            F.min(c).cast("double").alias(f"min{i}"),
            F.max(c).cast("double").alias(f"max{i}"),
            F.avg(c.cast("double")).alias(f"mean{i}"),
        ]
    wide = df.agg(*aggs)
    stacked = []
    for i, name in enumerate(names):
        for metric, col in [
            ("row_count", F.col("_n").cast("double")),
            ("completeness", F.col(f"comp{i}")),
            ("n_distinct", F.col(f"nd{i}")),
            ("min", F.col(f"min{i}")),
            ("max", F.col(f"max{i}")),
            ("mean", F.col(f"mean{i}")),
        ]:
            stacked.append(F.struct(F.lit(name).alias("column"), F.lit(metric).alias("metric"), col.alias("value")))
    return wide.select(F.explode(F.array(*stacked)).alias("m")).select("m.column", "m.metric", "m.value")


def histogram(
    df: DataFrame,
    value: Column,
    n_bins: int = 20,
    key: Column | None = None,
) -> DataFrame:
    """Fixed-width histogram: (key?, bin, lo, hi, cnt) — the profiling
    companion to :func:`profile` (distribution shape, not just moments).

    Two passes, both map-side-combinable aggregates: one for per-key
    min/max, one for bin counts (bin index is a pure codegen expression;
    the boundary frame is keys-sized and broadcast back).  Constant-width
    bins keep the result exact and engine-portable — equal-frequency
    binning needs exact percentiles, which don't scale (full sort /
    per-group collection); at 100 TB use dd_sketch for quantile shape
    instead.  Degenerate keys (min == max) land every row in bin 0.
    """
    kcols = [key.alias("k")] if key is not None else []
    base = df.select(*kcols, value.cast("double").alias("v")).filter(F.col("v").isNotNull())
    gb = ["k"] if key is not None else []
    bounds = base.groupBy(*gb).agg(F.min("v").alias("_lo"), F.max("v").alias("_hi"))
    joined = base.join(F.broadcast(bounds), gb) if gb else base.crossJoin(F.broadcast(bounds))
    width = (F.col("_hi") - F.col("_lo")) / n_bins
    bin_ = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("v") - F.col("_lo")) / width).cast("int"), F.lit(n_bins - 1)
        )
    )
    return (
        joined.select(*gb, bin_.alias("bin"), "_lo", "_hi")
        .groupBy(*gb, "bin", "_lo", "_hi")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            *gb,
            "bin",
            F.round(F.col("_lo") + F.col("bin") * (F.col("_hi") - F.col("_lo")) / n_bins, 6).alias("lo"),
            F.round(F.col("_lo") + (F.col("bin") + 1) * (F.col("_hi") - F.col("_lo")) / n_bins, 6).alias("hi"),
            "cnt",
        )
    )


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    value: Column,
    n_bins: int = 10,
    key: Column | None = None,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two snapshots of a distribution:
    PSI = sum over bins of (p_new - p_old) * ln(p_new / p_old).

    The standard drift monitor for scores/features between corpus or model
    releases (rule of thumb: <0.1 stable, 0.1-0.25 drifting, >0.25 shifted).
    Bin edges come from the OLD snapshot's min/max (the reference
    distribution), so a shifted new snapshot lands in the clamp bins rather
    than silently re-normalizing; empty bins are floored at ``eps`` before
    the log.  Cost: one bounds pass over the old snapshot plus one
    histogram aggregate per side (3 column-pruned scans total) + a
    bins-sized join — re-scanning a pruned column beats materializing an
    event-volume frame, and no event-volume join ever happens.
    """
    kcols = [key.alias("k")] if key is not None else []
    gb = ["k"] if key is not None else []
    o = old.select(*kcols, value.cast("double").alias("v")).filter(F.col("v").isNotNull())
    n = new.select(*kcols, value.cast("double").alias("v")).filter(F.col("v").isNotNull())
    bounds = o.groupBy(*gb).agg(F.min("v").alias("_lo"), F.max("v").alias("_hi"))

    def binned(df: DataFrame, cnt_name: str) -> DataFrame:
        j = df.join(F.broadcast(bounds), gb) if gb else df.crossJoin(F.broadcast(bounds))
        width = (F.col("_hi") - F.col("_lo")) / n_bins
        b = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
            F.least(
                F.greatest(F.floor((F.col("v") - F.col("_lo")) / width), F.lit(0)),
                F.lit(n_bins - 1),
            ).cast("int")
        )
        return j.select(*gb, b.alias("bin")).groupBy(*gb, "bin").agg(
            F.count(F.lit(1)).alias(cnt_name)
        )

    ho = binned(o, "c_old")
    hn = binned(n, "c_new")
    joined = ho.join(hn, [*gb, "bin"], "full_outer").fillna(0, ["c_old", "c_new"])
    tot = joined.groupBy(*gb).agg(
        F.sum("c_old").alias("_to"), F.sum("c_new").alias("_tn")
    )
    j2 = joined.join(F.broadcast(tot), gb) if gb else joined.crossJoin(F.broadcast(tot))
    po = F.greatest(F.col("c_old") / F.col("_to"), F.lit(eps))
    pn = F.greatest(F.col("c_new") / F.col("_tn"), F.lit(eps))
    term = (pn - po) * F.log(pn / po)
    return j2.groupBy(*gb).agg(F.round(F.sum(term), 6).alias("psi"))


def robust_outlier_stats(
    df: DataFrame, group_col: str, value_col: str, z: float = 3.5
) -> DataFrame:
    """Per-group robust outlier summary via the modified z-score (Iglewicz
    & Hoaglin): median, MAD (median absolute deviation), and how many rows
    exceed ``0.6745*|x - med| > z * mad`` — the outlier test that, unlike
    mean/stddev z-scores, is not itself dragged by the outliers.

    Three group-keyed passes (median -> MAD -> flag count), every shuffle
    on the same group key so AQE coalesces them; no driver collect.  The
    MAD is computed against the *unrounded* median, then both med and mad
    are 6dp-rounded before the flag comparison so the count is
    engine-portable (interpolated percentiles agree to well past 6dp, and
    the comparison then runs on identical inputs).  Groups with mad = 0
    (over half the values identical) report 0 outliers rather than
    dividing by zero — the standard MAD caveat.
    """
    g, v = F.col(group_col), F.col(value_col)
    med = df.groupBy(g.alias("g")).agg(F.percentile(v, F.lit(0.5)).alias("_med"))
    j = df.select(g.alias("g"), v.alias("v")).join(med, "g")
    mad = j.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.first("_med"), 6).alias("median"),
        F.round(F.percentile(F.abs(F.col("v") - F.col("_med")), F.lit(0.5)), 6).alias(
            "mad"
        ),
    )
    flagged = (
        df.select(g.alias("g"), v.alias("v"))
        .join(mad, "g")
        .groupBy("g")
        .agg(
            F.first("n").alias("n"),
            F.first("median").alias("median"),
            F.first("mad").alias("mad"),
            F.sum(
                F.when(
                    (F.col("mad") > 0)
                    & (
                        F.lit(0.6745) * F.abs(F.col("v") - F.col("median"))
                        > F.lit(z) * F.col("mad")
                    ),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )
    return flagged.select(
        F.col("g").alias(group_col),
        "n",
        "median",
        "mad",
        "n_outliers",
        F.round(
            F.try_divide(F.col("n_outliers").cast("double"), F.col("n").cast("double")),
            6,
        ).alias("outlier_rate"),
    )


def ks_drift(
    df: DataFrame,
    value: Column,
    group: Column,
    group_a: str,
    group_b: str,
    decimals: int | None = 6,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the ``value``
    distributions of two groups: ``D = max_x |F_a(x) - F_b(x)|`` — the
    nonparametric drift test that complements psi_drift (PSI needs a
    binning choice; KS is binning-free over the observed support).

    Exact integer arithmetic end-to-end: per distinct (quantized) value
    the cumulative counts ``ca``, ``cb`` are integers, and the max is
    taken over ``|ca*nb - cb*na|`` (cross-multiplied, DECIMAL(38,0) so
    products are exact far past int64), with the single division to
    ``ks_d`` deferred to the end — partition- and engine-invariant.

    100 TB shape (the binary_rank_auc pattern): one groupBy collapses the
    corpus to DISTINCT (optionally ``decimals``-quantized) values, then
    the cumulative ECDF pass runs through orderstats.bucketed_cumsum —
    one plain window while the distinct frame fits a partition, the
    deterministic-bucket distributed path for continuous unquantized
    values beyond SMALL_ROWS — so the ordered pass never concentrates
    event-volume (or continuous-value cardinality) on one task.

    Returns one row: (n_a, n_b, d_num, d_den, ks_d).
    """
    from kafka_connect_morphlines_spark.functions import orderstats

    dec0 = "decimal(38,0)"
    v = value.cast("double")
    if decimals is not None:
        v = F.round(v, decimals)
    per = (
        df.select(v.alias("v"), group.alias("g"))
        .filter(F.col("v").isNotNull() & F.col("g").isin([group_a, group_b]))
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("g") == group_a, 1).otherwise(0)).alias("a_s"),
            F.sum(F.when(F.col("g") == group_b, 1).otherwise(0)).alias("b_s"),
        )
    )
    per = per.localCheckpoint()  # count below is then ~free
    # inclusive cumulative = exclusive + the row's own count
    cum = orderstats.bucketed_cumsum(
        per, "v", {"_ba": "a_s", "_bb": "b_s"}, n_rows=per.count()
    ).select(
        (F.col("_ba") + F.col("a_s")).alias("ca"),
        (F.col("_bb") + F.col("b_s")).alias("cb"),
    )
    totals = per.agg(
        F.sum("a_s").alias("n_a"), F.sum("b_s").alias("n_b")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.max(
                F.abs(
                    F.col("ca").cast(dec0) * F.col("n_b")
                    - F.col("cb").cast(dec0) * F.col("n_a")
                )
            ).alias("_dnum"),
        )
        .select(
            "n_a",
            "n_b",
            F.col("_dnum").cast("long").alias("d_num"),
            (F.col("n_a").cast(dec0) * F.col("n_b")).cast("long").alias("d_den"),
            F.round(
                F.try_divide(
                    F.col("_dnum").cast("double"),
                    (F.col("n_a").cast(dec0) * F.col("n_b")).cast("double"),
                ),
                6,
            ).alias("ks_d"),
        )
    )


def trimmed_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """Per-group trimmed mean: the mean of values inside the exact
    [lo_q, hi_q] quantile band — the robust central-tendency companion to
    robust_outlier_stats (winsorization's keep-the-middle sibling; immune
    to the tail corruption that drags a plain mean).

    Exact linear-interpolation percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont`` — parity proven by percentiles_by_status);
    the kept-value mean accumulates in DECIMAL(38,12) so it is
    partition-invariant (the calibration_table mean_score idiom).  Two
    passes over a pruned (group, value) projection, at 100 TB both
    shuffles carry (group, numeric) rows only.  r10: the bounds come
    from orderstats.interpolated_quantiles_by_group (bit-parity with the
    built-in ``percentile``, pinned) instead of the built-in itself,
    which buffers a per-group value->count map in ONE aggregation buffer
    — the old "quantize when continuous at corpus scale" contract is
    gone; no task holds more than its partition slice.

    Returns (group, n_total, n_kept, lo, hi, trimmed_mean).
    """
    from kafka_connect_morphlines_spark.functions import orderstats

    v = F.col(value_col).cast("double")
    g = df.select(F.col(group_col).alias("g"), v.alias("v")).filter(
        F.col("v").isNotNull()
    )
    bounds = orderstats.interpolated_quantiles_by_group(
        g, F.col("g"), F.col("v"), {"lo": lo_q, "hi": hi_q}
    ).select(
        F.col("grp").alias("g"), F.col("n").alias("n_total"), "lo", "hi"
    )
    kept = g.join(F.broadcast(bounds), "g").filter(
        (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi"))
    )
    agg = kept.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.col("v").cast("decimal(38,12)")).alias("_vsum"),
    )
    return (
        bounds.join(agg, "g")
        .select(
            F.col("g").alias(group_col),
            "n_total",
            "n_kept",
            F.round("lo", 6).alias("lo"),
            F.round("hi", 6).alias("hi"),
            F.round(
                F.col("_vsum").cast("double") / F.col("n_kept").cast("double"), 6
            ).alias("trimmed_mean"),
        )
        .orderBy(group_col)
    )


def gini_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group Gini coefficient of a non-negative value — the inequality
    audit of dataset balance (how concentrated token counts / revenue /
    sample mass are within a domain):
    ``G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))`` over ascending-
    sorted values with 1-based index i.

    Tie-exact without sorting row-by-row: collapse to DISTINCT values with
    counts first (the rank-AUC shape), then for a value v with count c and
    p predecessors the index block contributes ``v * (c*p + c*(c+1)/2)``
    — index arithmetic stays in exact integers, each v-term is 6dp-rounded
    and summed as DECIMAL, and the single division happens at the end.
    The cumulative window is partitioned by group over value-cardinality
    rows, never event volume.  Returns (group, n, mean, gini);
    groups with sum(x) = 0 get NULL gini via try_divide.
    """
    from pyspark.sql import Window

    dec = "decimal(38,12)"
    per = (
        df.select(F.col(group_col).alias("g"), F.col(value_col).cast("double").alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("g").orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.withColumn("p", F.coalesce(F.sum("c").over(w), F.lit(0)))
    idx_sum = F.col("c") * F.col("p") + (F.col("c") * (F.col("c") + 1)) / F.lit(2)
    agg = cum.groupBy("g").agg(
        F.sum("c").alias("n"),
        F.sum(F.round(F.col("v") * F.col("c"), 6).cast(dec)).alias("_sx"),
        F.sum(F.round(F.col("v") * idx_sum, 6).cast(dec)).alias("_sixi"),
    )
    sx = F.col("_sx").cast("double")
    sixi = F.col("_sixi").cast("double")
    n = F.col("n").cast("double")
    return agg.select(
        F.col("g").alias(group_col),
        "n",
        F.round(sx / n, 6).alias("mean"),
        F.round(
            F.try_divide(F.lit(2.0) * sixi - (n + F.lit(1.0)) * sx, n * sx), 6
        ).alias("gini"),
    ).orderBy(group_col)
