"""Distributed EXACT order statistics.

Spark's built-ins offer approx_percentile (a sketch, not exact) and
percentile (exact, but one per-group value->count buffer on one task);
neither gives an engine-portable exact weighted quantile.

Every exact order statistic here except the iterative selection of
``global_rank_pick`` — running sums (``bucketed_cumsum``), global row
indexes (``with_global_index``), weighted and interpolated per-group
quantiles — runs on one bucketed-prefix mechanism:

1. ``_bucket_id`` maps each value to an order-preserving bucket id, a
   pure codegen function of the value (``monotone_log_bucket``);
2. one bounded aggregate collects the per-bucket totals, the driver
   prefix-sums them into exact offsets, and a broadcast local table
   (``functions.driver_table``: a ``LocalTableScan``, no Python task)
   carries the offsets back (``_bucket_offsets``; grouped and restricted
   to the buckets that cover a target: ``_covering_prefix``);
3. a window partitioned by bucket finishes the order inside each bucket.

Invariant: buckets only balance load.  The driver offsets make every
result independent of the bucketing — any monotone bucket map, a single
bucket included, gives the same exact numbers — and bucket ids do not
depend on partitioning, scheduling or block lifetime (pinned by the
path-parity tests).

Weighted quantiles are LOWER quantiles with an exact rational threshold:
for weights w_v summed per distinct value v within a group, total W, and
a rational quantile num/den, the result is the smallest v with

    den * cum(v) >= num * W        (cum = inclusive cumulative weight)

All comparisons are products of exact DECIMAL integers — no division, no
interpolation — so Spark and DuckDB agree bit-for-bit and the value
itself is an actual data value.
"""

from __future__ import annotations

import bisect
import itertools
import math
import operator
from fractions import Fraction
from functools import reduce

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, LongType, NumericType, StructField, StructType

from kafka_connect_morphlines_spark.functions import driver_table

__all__ = [
    "weighted_quantiles_by_group",
    "global_rank_pick",
    "with_global_index",
    "interpolated_quantiles_by_group",
    "bucketed_cumsum",
    "monotone_log_bucket",
]

# ---------------------------------------------------------------------------
# Order-preserving bucket map.
#
# ``floor(log(|v|) * S/ln 2)`` slices each power-of-two octave of the
# double range into S slots, with rails for sign/zero/NaN/±inf: no edges
# job, no sample, no driver literal baked from data.
#
# Monotonicity: within a sign region the chain  v -> |v| -> log -> *K ->
# floor  is monotone as COMPUTED: StrictMath/Math.log is monotone (fdlibm),
# and IEEE multiply by a positive literal and floor are monotone under
# rounding.  tests/test_log_bucket.py pins this against the actual JVM on
# every octave boundary of the double range (subnormals included, with
# nextafter neighbors) plus ~60k random nextafter pairs.
#
# Balance: data spanning k octaves spreads over ~k*S buckets.  The
# bucket-id range is +/- ~5*OFF, so the per-bucket collects stay bounded:
# at most (octaves spanned) * S non-empty rows — ~2100*S for data spanning
# the whole double range, dozens of rows for real metric data.
# ---------------------------------------------------------------------------


def monotone_log_bucket(v: Column, slots_per_octave: int = 64) -> Column:
    """Deterministic, data-independent, order-preserving bucket id for a
    DOUBLE column: smaller value -> smaller (or equal) bucket, computed
    entirely in codegen (no edges job, no sampled literals).

    NULL input yields NULL — ``_bucket_id`` puts NULLs on their own rail.  NaN gets the top
    bucket (Spark sorts NaN last), ±inf get rails beyond every finite
    bucket, zero (either sign) gets bucket 0.
    """
    k = float(slots_per_octave) / math.log(2.0)
    # |log|v|| <= 744.44 (ln of the smallest denormal), so |pos| <= off-2
    off = int(745.0 * k) + 2
    a = F.abs(v)
    pos = F.floor(F.log(a) * F.lit(k)).cast("long")
    return (
        F.when(F.isnan(v), F.lit(5 * off))
        .when(v == F.lit(float("inf")), F.lit(4 * off))
        .when(v == F.lit(float("-inf")), F.lit(-4 * off))
        .when(v == F.lit(0.0), F.lit(0))
        .when(v > F.lit(0.0), F.lit(off) + pos)
        .otherwise(F.lit(-off) - pos)
    ).cast("int")


def _bucket_id(df: DataFrame, col: str, slots: int) -> Column:
    """The bucket id of ``df[col]`` for every bucketed path: the
    ``monotone_log_bucket`` of the value, NULL on an explicit rail below
    every bucket (NULLS FIRST — a NULL must not fall through to the top
    bucket), NaN on the top rail (Spark sorts NaN last).  The windows
    order ``col`` in its native type, which a cast to double need not
    preserve, so a non-numeric type — and ``slots < 3`` — takes one
    bucket beside the NULL rail."""
    v = F.col(col)
    if slots < 3 or not isinstance(df.schema[col].dataType, NumericType):
        return F.when(v.isNull(), F.lit(-1)).otherwise(F.lit(0))
    # the coalesce never fires, but it proves the id non-null: without it
    # the optimizer infers an isnotnull filter on the join key that
    # evaluates the whole bucket expression a second time per row
    return F.when(v.isNull(), F.lit(-(1 << 30))).otherwise(
        F.coalesce(monotone_log_bucket(v.cast("double"), slots), F.lit(1 << 30))
    )


def _bucket_offsets(
    df: DataFrame, order_col: str, totals: dict[str, Column], slots: int
) -> tuple[DataFrame, dict[str, int]]:
    """``df`` with its bucket id ``_obkt`` and, per ``name -> agg`` of
    ``totals``, a long column ``name``: ``agg`` summed over every row of
    a LOWER bucket.  The per-bucket totals are one bounded collect (a
    row per non-empty bucket), prefix-summed on the driver.  Also returns
    each ``agg``'s grand total."""
    bucketed = df.withColumn("_obkt", _bucket_id(df, order_col, slots))
    rows = (
        bucketed.groupBy("_obkt")
        .agg(*[a.cast("long").alias(n) for n, a in totals.items()])
        .collect()
    )
    acc = dict.fromkeys(totals, 0)
    offsets = []
    for r in sorted(rows, key=lambda r: r["_obkt"]):  # bucket order IS value order
        offsets.append((r["_obkt"], *acc.values()))
        for n in totals:
            acc[n] += r[n] or 0
    schema = ", ".join(["_obkt int", *[f"{n} long" for n in totals]])
    table = driver_table(df.sparkSession, offsets, schema)
    return bucketed.join(F.broadcast(table), "_obkt"), acc


def _covering_prefix(raw: DataFrame, slots: int, targets, *, weighted: bool) -> DataFrame:
    """The grouped bucketed prefix behind the per-group quantiles.

    ``raw`` has a string group ``_g``, a value ``_v`` and, if
    ``weighted``, a DECIMAL weight ``_w`` (else every row weighs 1).  One
    bounded collect gives the per-(group, bucket) weight totals.  On the
    driver, each target of ``targets(group_total)`` picks its COVERING
    bucket — the first whose inclusive cumulative weight reaches the
    target — by exact comparison.  Only those buckets are read again
    (broadcast join on the driver table), collapsed to distinct values
    and windowed per (group, bucket).  Returns, per distinct value of a
    covering bucket: ``_g``, ``_v``, the group total ``_n``, and the
    exact weight of the group's values before ``_v`` (``_before``) and
    up to it (``_cum``).  ``raw`` is read twice: cache it upstream if
    scans are expensive."""
    bucketed = raw.withColumn("_obkt", _bucket_id(raw, "_v", slots))
    if weighted:
        wsum, ztype = F.sum("_w"), "decimal(38,6)"
        guard = [F.sum(F.when(F.col("_w") <= 0, 1).otherwise(0)).alias("_bad")]
    else:
        wsum, ztype, guard = F.count(F.lit(1)), "long", []
    totals = bucketed.groupBy("_g", "_obkt").agg(wsum.alias("_t"), *guard).collect()
    if weighted and any(r["_bad"] for r in totals):
        # a nonpositive weight makes the cumulative non-monotonic, so the
        # crossing filter would match 0 or 2+ rows and drop the group
        raise ValueError(
            "weighted_quantiles_by_group: nonpositive weight — weights "
            "must be positive for the crossing pick to be unique"
        )
    by_group: dict = {}
    for r in sorted(totals, key=lambda r: r["_obkt"]):
        by_group.setdefault(r["_g"], []).append((r["_obkt"], r["_t"]))
    covering = []
    for g, buckets in by_group.items():
        ends = list(itertools.accumulate(t for _, t in buckets))
        for i in sorted({bisect.bisect_left(ends, t) for t in targets(ends[-1])}):
            b, t = buckets[i]
            covering.append((g, b, ends[i] - t, ends[-1]))
    table = driver_table(
        raw.sparkSession, covering, f"_g string, _obkt int, _off {ztype}, _n {ztype}"
    )
    win = Window.partitionBy("_g", "_obkt").orderBy("_v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        bucketed.join(F.broadcast(table.drop("_n")), ["_g", "_obkt"])
        .groupBy("_g", "_obkt", "_off", "_v")
        .agg(wsum.alias("_wv"))
        .withColumn(
            "_before",
            F.col("_off") + F.coalesce(F.sum("_wv").over(win), F.lit(0).cast(ztype)),
        )
        .withColumn("_cum", F.col("_before") + F.col("_wv"))
        .join(F.broadcast(table.select("_g", "_obkt", "_n")), ["_g", "_obkt"])
    )


def global_rank_pick(
    counts: DataFrame,
    value_col: str,
    count_col: str,
    ks: list[int],
    num_buckets: int = 128,
    cutoff: int = 200_000,
    max_rounds: int = 20,
    stats: dict | None = None,
    with_ranks: str | None = None,
) -> DataFrame:
    """Rows of a (value, count) frame whose INCLUSIVE cumulative count by
    ascending value crosses any 1-based integer rank in ``ks`` — the
    ungrouped integer-rank sibling of weighted_quantiles_by_group, run as
    classic ITERATIVE DISTRIBUTED SELECTION (r10): each round buckets
    every surviving value RANGE with codegen ``width_bucket`` calls (one
    scan for all ranges via a bounded composite grouping key), collects
    the bounded per-bucket (count, min, max) table, locates on the driver
    which buckets hold the requested ranks, and narrows EACH pending rank
    to its own covering bucket with PURE RANGE PREDICATES (value >= lo
    AND value <= hi) — disjoint per-rank intervals, so spread ranks
    (quartiles, percent grids) converge geometrically instead of
    narrowing the single span between the lowest and highest pending
    rank.  Once an interval holds <= ``cutoff`` rows, one window sort of
    that bounded remainder applies the exact crossing conditions (one
    such sort per surviving interval, interval count <= len(ks)).

    Why ranges and not bucket-id columns: a driver-baked boundary
    when-chain is fine to FILTER on but pathological to OUTPUT (measured
    17s to project 46k rows carrying a 63-term when-chain column vs 0.4s
    for the equivalent range filter — deep nested expressions defeat
    codegen at plan boundaries).  width_bucket is a single codegen
    builtin, and no computed column ever crosses a stage boundary.

    Determinism: bucket edges are literals derived from collected
    min/max; the picked VALUES are identical for any bucketing (ranges
    only load-balance), so the result is independent of partitioning and
    scheduling by construction.  No data-sized shuffle or sort exists
    anywhere; the final sort is <= cutoff rows by construction.

    Counts must be positive.  Rows need not be distinct by value: for a
    tie run the crossing rank hits exactly one row of the run and every
    row of the run carries the same value, so the picked VALUE is
    deterministic (callers with extra non-value columns on tied rows get
    an arbitrary representative).  A value row is returned once even if
    it covers several requested ranks (callers that average middle
    elements get the right answer because (v+v)/2 = v).  Skew/plateau
    guard: a bucket whose min == max IS a single value — its covered
    ranks resolve immediately and come back as a local relation of the
    value column's own type (``driver_table``, which converts a collected
    naive timestamp as ``createDataFrame`` would); ``max_rounds`` caps
    pathological float-edge stalls, falling back to sorting the survivors.
    ``counts`` is read once per round plus once per surviving interval
    for the final pick (interval count <= len(ks)) — checkpoint/cache it
    upstream.  Pass a dict as ``stats`` to receive
    ``{"rounds", "final_interval_rows"}`` — the convergence pin used by
    the regression tests (every surviving interval must be <= cutoff
    unless max_rounds or a plateau stopped narrowing).

    ``with_ranks``: name of an extra ``array<long>`` output column
    listing, per picked row, the requested ranks it covers (sorted) — the
    label a percent-grid consumer needs when two requested ranks land on
    the same value row (a tie plateau) and the row is emitted once.
    Costs one bounded per-k conditional array per interval; ``None``
    (default) leaves the output schema — and therefore every certified
    consumer's plan — untouched.
    """
    if not ks:
        raise ValueError("ks must be non-empty")
    vc, cc = F.col(value_col), F.col(count_col)
    first = counts.agg(
        F.min(vc).alias("_lo"),
        F.max(vc).alias("_hi"),
        F.sum(cc).alias("_n"),
        F.sum(F.when(vc.isNull(), 1).otherwise(0)).alias("_nulls"),
    ).first()
    if first["_nulls"]:
        # a NULL has no place in a total order: min/max skip it, so every
        # offset downstream would silently shift — fail loudly instead
        raise ValueError("global_rank_pick: value column contains NULLs")
    def _empty() -> DataFrame:
        out = counts.filter(F.lit(False))
        if with_ranks is not None:
            out = out.withColumn(with_ranks, F.array().cast("array<long>"))
        return out

    if first["_n"] is None:
        return _empty()
    total = int(first["_n"])
    want = sorted({int(k) for k in ks if 1 <= int(k) <= total})
    if not want:
        return _empty()
    numeric = True
    try:
        float(first["_lo"])
    except (TypeError, ValueError):
        numeric = False  # orderable non-numeric: skip narrowing rounds
    # Disjoint surviving intervals, each owning the pending ranks whose
    # crossing rows lie inside it.  Narrowing is PER INTERVAL (r10 fix):
    # the old single-interval loop narrowed to the span between the
    # LOWEST and HIGHEST pending rank, so spread ranks (e.g. quartiles)
    # barely narrowed per round and the fallback sorted millions of rows
    # in one partition.  Per-rank covering buckets shrink geometrically
    # (1/num_buckets per round) regardless of rank spread, and intervals
    # are disjoint by construction (width_bucket is monotone in value and
    # equal values share a bucket), so per-interval offsets stay exact.
    intervals: list[dict] = [
        {"lo": first["_lo"], "hi": first["_hi"], "off": 0, "n": total, "ks": want}
    ]
    resolved: list = []  # (rank, value) pinned by single-value buckets
    stride = num_buckets + 2
    rounds = 0
    while numeric and rounds < max_rounds:
        active = [
            iv
            for iv in intervals
            if iv["n"] > cutoff
            and iv["lo"] != iv["hi"]
            and float(iv["hi"]) > float(iv["lo"])  # denormal width: unsplittable
        ]
        if not active:
            break
        rounds += 1
        # ONE scan buckets every active interval: composite key = interval
        # index * stride + width_bucket within that interval's edges.  The
        # when-chain is bounded by the number of pending rank clusters
        # (<= len(ks)), evaluated once per row inside the scan stage as a
        # grouping key — never a data-sized output column crossing a plan
        # boundary.  Rows outside every active interval key to NULL and
        # are dropped by the partial aggregate.
        key = None
        for i, iv in enumerate(active):
            flo, fhi = float(iv["lo"]), float(iv["hi"])
            # width_bucket: 1..B inside [lo, hi); hi itself maps to B+1 -> clamp
            b = F.least(
                F.width_bucket(vc.cast("double"), F.lit(flo), F.lit(fhi), F.lit(num_buckets)),
                F.lit(num_buckets),
            )
            cond = (vc >= F.lit(iv["lo"])) & (vc <= F.lit(iv["hi"]))
            expr = F.lit(i * stride) + b
            key = F.when(cond, expr) if key is None else key.when(cond, expr)
        rows = (
            counts.groupBy(key.alias("_ib"))
            .agg(F.sum(cc).alias("_t"), F.min(vc).alias("_mn"), F.max(vc).alias("_mx"))
            .filter(F.col("_ib").isNotNull())
            .collect()
        )
        by_iv: dict[int, list] = {}
        for r in rows:
            ib = int(r["_ib"])
            by_iv.setdefault(ib // stride, []).append(
                (ib % stride, int(r["_t"]), r["_mn"], r["_mx"])
            )
        active_ids = {id(iv) for iv in active}
        new_intervals = [iv for iv in intervals if id(iv) not in active_ids]
        for i, iv in enumerate(active):
            run = iv["off"]
            for _b, t, mn, mx in sorted(by_iv.get(i, [])):
                covered = [k for k in iv["ks"] if run < k <= run + t]
                if covered:
                    if mn == mx:
                        resolved.extend([(k, mn) for k in covered])
                    else:
                        new_intervals.append(
                            {"lo": mn, "hi": mx, "off": run, "n": t, "ks": covered}
                        )
                run += t
        intervals = new_intervals
    if stats is not None:
        stats["rounds"] = rounds
        stats["final_interval_rows"] = [iv["n"] for iv in intervals if iv["ks"]]
    picked = None
    live = [iv for iv in intervals if iv["ks"]]
    if live:
        # ONE window job finishes every surviving interval: rows of all
        # intervals are tagged with a bounded interval-id when-chain and
        # the window sorts PER INTERVAL (partitionBy the id), so each
        # partition is <= cutoff rows by construction (or the
        # max_rounds/plateau fallback survivors) and the counts frame is
        # scanned once instead of once per interval.  A lone whole-frame
        # interval (non-numeric values, or inputs below the cutoff)
        # skips the literal range filter — collected non-numeric min/max
        # never round-trip through F.lit — at the documented cost of one
        # single-partition sort of the (small) frame.
        if len(live) == 1 and live[0]["off"] == 0 and live[0]["n"] == total:
            src = counts.withColumn("_iv", F.lit(0))
        else:
            conds = [
                (vc >= F.lit(iv["lo"])) & (vc <= F.lit(iv["hi"])) for iv in live
            ]
            keep = conds[0]
            for c in conds[1:]:
                keep = keep | c
            ivid = None
            for i, c in enumerate(conds):
                ivid = F.when(c, i) if ivid is None else ivid.when(c, i)
            src = counts.filter(keep).withColumn("_iv", ivid)
        off_expr = F.lit(int(live[0]["off"])).cast("long")
        if len(live) > 1:
            off_expr = None
            for i, iv in enumerate(live):
                clause = (F.col("_iv") == i, F.lit(int(iv["off"])).cast("long"))
                off_expr = (
                    F.when(*clause) if off_expr is None else off_expr.when(*clause)
                )
        w_local = Window.partitionBy("_iv").orderBy(value_col).rowsBetween(
            Window.unboundedPreceding, -1
        )
        local = src.withColumn(
            "_before",
            off_expr + F.coalesce(F.sum(count_col).over(w_local), F.lit(0)).cast("long"),
        ).withColumn("_cum", F.col("_before") + cc.cast("long"))

        def _cross(k: int) -> Column:
            kl = F.lit(int(k)).cast("long")
            return (F.col("_cum") >= kl) & (F.col("_before") < kl)

        cond = F.lit(False)
        for i, iv in enumerate(live):
            for k in iv["ks"]:
                cond = cond | ((F.col("_iv") == i) & _cross(k))
        part = local.filter(cond)
        if with_ranks is not None:
            all_ks = sorted({int(k) for iv in live for k in iv["ks"]})
            part = part.withColumn(
                with_ranks,
                F.array_compact(
                    F.array(
                        *[
                            F.when(_cross(k), F.lit(int(k)).cast("long"))
                            for k in all_ks
                        ]
                    )
                ),
            )
        picked = part.drop("_iv", "_before", "_cum")
    if resolved:
        # single-value buckets resolved on the driver: emit literal rows
        # (one per distinct value) shaped like the input frame
        spark = counts.sparkSession
        distinct_vals = sorted({v for _, v in resolved})
        val_schema = counts.select(value_col).schema
        if with_ranks is None:
            lit_rows = driver_table(spark, [(v,) for v in distinct_vals], val_schema)
            extra = []
        else:
            lit_rows = driver_table(
                spark,
                [
                    (v, sorted(int(k) for k, vv in resolved if vv == v))
                    for v in distinct_vals
                ],
                StructType(
                    list(val_schema.fields)
                    + [StructField(with_ranks, ArrayType(LongType()), False)]
                ),
            )
            extra = [F.col(with_ranks)]
        filled = lit_rows.select(
            *[
                F.col(value_col) if c == value_col else F.lit(None).cast(f.dataType).alias(c)
                for c, f in zip(counts.columns, counts.schema.fields)
            ],
            *extra,
        )
        picked = filled if picked is None else picked.unionByName(filled)
    return picked if picked is not None else _empty()


def weighted_quantiles_by_group(
    df: DataFrame,
    group: Column,
    value: Column,
    weight: Column,
    quantiles: dict[str, tuple[int, int]],
    num_buckets: int = 64,
) -> DataFrame:
    """Exact lower weighted quantiles of ``value`` weighted by ``weight``
    within each ``group`` — ALL requested quantiles from ONE pass.

    ``quantiles`` maps output column name -> (num, den), e.g.
    ``{"median": (1, 2), "p90": (9, 10)}``.  Returns one row per group:
    (grp, w_total, <name>...).  Group keys are stringified (they
    round-trip through the driver table); weights must be positive
    (checked on the raw rows).

    Shape: ``_covering_prefix`` — per-(group, bucket) weight totals off
    the RAW rows (map-side combined, no distinct), the <= |quantiles|
    covering buckets per group found on the driver with exact rational
    comparisons, and only those windowed — no materialization, no
    data-sized single partition.  Each crossing row is picked by two
    exact DECIMAL-product comparisons (den*cum >= num*W > den*cum_before)
    in ONE conditional aggregation.  ``df`` is scanned twice.
    """
    if not quantiles:
        raise ValueError("quantiles must be a non-empty {name: (num, den)} dict")
    for name, (q_num, q_den) in quantiles.items():
        if q_den <= 0 or q_num <= 0 or q_num > q_den:
            raise ValueError(f"quantile {name!r}: need 0 < num <= den, got {q_num}/{q_den}")
    # (18,6) keeps the per-row weight long-backed through the corpus-
    # sized aggregates (a wider cast materializes a JVM BigDecimal per
    # row); Spark widens SUM types automatically, so totals stay exact
    raw = df.select(
        group.cast("string").alias("_g"),
        value.alias("_v"),
        weight.cast("decimal(18,6)").alias("_w"),
    )
    local = _covering_prefix(
        raw,
        num_buckets,
        lambda total: [Fraction(total) * n / d for n, d in quantiles.values()],
        weighted=True,
    )
    conds = {}
    for name, (q_num, q_den) in quantiles.items():
        # (4,0) x (38,6) stays within Spark's 38-precision cap (no silent
        # rounding of the product — the comparison must stay exact); a
        # (38,6) x (38,6) multiply would be precision-capped and rounded
        num = F.lit(q_num).cast("decimal(4,0)")
        den = F.lit(q_den).cast("decimal(4,0)")
        conds[name] = (den * F.col("_cum") >= num * F.col("_n")) & (
            den * F.col("_before") < num * F.col("_n")
        )
    # each crossing condition matches exactly one row per group (weights
    # positive), so a conditional max picks it
    return (
        local.filter(reduce(operator.or_, conds.values()))
        .groupBy("_g")
        .agg(
            F.max("_n").alias("w_total"),
            *[F.max(F.when(c, F.col("_v"))).alias(name) for name, c in conds.items()],
        )
        .select(F.col("_g").alias("grp"), "w_total", *conds)
        .orderBy("grp")
    )


def with_global_index(
    df: DataFrame,
    value_col: str,
    tiebreaks: list[str] | None = None,
    index_col: str = "_i",
    num_buckets: int = 256,
):
    """Attach an exact GLOBAL 1-based dense row index ordered by
    ``(value_col, *tiebreaks)`` — distributedly: ``_bucket_offsets``
    gives each row its bucket's offset, and a ``row_number`` partitioned
    by bucket finishes the order — no data-sized single-partition sort.
    The replacement for ``row_number().over(Window.orderBy(...))`` when
    EVERY row needs its rank (Gini / Lorenz / trapezoid-AUC shapes), not
    just a quantile crossing (use global_rank_pick for that).

    Ties on ``value_col`` never straddle buckets (equal values bucket
    equally), so compound ordering is exact within one bucket window.
    Returns ``(df_with_index, n_total)`` — ``n_total`` is the exact row
    count (a by-product of the offsets collect).  ``df`` is read twice:
    checkpoint/cache it upstream.  NULLs follow Spark's NULLS FIRST.
    """
    bucketed, totals = _bucket_offsets(
        df, value_col, {"_ooff": F.count(F.lit(1))}, num_buckets
    )
    w = Window.partitionBy("_obkt").orderBy(value_col, *(tiebreaks or []))
    out = bucketed.withColumn(
        index_col, F.col("_ooff") + F.row_number().over(w).cast("long")
    ).drop("_obkt", "_ooff")
    return out, totals["_ooff"]


def interpolated_quantiles_by_group(
    df: DataFrame,
    group: Column,
    value: Column,
    probs: dict[str, float],
    num_buckets: int = 64,
) -> DataFrame:
    """Exact linear-interpolation quantiles per group with BIT-PARITY to
    Spark's ``percentile()`` aggregate — but constant memory per task.

    ``percentile()`` buffers a per-group value->count map inside one
    aggregation buffer (OpenHashMap in Percentile.scala), so a group with
    unbounded value cardinality concentrates on one task and OOMs at
    corpus scale.  This runs ``_covering_prefix`` instead: per-(group,
    bucket) counts off the RAW rows, the <= 2 * len(probs) covering
    buckets per group that hold a requested rank, and ONE conditional
    aggregation that picks the two neighbor values per quantile.  ``df``
    is scanned twice; no task holds more than its slice of one bucket.

    Interpolation mirrors Percentile.getPercentile exactly: for p over n
    values, ``pos = p * (n - 1)`` (double), ``lower = floor(pos)``,
    ``higher = ceil(pos)``, result = value at lower when they coincide,
    else ``(higher - pos) * v_lo + (pos - lower) * v_hi`` — the same IEEE
    ops in the same order (on the driver for the covering ranks, in the
    plan for the picks), so replacing a ``percentile()`` call leaves
    certified hashes unchanged.

    ``probs`` maps output column name -> p in [0, 1].  Values are cast to
    double (like ``percentile()``'s result); NULL values are ignored
    (same as the built-in).  Returns (grp, n, <name>...), one row per
    non-empty group.
    """
    if not probs:
        raise ValueError("probs must be a non-empty {name: p} dict")
    for name, p in probs.items():
        if not (0.0 <= p <= 1.0):
            raise ValueError(f"prob {name!r}: need 0 <= p <= 1, got {p}")
    raw = df.select(
        group.cast("string").alias("_g"), value.cast("double").alias("_v")
    ).filter(F.col("_v").isNotNull())

    def ranks(n: int) -> set[int]:  # the 1-based neighbor ranks of every p
        return {
            k
            for p in probs.values()
            for k in (math.floor(p * (n - 1)) + 1, math.ceil(p * (n - 1)) + 1)
        }

    def pos(p: float, n: Column) -> Column:
        return F.lit(float(p)) * (n - 1).cast("double")

    local = _covering_prefix(raw, num_buckets, ranks, weighted=False)
    conds, picks = [], [F.max("_n").alias("n")]
    for i, p in enumerate(probs.values()):
        at = pos(p, F.col("_n"))
        for side, k in (("lo", F.floor(at) + 1), ("hi", F.ceil(at) + 1)):
            c = (F.col("_cum") >= k) & (F.col("_before") < k)
            conds.append(c)
            picks.append(F.max(F.when(c, F.col("_v"))).alias(f"_v{side}_{i}"))
    picked = local.filter(reduce(operator.or_, conds)).groupBy("_g").agg(*picks)
    out_cols = [F.col("_g").alias("grp"), F.col("n")]
    for i, (name, p) in enumerate(probs.items()):
        at = pos(p, F.col("n"))
        lo, hi = F.floor(at), F.ceil(at)
        vlo, vhi = F.col(f"_vlo_{i}"), F.col(f"_vhi_{i}")
        out_cols.append(
            F.when(lo == hi, vlo)
            .otherwise((hi.cast("double") - at) * vlo + (at - lo.cast("double")) * vhi)
            .alias(name)
        )
    return picked.select(*out_cols).orderBy("grp")


# below this many rows the ordered frame fits one partition and the
# bucketed path (a totals job + a broadcast offsets join) is pure overhead
SMALL_ROWS = 5_000_000


def bucketed_cumsum(
    cnt: DataFrame,
    order_col: str,
    sums: dict[str, str],
    n_rows: int | None = None,
    num_buckets: int = 256,
    tiebreaks: list[str] | None = None,
) -> DataFrame:
    """EXCLUSIVE running totals of integer columns over the global
    ascending ``order_col`` ordering (NULLS FIRST), appended as new
    columns — the shared primitive behind every "cumulative count over a
    distinct-value frame" shape (rank-AUC, Mann-Whitney and Spearman
    ranks, Kruskal-Wallis, KS ECDFs, Zipf ranks).  ``sums`` maps output
    column name -> existing integer-typed column; each output is the
    exact sum of that column over all STRICTLY PRECEDING rows (0 for the
    first row).

    When ``n_rows`` (any upper bound on cnt's row count) is at or below
    SMALL_ROWS, one plain ordered window runs — the frame fits a single
    partition and that is the cheapest correct plan.  Otherwise the
    bucketed path: ``_bucket_offsets`` adds each bucket's offsets, and
    the exclusive window runs PARTITIONED BY bucket — all cores busy, no
    data-sized single-partition sort.  Both paths emit identical exact
    integers (CI-pinned), so certified consumers hash the same either way.

    ``tiebreaks`` orders rows WITHIN equal ``order_col`` values (needed
    when callers require a total order, e.g. row numbering); bucketing
    only ever splits on ``order_col`` so ties never straddle buckets.
    ``cnt`` should be checkpointed/cached by the caller when counting it
    for ``n_rows`` (the count is then ~free and the frame is not
    recomputed per downstream job).
    """
    order = [F.col(order_col).asc_nulls_first(), *[F.col(c) for c in tiebreaks or []]]
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
    if n_rows is not None and n_rows <= SMALL_ROWS:
        out = cnt
        for name, c in sums.items():
            out = out.withColumn(name, F.coalesce(F.sum(c).over(w), F.lit(0)).cast("long"))
        return out
    offs = {name: f"_ooff{i}" for i, name in enumerate(sums)}
    out, _ = _bucket_offsets(
        cnt, order_col, {offs[name]: F.sum(c) for name, c in sums.items()}, num_buckets
    )
    w = w.partitionBy("_obkt")
    for name, c in sums.items():
        out = out.withColumn(
            name,
            F.col(offs[name]) + F.coalesce(F.sum(c).over(w), F.lit(0)).cast("long"),
        )
    return out.drop("_obkt", *offs.values())
