"""Corpus-wide single-partition-window + cartesian + output-type guardrail.

The scale discipline says no certified query may rank/window DATA-SIZED
input on one partition (the classic ``row_number().over(Window.orderBy)``
trap — at 100 TB that partition is the job).  The r09/r10 order-stat
machinery (global_rank_pick and the bucketed-prefix primitives of
orderstats: bucketed_cumsum, with_global_index, the covering-bucket
quantiles) exists precisely to replace that shape, so this test audits
EVERY registered query's physical plan.

The plan must come from ``executedPlan()`` (post-EnsureRequirements):
``sparkPlan()`` has NO exchanges yet, so a SinglePartition check against
it is vacuous — the first version of this test passed on plans that
never contained the string it was grepping for.

An allowlisted query may show a single-partition window at sf0.001 for
exactly one of two audited reasons:
- "adaptive": the op takes bucketed_cumsum's plain-window path up to
  orderstats.SMALL_ROWS and its bucketed path beyond it; path equality
  is pinned by test_bucketed_cumsum_paths_identical /
  test_rank2_distributed_matches_single_partition.
- "bounded": the window's input is an aggregate-sized frame whose row
  count is bounded by something other than data volume (calendar days,
  sketch buckets, quota tables, a driver-set cutoff) — documented at the
  operator.
Everything NOT listed must have no single-partition Window at all, and
no query may ever contain a CartesianProduct.

The same loop freezes the output boundary types: no query may output a
DECIMAL column at any depth (structs, arrays, maps included).  Decimal
results hash differently across engines, so the corpus casts them to
DOUBLE at the boundary; the decimal-heavy internals stay inside.
"""

from __future__ import annotations

import pytest

from pyspark.sql.types import ArrayType, DataType, DecimalType, MapType, StructType

from kafka_connect_morphlines_spark.plans.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

ALLOWED = {
    # adaptive small path at tiny SF; distributed path parity-pinned
    "spearman_spend_vs_orders": "adaptive (bucketed_cumsum cutover via _rank2)",
    "kruskal_wallis_values": "adaptive (bucketed_cumsum cutover via _rank2_from_counts)",
    "roc_auc_purchase": "adaptive (bucketed_cumsum cutover)",
    "mann_whitney_values": "adaptive (bucketed_cumsum cutover)",
    "ks_drift_value": "adaptive (bucketed_cumsum cutover)",
    "zipf_slope": "adaptive (per-distinct-count bucketed_cumsum cutover)",
    # bounded-by-contract window inputs (never corpus-sized)
    "cusum_changepoint_revenue": "bounded: calendar-day series",
    "lag_daily_revenue_delta": "bounded: calendar-day series",
    "km_retention_curve": "bounded: distinct event-time days",
    "ddsketch_value_quantiles": "bounded: sketch bucket rows",
    "interleave_sources_order": "bounded: per-source quota frame",
    "temperature_quota_sample": "bounded: m-row quota table",
    "vocab_growth_curve": "bounded: <=4096 id bins / 10 slice rows",
    "price_decile_grid": "bounded: global_rank_pick <=cutoff remainder",
}


def _single_partition_windows(plan: str) -> bool:
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "SinglePartition" in line and any(
            "Window" in lines[k] for k in range(max(i - 4, 0), i)
        ):
            return True
    return False


def _has_decimal(dt: DataType) -> bool:
    if isinstance(dt, DecimalType):
        return True
    if isinstance(dt, StructType):
        return any(_has_decimal(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _has_decimal(dt.elementType)
    if isinstance(dt, MapType):
        return _has_decimal(dt.keyType) or _has_decimal(dt.valueType)
    return False


def test_no_query_windows_data_on_a_single_partition(spark):
    failures = {}
    allowed_seen = set()
    for name, spec in QUERIES.items():
        try:
            df = spec.build(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # build errors are other tests' job
            pytest.fail(f"{name}: build failed during plan audit: {ex!r}")
        bad = []
        if _single_partition_windows(plan):
            if name in ALLOWED:
                allowed_seen.add(name)
            else:
                bad.append("single-partition Window")
        if "CartesianProduct" in plan:
            bad.append("CartesianProduct")
        if _has_decimal(df.schema):
            bad.append("DECIMAL output column")
        if bad:
            failures[name] = bad
    assert not failures, (
        "100TB-hostile plan shapes or DECIMAL outputs found: "
        + "; ".join(f"{n}: {b}" for n, b in failures.items())
    )
    # a stale allowlist hides regressions elsewhere: every entry must
    # still be needed (drop the row when an op stops single-partitioning)
    stale = set(ALLOWED) - allowed_seen
    assert not stale, f"allowlist rows no longer needed: {sorted(stale)}"
