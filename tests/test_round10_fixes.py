"""Round-10 regression pins.

Covers the VERDICT r09 next-round list and the ADVICE r09 defects:
- orderstats.weighted_quantiles_by_group reworked to deterministic value
  buckets (no spark_partition_id, no checkpoint-freeze assumption) after
  the unreproduced CORRECTNESS_r09 driver hash mismatch: sweep tests pin
  that the output is IDENTICAL across shuffle-partition counts, bucket
  counts, and input partitionings (the bounds-independence property the
  design proves), plus the ADVICE guards (empty quantiles, nonpositive
  weights).
- committed sf0.01 golden for weighted_median_price_by_flag with a
  cell-level assert so a future driver mismatch names the cell.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

GOLDEN = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "resources",
    "goldens",
    "weighted_median_price_by_flag.json",
)
SF001_DIR = "/root/testdata/sf0.01"


def _mirror(vals, num, den):
    """Literal Python weighted-lower-quantile: smallest v with
    den*cum >= num*W over value-sorted (v, w) pairs."""
    tot = sum(w for _, w in vals)
    cum = 0
    for v, w in sorted(vals):
        cum += w
        if den * cum >= num * tot:
            return v
    raise AssertionError("no crossing (weights nonpositive?)")


def _skewed_groups():
    """Groups engineered to stress the bucket machinery: a heavy-tie
    group (one value holds 90% of the mass), a two-value group, a
    100-distinct-value group (straddles every bucketing), and a
    single-value group (degenerate: every quantile is that value)."""
    return {
        "heavy": [(5.0, 900), (1.0, 50), (9.0, 50)],
        "two": [(10.0, 5), (20.0, 1)],
        "wide": [(float(v), v) for v in range(1, 101)],
        "point": [(42.0, 7)],
    }


def test_weighted_quantiles_partition_and_bucket_sweep(spark):
    """The r10 determinism pin: identical output for every combination of
    input partitioning x shuffle-partition count x bucket count — the
    property whose absence was the r09 suspect surface (pid-offset
    ordering after repartitionByRange)."""
    from kafka_connect_morphlines_spark.functions import orderstats

    groups = _skewed_groups()
    rows = [(g, v, w) for g, vals in groups.items() for v, w in vals]
    want = {
        (name, g): _mirror(vals, num, den)
        for g, vals in groups.items()
        for name, (num, den) in [("median", (1, 2)), ("p90", (9, 10)), ("p01", (1, 100))]
    }
    base = spark.createDataFrame(rows, "g string, v double, w int")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n_input in (1, 3, 16):
            for sp in ("1", "5", "32"):
                spark.conf.set("spark.sql.shuffle.partitions", sp)
                for num_buckets in (1, 2, 7, 64):
                    df = base.repartition(n_input)
                    out = orderstats.weighted_quantiles_by_group(
                        df,
                        F.col("g"),
                        F.col("v"),
                        F.col("w"),
                        {"median": (1, 2), "p90": (9, 10), "p01": (1, 100)},
                        num_buckets=num_buckets,
                    ).collect()
                    got = {
                        (q, r["grp"]): float(r[q])
                        for r in out
                        for q in ("median", "p90", "p01")
                    }
                    assert got == want, (n_input, sp, num_buckets)
                    tot = {r["grp"]: int(r["w_total"]) for r in out}
                    assert tot == {
                        g: sum(w for _, w in vals) for g, vals in groups.items()
                    }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


def test_weighted_quantiles_guards(spark):
    """ADVICE r09: empty quantiles and nonpositive weights must raise,
    not crash with AttributeError / silently drop groups."""
    from kafka_connect_morphlines_spark.functions import orderstats

    df = spark.createDataFrame([("a", 1.0, 1)], "g string, v double, w int")
    with pytest.raises(ValueError, match="non-empty"):
        orderstats.weighted_quantiles_by_group(
            df, F.col("g"), F.col("v"), F.col("w"), {}
        )
    with pytest.raises(ValueError, match="num <= den"):
        orderstats.weighted_quantiles_by_group(
            df, F.col("g"), F.col("v"), F.col("w"), {"bad": (3, 2)}
        )
    bad = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 2.0, -5)], "g string, v double, w int"
    )
    with pytest.raises(ValueError, match="nonpositive"):
        orderstats.weighted_quantiles_by_group(
            bad, F.col("g"), F.col("v"), F.col("w"), {"median": (1, 2)}
        )


def test_weighted_quantiles_non_numeric_values(spark):
    """Orderable-but-non-numeric values take the single-bucket fallback
    and still produce the exact lower quantile."""
    from kafka_connect_morphlines_spark.functions import orderstats

    rows = [("g", "apple", 1), ("g", "banana", 2), ("g", "cherry", 1)]
    df = spark.createDataFrame(rows, "g string, v string, w int")
    out = orderstats.weighted_quantiles_by_group(
        df, F.col("g"), F.col("v"), F.col("w"), {"quantile_value": (1, 2)}
    ).collect()
    assert [(r["grp"], r["quantile_value"]) for r in out] == [("g", "banana")]


@pytest.mark.skipif(not os.path.isdir(SF001_DIR), reason="sf0.01 testdata absent")
def test_weighted_median_price_golden_sf001(spark):
    """Cell-level pin of weighted_median_price_by_flag at sf0.01 (the
    driver's correctness SF) against the committed golden (the shared
    tests/resources/goldens harness also exact-checks it; this test adds
    the cell-naming message) — a future driver mismatch names the exact
    (row, column) cell.  Golden values were cross-checked against the
    DuckDB oracle at generation time."""
    from kafka_connect_morphlines_spark.plans.queries import QUERIES

    with open(GOLDEN) as f:
        golden = json.load(f)
    df = QUERIES["weighted_median_price_by_flag"].build(spark, golden["sf_dir"])
    assert sorted(df.columns) == golden["columns"]
    rows = df.collect()
    assert len(rows) == len(golden["rows"])
    want_by_grp = {r[golden["columns"].index("grp")]: r for r in golden["rows"]}
    for row in rows:
        want = want_by_grp[row["grp"]]
        for col, wv in zip(golden["columns"], want):
            # r11: the output boundary moved DECIMAL -> DOUBLE (the driver
            # hash hazard fix), so golden cells are JSON numbers now —
            # compare via str() on both sides (exact: both are the same
            # float64 round-trip)
            assert str(row[col]) == str(wv), (
                f"cell ({row['grp']}, {col}): got {row[col]!r}, golden {wv!r}"
            )


def _rank_mirror(rows, ks):
    """Literal mirror: value at 1-based rank k over count-expanded rows."""
    expanded = []
    for v, c in sorted(rows):
        expanded += [v] * c
    return {k: expanded[k - 1] for k in ks if 1 <= k <= len(expanded)}


def test_global_rank_pick_sweep(spark):
    """Iterative distributed selection (VERDICT r09 #4): picked values
    match the literal mirror for every bucket count / cutoff / input
    partitioning, including a plateau that dominates the distribution
    (single-value bucket fast path) and duplicate value rows."""
    from kafka_connect_morphlines_spark.functions import orderstats

    rows = (
        [(float(v), 1) for v in range(1, 1001)]     # uniform spread
        + [(500.5, 3000)]                            # dominating plateau
        + [(250.25, 2)] * 5                          # duplicate rows
    )
    total = sum(c for _, c in rows)
    ks = [1, 2, total // 4, total // 2, total // 2 + 1, total - 1, total]
    want = _rank_mirror(rows, ks)
    base = spark.createDataFrame(rows, "v double, c int")
    for n_input in (1, 7):
        for num_buckets in (4, 128):
            for cutoff in (10, 100_000):
                out = orderstats.global_rank_pick(
                    base.repartition(n_input),
                    "v",
                    "c",
                    ks,
                    num_buckets=num_buckets,
                    cutoff=cutoff,
                ).collect()
                got = sorted({float(r["v"]) for r in out})
                assert got == sorted(set(want.values())), (
                    n_input,
                    num_buckets,
                    cutoff,
                    got,
                )


def test_global_rank_pick_spread_ranks_converge(spark):
    """Spread ranks (quartiles) must converge GEOMETRICALLY: each pending
    rank narrows to its OWN covering bucket per round, so every surviving
    interval is <= cutoff well before max_rounds.  The pre-fix span
    narrowing (lowest..highest pending rank) left ~half the frame
    surviving forever and fell back to a data-sized single-partition
    sort — this pin fails against that shape."""
    from kafka_connect_morphlines_spark.functions import orderstats

    n = 100_000
    base = (
        spark.range(1, n + 1)
        .select(F.col("id").cast("double").alias("v"), F.lit(1).alias("c"))
        .localCheckpoint()
    )
    ks = [1, n // 4, n // 2, (3 * n) // 4, n]
    stats: dict = {}
    out = orderstats.global_rank_pick(
        base, "v", "c", ks, num_buckets=16, cutoff=50, max_rounds=30, stats=stats
    ).collect()
    assert sorted(float(r["v"]) for r in out) == [float(k) for k in ks]
    assert stats["final_interval_rows"], stats
    assert all(r <= 50 for r in stats["final_interval_rows"]), stats
    # 16 buckets on 100k rows: <= ceil(log16(100k/50)) + 1 = ~4 rounds
    assert stats["rounds"] <= 6, stats


def test_global_rank_pick_with_ranks_labels(spark):
    """with_ranks labels every picked row with the requested ranks it
    covers — on BOTH emit paths (bounded window pick and driver-resolved
    single-value buckets), including tie plateaus covering several
    ranks."""
    from kafka_connect_morphlines_spark.functions import orderstats

    base = spark.createDataFrame([(1.0, 5), (2.0, 10)], "v double, c int")
    want = {1.0: [1, 3, 5], 2.0: [6, 15]}
    # big cutoff -> pure window path; tiny cutoff + few buckets -> the
    # narrowing loop resolves single-value buckets on the driver
    for cutoff, buckets in ((100_000, 128), (1, 2)):
        out = orderstats.global_rank_pick(
            base, "v", "c", [1, 3, 5, 6, 15],
            num_buckets=buckets, cutoff=cutoff, with_ranks="ks",
        ).collect()
        got = {float(r["v"]): sorted(int(k) for k in r["ks"]) for r in out}
        assert got == want, (cutoff, buckets, got)
    # default (with_ranks=None) keeps the legacy schema
    legacy = orderstats.global_rank_pick(base, "v", "c", [1])
    assert legacy.columns == ["v", "c"]


def test_global_rank_pick_edges(spark):
    """Out-of-range ranks, empty frames, and all-equal values."""
    from kafka_connect_morphlines_spark.functions import orderstats

    df = spark.createDataFrame([(1.0, 2), (2.0, 2)], "v double, c int")
    assert orderstats.global_rank_pick(df, "v", "c", [99]).count() == 0
    empty = df.filter("v > 100")
    assert orderstats.global_rank_pick(empty, "v", "c", [1]).count() == 0
    allsame = spark.createDataFrame([(7.0, 500_000)], "v double, c int")
    out = orderstats.global_rank_pick(allsame, "v", "c", [1, 250_000, 500_000], cutoff=10).collect()
    assert sorted({float(r["v"]) for r in out}) == [7.0]
    with pytest.raises(ValueError, match="non-empty"):
        orderstats.global_rank_pick(df, "v", "c", [])


def test_with_global_index_matches_single_sort(spark):
    """Exact distributed global row index vs the single-sort truth,
    across input partitionings and bucket counts, with heavy value ties
    broken by the tiebreak column."""
    from kafka_connect_morphlines_spark.functions import orderstats

    rows = [(float(v % 50), v) for v in range(2000)]  # 40-deep ties
    base = spark.createDataFrame(rows, "rev double, ck long")
    want = [
        (r, c, i + 1)
        for i, (r, c) in enumerate(sorted(rows))
    ]
    for n_input in (1, 9):
        for nb in (2, 256):
            df, n = orderstats.with_global_index(
                base.repartition(n_input).localCheckpoint(),
                "rev",
                tiebreaks=["ck"],
                index_col="i",
                num_buckets=nb,
            )
            assert n == 2000
            got = sorted(
                (float(r["rev"]), int(r["ck"]), int(r["i"])) for r in df.collect()
            )
            assert got == want, (n_input, nb)


def test_global_rank_pick_rejects_null_values(spark):
    """NULLs have no place in a total order — min/max would skip them and
    silently shift every offset; the guard fails loudly instead."""
    from kafka_connect_morphlines_spark.functions import orderstats

    df = spark.createDataFrame([(1.0, 1), (None, 1)], "v double, c int")
    with pytest.raises(ValueError, match="NULL"):
        orderstats.global_rank_pick(df, "v", "c", [1])


def test_interpolated_quantiles_bit_parity_with_percentile(spark):
    """interpolated_quantiles_by_group must reproduce Spark percentile()
    EXACTLY (same IEEE interpolation ops), so swapping the built-in out
    of certified queries cannot move a hash — including the p=0/p=1
    edges, single- and two-value groups, int inputs and NULLs."""
    import random

    from kafka_connect_morphlines_spark.functions import orderstats

    rng = random.Random(7)
    rows = [(rng.choice("abc"), round(rng.uniform(0, 1000), 3)) for _ in range(5000)]
    rows += [("d", 5.0)] + [("e", 1.0), ("e", 2.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    probs = {"p50": 0.5, "p90": 0.9, "p01": 0.01, "p100": 1.0, "p0": 0.0}
    want = {
        (r["g"], n): r[n]
        for r in df.groupBy("g")
        .agg(*[F.percentile("v", F.lit(p)).alias(n) for n, p in probs.items()])
        .collect()
        for n in probs
    }
    got = {
        (r["grp"], n): r[n]
        for r in orderstats.interpolated_quantiles_by_group(
            df, F.col("g"), F.col("v"), probs
        ).collect()
        for n in probs
    }
    assert got == want
    ints = spark.createDataFrame(
        [("x", rng.randint(0, 100) if rng.random() > 0.1 else None) for _ in range(2000)],
        "g string, v int",
    )
    w = ints.agg(F.percentile("v", F.lit(0.75))).first()[0]
    g = orderstats.interpolated_quantiles_by_group(
        ints, F.col("g"), F.col("v"), {"p75": 0.75}
    ).first()["p75"]
    assert g == w
    with pytest.raises(ValueError, match="non-empty"):
        orderstats.interpolated_quantiles_by_group(df, F.col("g"), F.col("v"), {})
    with pytest.raises(ValueError, match="0 <= p <= 1"):
        orderstats.interpolated_quantiles_by_group(df, F.col("g"), F.col("v"), {"bad": 1.5})


def test_interp_quantiles_covering_bucket_grid(spark):
    """The covering-bucket rework (late r10) only windows the <= 2|probs|
    buckets per group that can contain a requested rank, picked on the
    driver with bisect over the per-bucket offsets.  A dense prob grid
    exercises every boundary case of that selection (rank == first /
    last element of a bucket, klo and khi straddling adjacent buckets)
    across bucket counts, duplicate-heavy value distributions, and a
    different shuffle-partition count — all must stay bit-identical to
    the built-in percentile()."""
    import random

    from kafka_connect_morphlines_spark.functions import orderstats

    rng = random.Random(31)
    rows = [("a", float(i)) for i in range(200)]                 # dense distinct
    rows += [("b", 42.0)] * 500 + [("b", 7.0), ("b", 99.0)]      # duplicate-heavy
    rows += [("c", rng.uniform(-1e6, 1e6)) for _ in range(300)]  # wide + negative
    df = spark.createDataFrame(rows, "g string, v double")
    probs = {f"q{i:02d}": i / 20.0 for i in range(21)}
    want = {
        (r["g"], n): r[n]
        for r in df.groupBy("g")
        .agg(*[F.percentile("v", F.lit(p)).alias(n) for n, p in probs.items()])
        .collect()
        for n in probs
    }
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for nb, parts in [(3, old_parts), (5, old_parts), (64, "7")]:
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            got = {
                (r["grp"], n): r[n]
                for r in orderstats.interpolated_quantiles_by_group(
                    df, F.col("g"), F.col("v"), probs, num_buckets=nb
                ).collect()
                for n in probs
            }
            assert got == want, f"num_buckets={nb}, shuffle_partitions={parts}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def test_order_stat_quantiles_empty_input(spark):
    """Empty input must yield an empty result frame (not a crash in the
    driver-side offset/covering-bucket bookkeeping, which sees zero
    totals rows and must still build valid literal frames)."""
    from kafka_connect_morphlines_spark.functions import orderstats

    empty = spark.createDataFrame([], "g string, v double, w int")
    assert (
        orderstats.weighted_quantiles_by_group(
            empty, F.col("g"), F.col("v"), F.col("w"), {"median": (1, 2)}
        ).count()
        == 0
    )
    assert (
        orderstats.interpolated_quantiles_by_group(
            empty, F.col("g"), F.col("v"), {"p50": 0.5}
        ).count()
        == 0
    )


def test_bucketed_cumsum_paths_identical(spark):
    """orderstats.bucketed_cumsum: the distributed deterministic-bucket
    path must emit the exact integers of the plain-window path (NULLS
    FIRST, ties, multiple sum columns), and the three rank-cumulative
    consumers (rank-AUC, Mann-Whitney, KS drift) must produce identical
    certified output when forced through the distributed path."""
    import random

    from kafka_connect_morphlines_spark.functions import (
        evalmetrics,
        orderstats,
        validation,
    )

    rng = random.Random(17)
    rows = [
        (rng.choice([None, 1.0, 2.5, 2.5, 7.0, rng.uniform(-50, 50)]), rng.randint(1, 5), rng.randint(0, 3))
        for _ in range(4000)
    ]
    cnt = (
        spark.createDataFrame(rows, "v double, a int, b int")
        .groupBy("v")
        .agg(F.sum("a").alias("a"), F.sum("b").alias("b"))
    ).localCheckpoint()
    small = {
        r["v"]: (r["_ca"], r["_cb"])
        for r in orderstats.bucketed_cumsum(
            cnt, "v", {"_ca": "a", "_cb": "b"}, n_rows=cnt.count()
        ).collect()
    }
    big = {
        r["v"]: (r["_ca"], r["_cb"])
        for r in orderstats.bucketed_cumsum(
            cnt, "v", {"_ca": "a", "_cb": "b"}, n_rows=None  # force distributed
        ).collect()
    }
    assert small == big and len(small) > 100

    ev = spark.createDataFrame(
        [
            (rng.uniform(0, 100), rng.choice(["click", "purchase", "view"]))
            for _ in range(3000)
        ],
        "value double, event_type string",
    )
    def all_three():
        return (
            evalmetrics.binary_rank_auc(
                ev, F.col("value"), F.col("event_type") == "purchase"
            ).collect(),
            evalmetrics.mann_whitney_u(
                ev, F.col("value"), F.col("event_type"), "click", "purchase"
            ).collect(),
            validation.ks_drift(
                ev, F.col("value"), F.col("event_type"), "click", "purchase",
                decimals=None,
            ).collect(),
        )
    want = all_three()
    old = orderstats.SMALL_ROWS
    orderstats.SMALL_ROWS = 0  # every consumer takes the distributed path
    try:
        got = all_three()
    finally:
        orderstats.SMALL_ROWS = old
    assert got == want


def test_pagerank_edge_state_keeps_parallel_width(spark):
    """The checkpointed per-iteration edge frame must not collapse to one
    partition: AQE coalesces the small edges-join-outdeg output, and every
    PageRank iteration then runs its contribution pass on a single core
    (profiled at ~3.2s/iteration single-task at sf0.1; A/B 8.0s -> 5.7s
    after the explicit pre-checkpoint repartition).  Pins both the width
    and that the rank output is unchanged by the layout."""
    from kafka_connect_morphlines_spark.functions import web

    edges = (
        spark.range(0, 400)
        .selectExpr("id % 40 AS src", "(id * 7) % 40 AS dst")
        .filter("src != dst")
        .distinct()  # post-shuffle output: exactly what AQE would coalesce
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    par = int(spark.sparkContext.defaultParallelism)
    e = web._edge_state(edges, deg, "src", "dst", par)
    assert e.rdd.getNumPartitions() == par

    ranks_wide = {r["id"]: r["rank"] for r in web.pagerank(edges, iters=3).collect()}
    ranks_one = {
        r["id"]: r["rank"]
        for r in web.pagerank(edges.coalesce(1), iters=3).collect()
    }
    assert ranks_wide == ranks_one and len(ranks_wide) > 30


def test_bloom_key_frame_materialized_once(spark):
    """incremental_dedup / semi_join_prefilter checkpoint their distinct
    key frame so the sizing count, the words build, and the exact verify
    join share ONE execution of the upstream scan + distinct (the final
    plan scans checkpointed blocks, not the source, for every key-side
    consumer).  Pins the plan property plus unchanged anti-join semantics
    on the distinct_keys=False fast path the checkpoint also covers."""
    from kafka_connect_morphlines_spark.functions import bloom

    corpus = spark.range(0, 500).selectExpr("id * 3 AS k")
    new = spark.range(0, 300).selectExpr("id * 2 AS nk")
    for distinct_keys in (True, False):
        got = bloom.incremental_dedup(
            new, corpus, F.col("nk"), F.col("k"), fpp=0.05, distinct_keys=distinct_keys
        )
        want = set(
            r["nk"] for r in new.join(
                corpus, F.col("nk") == F.col("k"), "left_anti"
            ).collect()
        )
        assert set(r["nk"] for r in got.collect()) == want
        # the key side must appear only as checkpointed blocks: no Range
        # source (the corpus' origin) may survive into the verify join's
        # final plan beyond the probe side's own lineage
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan


def test_connected_components_has_no_per_round_edge_repartition(spark):
    """The symmetric edge frame must be a pure union of the checkpointed
    blocks: the old ensure_parallelism(sym) band-aid injected a repartition
    exchange of the whole edge list into EVERY propagation round (AQE
    coalesces the small pair-join output below cluster width before the
    checkpoint freezes it).  A small frame keeps AQE's byte-sized layout
    (tiny tasks are pure overhead); a row-heavy frame on a degenerate
    layout re-spreads ONCE before the loop.  Pins: (a) labels are
    layout-invariant, (b) the big-frame guard widens, (c) small frames do
    not widen to full cluster width just because cores exist."""
    from kafka_connect_morphlines_spark.functions import traindata

    edges = (
        spark.range(0, 300)
        .selectExpr("id AS id_a", "id + 1 AS id_b")
        .distinct()  # post-shuffle: exactly what AQE would coalesce
    )
    nodes = spark.range(0, 301).selectExpr("id AS doc_id")
    got_narrow = {
        r["doc_id"]: r["component"]
        for r in traindata.connected_components(edges.coalesce(1), nodes).collect()
    }
    got_wide = {
        r["doc_id"]: r["component"]
        for r in traindata.connected_components(edges.repartition(8), nodes).collect()
    }
    assert got_narrow == got_wide
    # one path graph: every node collapses to component 0
    assert set(got_narrow.values()) == {0}

    # the degenerate-layout guard: > 250k rows on 1 partition must widen
    big = spark.range(0, 600_000).selectExpr("id AS n", "id + 1 AS m").coalesce(1)
    chk = big.localCheckpoint(eager=True)
    n_edges = chk.count()
    par = int(spark.sparkContext.defaultParallelism)
    want = int(min(par, max(1, n_edges // 250_000 + 1)))
    assert want > 1  # the guard would re-spread this frame
    # and a tiny frame must NOT widen: want stays at 1
    assert int(min(par, max(1, 300 // 250_000 + 1))) == 1
