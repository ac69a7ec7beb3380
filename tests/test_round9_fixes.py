"""Regression tests for the round-9 ADVICE fixes.

Each test pins a specific defect the round-8 driver ADVICE reported:

1. anova_value_by_type: the DECIMAL(38,6)/BIGINT ssb_term division was
   engine-dependent (DuckDB resolves it to DOUBLE, Spark to scale-6
   DECIMAL); the fix computes each per-group (Σx)²/n as a deterministic
   double chain quantized to the 6dp grid and sums exact DECIMAL.
2. unigram_lm_encode / unigram_lm_encode_prob: NULL text segmented the
   literal string "None"; must yield 0 pieces.
3. power_component_int oracle: the SQL matvec products s*v overflow
   BIGINT at ~1e5 worst-case rows; the oracle now computes them in
   HUGEINT, matching the Python driver's exact bigints.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_connect_morphlines_spark.plans.queries import QUERIES


def test_anova_ssb_term_is_6dp_grid_decimal_sum(spark):
    """The fixed ssb_term must equal sum over groups of
    round(double(s)^2 / n, 6) computed in Python — i.e. the per-group
    quantized-double idiom, NOT Spark's DECIMAL-division scale."""
    rows = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").cast("decimal(23,6)").alias("v"))
        .collect()
    )
    from collections import defaultdict
    from decimal import Decimal

    groups: dict[str, list[Decimal]] = defaultdict(list)
    for r in rows:
        groups[r["event_type"]].append(r["v"])
    ssb_term = Decimal(0)
    for vs in groups.values():
        s = float(sum(vs))
        q = round(s * s / len(vs), 6)  # deterministic double chain + round
        ssb_term += Decimal(f"{q:.6f}")
    got = QUERIES["anova_value_by_type"].build(spark, "/root/testdata/sf0.001").collect()[0]
    # reconstruct ssb from the quantized term exactly as the query does
    all_v = [v for vs in groups.values() for v in vs]
    nt = len(all_v)
    st = float(sum(all_v))
    want_ssb = round(float(ssb_term) - st * st / nt, 4)
    assert got["ss_between"] == pytest.approx(want_ssb, abs=1e-9)


def test_anova_oracle_has_no_decimal_bigint_division(spark):
    """The oracle SQL must not contain the engine-dependent
    DECIMAL/BIGINT division pattern the ADVICE flagged."""
    sql = QUERIES["anova_value_by_type"].oracle
    assert "DECIMAL(38,6)) / n" not in sql
    assert "round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6)" in sql


def test_unigram_encode_null_text_yields_zero_pieces(spark):
    from kafka_connect_morphlines_spark.functions import traindata

    texts = ["low lower lowest low low", "new newer newest new new"] * 3
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    vocab = traindata.unigram_lm_train(df, vocab_size=32, n_iter=2)
    with_null = spark.createDataFrame(
        [(100, None), (101, "low low")], "doc_id long, text string"
    )
    enc = {r["doc_id"]: r for r in traindata.unigram_lm_encode(with_null, vocab).collect()}
    assert enc[100]["n_pieces"] == 0 and list(enc[100]["pieces"]) == []
    assert enc[101]["n_pieces"] > 0
    # 'None' must not appear as a segmented word
    assert "None" not in "".join(enc[100]["pieces"])

    vocab_p = traindata.unigram_lm_train_prob(df, vocab_size=32, n_iter=2)
    enc_p = {
        r["doc_id"]: r
        for r in traindata.unigram_lm_encode_prob(with_null, vocab_p).collect()
    }
    assert enc_p[100]["n_pieces"] == 0 and list(enc_p[100]["pieces"]) == []
    assert enc_p[101]["n_pieces"] > 0


def test_power_oracle_matvec_uses_hugeint():
    sql = QUERIES["pca_power_component"].oracle
    assert "CAST(s.s AS HUGEINT) * v.v" in sql
    # the old int64 matvec pattern must be gone
    assert "CAST(sum(s.s * v.v) AS BIGINT)" not in sql


def test_power_oracle_hugeint_survives_large_s(tmp_path):
    """DuckDB replay of one matvec round with S entries sized so the
    products s*v exceed int64 (the exact overflow the ADVICE computed):
    HUGEINT must carry them without error and match Python bigints."""
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    # s ~ 2^50, v = 2^20 -> product 2^70 > int64
    s_val = 1 << 50
    v_val = 1 << 20
    got = con.execute(
        f"SELECT sum(CAST(s AS HUGEINT) * v) FROM (VALUES ({s_val}, {v_val}), ({s_val}, {v_val})) t(s, v)"
    ).fetchone()[0]
    assert int(got) == 2 * s_val * v_val


def test_siegel_repeated_median_matches_python_mirror(spark):
    """Siegel repeated median vs a literal Python mirror on a small
    series with an outlier (where it must differ from naive OLS)."""
    import datetime
    import statistics

    from kafka_connect_morphlines_spark.functions import timeseries

    base = datetime.date(2024, 1, 1)
    # one wild outlier at the END (max leverage, so OLS is provably hit)
    vals = [10.0, 12.0, 14.0, 16.0, 18.0, 20.0, 300.0]
    rows = [(base + datetime.timedelta(days=i * 2), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "d date, rev double")
    got = timeseries.siegel_repeated_median_slope(df, F.col("d"), F.col("rev")).collect()[0]

    def med(xs):
        xs = sorted(xs)
        n = len(xs)
        lo, hi = (n + 1) // 2 - 1, (n + 2) // 2 - 1
        return (xs[lo] + xs[hi]) / 2

    inner = []
    for i, (ti, vi) in enumerate(rows):
        slopes = [
            (vj - vi) / (tj - ti).days for j, (tj, vj) in enumerate(rows) if j != i
        ]
        inner.append(med(slopes))
    want = round(med(inner), 6)
    assert got["n_points"] == len(vals)
    assert got["repeated_median_slope"] == pytest.approx(want, abs=1e-9)
    # robustness: the outlier must not drag the slope toward OLS's value
    assert abs(got["repeated_median_slope"] - 1.0) < 1.0  # true slope = 1/day
    ols = statistics.linear_regression(
        [(r[0] - base).days for r in rows], [r[1] for r in rows]
    ).slope
    assert abs(ols - 1.0) > 5  # OLS is wrecked; Siegel is not


def test_rank2_distributed_matches_single_partition(spark):
    """_rank2's distributed ranking must emit the identical exact
    2*avg-rank integers as the textbook single-pass computation,
    including ties, across many range partitions."""
    from kafka_connect_morphlines_spark.functions.evalmetrics import _rank2

    vals = [5, 3, 3, 8, 1, 8, 8, 2, 9, 4] * 50  # heavy ties, 500 rows
    df = spark.createDataFrame([(v,) for v in vals], "x int")
    # textbook: 2*avg_rank(v) = 2*#less + #eq + 1
    want = {}
    for v in set(vals):
        less = sum(1 for u in vals if u < v)
        eq = vals.count(v)
        want[v] = 2 * less + eq + 1
    # distributed path (default / large n_rows) AND the small-input
    # single-window path must emit the identical exact integers
    got_dist = {r["x"]: r["r2"] for r in _rank2(df, "x", "r2").collect()}
    got_small = {
        r["x"]: r["r2"] for r in _rank2(df, "x", "r2", n_rows=len(vals)).collect()
    }
    assert got_dist == want
    assert got_small == want


def test_kruskal_wallis_matches_reference(spark):
    """KW H on sf0.001 vs a from-scratch Python mirror (scipy-free)."""
    from collections import defaultdict

    from kafka_connect_morphlines_spark.plans.queries import QUERIES

    got = QUERIES["kruskal_wallis_values"].build(spark, "/root/testdata/sf0.001").collect()[0]
    rows = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").cast("decimal(23,6)").alias("v"))
        .collect()
    )
    groups = defaultdict(list)
    for r in rows:
        groups[r["event_type"]].append(r["v"])
    pooled = sorted(v for vs in groups.values() for v in vs)
    n = len(pooled)
    # average rank per value (ties -> mean of positions)
    first = {}
    for i, v in enumerate(pooled):
        first.setdefault(v, i + 1)
    cnt = defaultdict(int)
    for v in pooled:
        cnt[v] += 1
    avg_rank = {v: first[v] + (cnt[v] - 1) / 2 for v in cnt}
    h = 0.0
    for vs in groups.values():
        rg = sum(avg_rank[v] for v in vs)
        h += rg * rg / len(vs)
    h = 12.0 / (n * (n + 1)) * h - 3 * (n + 1)
    tie3 = sum(c**3 - c for c in cnt.values())
    h_corr = h / (1 - tie3 / (n**3 - n))
    assert got["n_rows"] == n and got["n_groups"] == len(groups)
    assert got["h_stat"] == pytest.approx(h, rel=1e-6)
    assert got["h_tie_corrected"] == pytest.approx(h_corr, rel=1e-6)


def test_brown_forsythe_matches_reference(spark):
    """BF W on sf0.001 vs a from-scratch Python mirror: ANOVA F over
    |v - exact group median|."""
    from collections import defaultdict

    from kafka_connect_morphlines_spark.plans.queries import QUERIES

    got = QUERIES["brown_forsythe_values"].build(spark, "/root/testdata/sf0.001").collect()[0]
    rows = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").cast("decimal(23,6)").alias("v"))
        .collect()
    )
    groups = defaultdict(list)
    for r in rows:
        groups[r["event_type"]].append(float(r["v"]))

    def median(xs):
        xs = sorted(xs)
        m = len(xs)
        return (xs[(m + 1) // 2 - 1] + xs[(m + 2) // 2 - 1]) / 2

    z = {g: [abs(v - median(vs)) for v in vs] for g, vs in groups.items()}
    nt = sum(len(vs) for vs in z.values())
    k = len(z)
    grand = sum(sum(vs) for vs in z.values()) / nt
    ssb = sum(len(vs) * (sum(vs) / len(vs) - grand) ** 2 for vs in z.values())
    ssw = sum((v - sum(vs) / len(vs)) ** 2 for vs in z.values() for v in vs)
    w = (ssb / (k - 1)) / (ssw / (nt - k))
    assert got["n_rows"] == nt and got["n_groups"] == k
    assert got["w_stat"] == pytest.approx(w, rel=1e-6)


def test_js_divergence_bounds_and_identity(spark):
    """JSD properties: 0 for identical token distributions, 1 bit for
    disjoint vocabularies, strictly between otherwise — plus an exact
    value check vs a Python mirror on a 3-source corpus."""
    import math

    from kafka_connect_morphlines_spark.functions import textstats

    rows = [
        (0, "a b c a", "s1"),
        (1, "a b c a", "s2"),   # s2 identical to s1
        (2, "x y z", "s3"),     # s3 disjoint from both
        (3, "a b x", "s4"),     # s4 overlaps both worlds
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r["source_a"], r["source_b"]): r["jsd_bits"]
        for r in textstats.js_divergence_matrix(
            df, F.col("text"), F.col("source")
        ).collect()
    }
    assert got[("s1", "s2")] == pytest.approx(0.0, abs=1e-9)
    # ALL m(m-1)/2 pairs are present (ADVICE r09): disjoint pairs carry
    # the closed-form JSD of exactly 1 bit and n_shared = 0
    assert len(got) == 6
    assert got[("s1", "s3")] == pytest.approx(1.0, abs=1e-12)
    assert got[("s2", "s3")] == pytest.approx(1.0, abs=1e-12)
    assert 0.0 < got[("s1", "s4")] < 1.0

    def jsd(ca, cb):
        na, nb = sum(ca.values()), sum(cb.values())
        toks = set(ca) | set(cb)
        out = 0.0
        for t_ in toks:
            p = ca.get(t_, 0) / na
            q = cb.get(t_, 0) / nb
            m = (p + q) / 2
            if p:
                out += p / 2 * math.log2(p / m)
            if q:
                out += q / 2 * math.log2(q / m)
        return out

    want = jsd({"a": 2, "b": 1, "c": 1}, {"a": 1, "b": 1, "x": 1})
    assert got[("s1", "s4")] == pytest.approx(round(want, 6), abs=1e-9)


def test_weighted_quantile_matches_python_mirror(spark):
    """Exact weighted median/p90 vs a literal Python mirror, including a
    group that straddles range-partition boundaries (many partitions,
    few groups) and tie weights."""
    from kafka_connect_morphlines_spark.functions import orderstats

    rows = []
    for g, vals in [
        ("a", [(1.0, 1), (2.0, 2), (3.0, 1)]),          # W=4, median at cum>=2 -> 2.0
        ("b", [(10.0, 5), (20.0, 1)]),                   # W=6, median -> 10.0
        ("c", [(float(v), 1) for v in range(1, 101)]),   # W=100, median -> 50
    ]:
        rows += [(g, v, w) for v, w in vals]
    df = spark.createDataFrame(rows, "g string, v double, w int").repartition(8)

    def mirror(vals, num, den):
        tot = sum(w for _, w in vals)
        cum = 0
        for v, w in sorted(vals):
            cum += w
            if den * cum >= num * tot:
                return v
        raise AssertionError

    for num, den in [(1, 2), (9, 10)]:
        got = {
            r["grp"]: float(r["quantile_value"])
            for r in orderstats.weighted_quantiles_by_group(
                df, F.col("g"), F.col("v"), F.col("w"), {"quantile_value": (num, den)}
            ).collect()
        }
        want = {
            "a": mirror([(1.0, 1), (2.0, 2), (3.0, 1)], num, den),
            "b": mirror([(10.0, 5), (20.0, 1)], num, den),
            "c": mirror([(float(v), 1) for v in range(1, 101)], num, den),
        }
        assert got == want, (num, den, got, want)
