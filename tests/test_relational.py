"""As-of join / range join operators and schema-registry binding."""

import pytest
from pyspark.sql import functions as F

from kafka_connect_morphlines_spark import compile_pipeline, schema_registry
from kafka_connect_morphlines_spark.functions.relational import asof_join, range_join


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [("A", 10, "t1"), ("A", 20, "t2"), ("B", 15, "t3"), ("C", 5, "t4")],
        "sym string, ts long, trade_id string",
    )
    quotes = spark.createDataFrame(
        [("A", 5, 100.0), ("A", 10, 101.0), ("A", 18, 102.0), ("B", 99, 200.0)],
        "sym string, ts long, px double",
    )
    return trades, quotes


def test_asof_backward_inclusive(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = {
        r["trade_id"]: r["px_asof"]
        for r in asof_join(trades, quotes, "ts", "ts", by="sym", value_cols=["px"]).collect()
    }
    assert out["t1"] == 101.0  # equal ts matches (inclusive)
    assert out["t2"] == 102.0  # latest prior
    assert out["t3"] is None  # B's only quote is later
    assert out["t4"] is None  # no quotes for C


def test_asof_keeps_left_cardinality(spark, trades_quotes):
    trades, quotes = trades_quotes
    assert asof_join(trades, quotes, "ts", "ts", by="sym").count() == trades.count()


def test_range_join_matches_between(spark):
    points = spark.createDataFrame([(1, 5.0), (2, 10.0), (3, 10.05), (4, 99.0)], "pid int, v double")
    ranges = spark.createDataFrame([(100, 4.9, 5.1), (200, 9.0, 10.0)], "rid int, lo double, hi double")
    out = {(r["pid"], r["rid"]) for r in range_join(points, ranges, "v", "lo", "hi", bucket_size=0.5).collect()}
    assert out == {(1, 100), (2, 200)}  # 10.05 > hi excluded; inclusive bounds kept


def test_range_join_range_spanning_many_buckets(spark):
    points = spark.createDataFrame([(i, float(i)) for i in range(20)], "pid int, v double")
    ranges = spark.createDataFrame([(1, 3.0, 15.0)], "rid int, lo double, hi double")
    got = sorted(r["pid"] for r in range_join(points, ranges, "v", "lo", "hi", bucket_size=1.0).collect())
    assert got == list(range(3, 16))


def test_enrich_json_via_registry_override(spark):
    schema_registry.OVERRIDES["evt-value"] = (
        '{"type":"record","name":"E","fields":[{"name":"k","type":["null","int"]},'
        '{"name":"missing","type":["null","string"]}]}'
    )
    p = compile_pipeline(
        [
            {
                "enrichJson": {
                    "valueField": "payload",
                    "outputField": "out",
                    "schema-registry-url": "http://registry.invalid",
                    "subject": "evt-value",
                }
            }
        ]
    )
    row = p(spark.createDataFrame([('{"k": 7, "zzz": 1}',)], "payload string")).collect()[0]
    assert row["out"]["k"] == 7 and row["out"]["missing"] is None


def test_enrich_json_registry_requires_static_subject(spark):
    from kafka_connect_morphlines_spark.pipeline import PipelineSpecError

    with pytest.raises(PipelineSpecError, match="subjectField"):
        compile_pipeline(
            [
                {
                    "enrichJson": {
                        "valueField": "p",
                        "schema-registry-url": "http://registry.invalid",
                        "subjectField": "topic",
                    }
                }
            ]
        )


def test_convert_timestamp_bad_pattern_compile_error(spark):
    from kafka_connect_morphlines_spark.pipeline import PipelineSpecError

    with pytest.raises(PipelineSpecError, match="invalid datetime pattern"):
        compile_pipeline([{"convertTimestamp": {"field": "ts", "inputFormats": ["YYYY-ww-uu bogus"], "outputFormat": "unixTimeInMillis"}}])


def test_convert_timestamp_pattern_check_runs_no_job(spark):
    """Compiling a convertTimestamp with a custom pattern validates it
    on the optimizer, not with a Spark job."""
    sc = spark.sparkContext
    group = "convert-timestamp-compile-spy"
    sc.setJobGroup(group, "compile spy", interruptOnCancel=False)
    try:
        compile_pipeline([{"convertTimestamp": {"field": "ts", "inputFormats": ["yyyy.MM.dd HH:mm:ss"], "outputFormat": "yyyy-MM-dd EEE HH:mm"}}])
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")
    assert jobs == [], f"compile ran Spark jobs: {jobs}"


def test_fuzzy_join_finds_typos_across_tables(spark):
    from kafka_connect_morphlines_spark.functions import relational

    vendors = spark.createDataFrame(
        [(1, "Acme Corp"), (2, "Globex"), (3, "Initech")], "vid long, name string"
    )
    invoices = spark.createDataFrame(
        [(10, "acme corp"), (11, "Globexx"), (12, "Umbrella"), (13, "Initch")],
        "iid long, vendor string",
    )
    got = {
        (r["l_id"], r["r_id"]): r["edit_dist"]
        for r in relational.fuzzy_join(
            vendors, invoices, "name", "vendor", "vid", "iid", max_edit=1
        ).collect()
    }
    assert got == {(1, 10): 0, (2, 11): 1, (3, 13): 1}


def test_jaro_winkler_reference_values():
    from kafka_connect_morphlines_spark.functions.relational import jaro_winkler

    # canonical published examples + edge cases, values matching DuckDB's
    # jaro_winkler_similarity (the certification oracle)
    assert abs(jaro_winkler("martha", "marhta") - 0.9611111111111111) < 1e-12
    assert abs(jaro_winkler("dixon", "dicksonx") - 0.8133333333333332) < 1e-12
    # prefix boost only above the 0.7 jaro threshold
    assert abs(jaro_winkler("abcdef", "abzzzz") - 0.5555555555555555) < 1e-12
    assert jaro_winkler("ab", "ba") == 0.0  # window 0: no matches
    assert jaro_winkler("", "") == 0.0
    assert jaro_winkler("abc", "abc") == 1.0


def test_jaro_winkler_join_blocks_and_verifies(spark):
    from kafka_connect_morphlines_spark.functions import relational

    names = spark.createDataFrame(
        [("martha",), ("marhta",), ("jellyfish",), ("zzz",)], "name string"
    )
    out = relational.jaro_winkler_join(
        names, names, "name", "name", "name", "name", threshold=0.9
    )
    pairs = {(r["l_id"], r["r_id"]) for r in out.filter(F.col("l_id") < F.col("r_id")).collect()}
    assert pairs == {("marhta", "martha")}
