"""Regenerate a pinned golden parquet that serves as the DuckDB oracle
for a query whose semantics are deterministic but not SQL-expressible
(VERDICT r09 next-round #2; compression_ratio_quality was the first).

The gate runs the Spark query at sf0.01 (the driver's correctness SF by
contract) and writes the result as ONE parquet file that the oracle SQL
reads back via read_parquet().  The pin catches drift in the full
Spark-side pipeline — schema, hashing, batching, rounding — while the
algorithmic semantics stay pinned by pytest property tests.

Golden-backed oracles are sf0.01-specific by construction (ADVICE r09):
plans.queries.GOLDEN_SF001_ORACLES lists them, and
tools/check_correctness.py downgrades them to rows-only at any other SF.

Usage: python tools/make_golden_oracle.py QUERY_NAME [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GOLDEN_DIR = os.path.join(REPO, "tests", "resources", "goldens")


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_connect_morphlines_spark.plans.queries import QUERIES
    from kafka_connect_morphlines_spark.session import get_spark

    name = sys.argv[1]
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    golden = os.path.join(GOLDEN_DIR, f"{name}_sf001.parquet")
    spark = get_spark(
        app_name="make_golden_oracle",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    df = QUERIES[name].build(spark, sf)
    pdf = df.toPandas()
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, golden)
    print(f"wrote {len(pdf)} rows -> {golden}")


if __name__ == "__main__":
    main()
