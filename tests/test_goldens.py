"""Hard equality gates for the rows-only queries.

These rows-only queries have no SQL-expressible DuckDB oracle (engine-specific
samplers, xxhash64 seeds, hyperplane/IVF bucketing, sketch internals,
iterative k-means), so the
driver only row-count-checks them.  The committed goldens
(tests/resources/goldens/*.json, regenerated by tools/make_goldens.py under
the same session config as this suite) turn "rows-only" into exact-output
equality: every value, every row, at sf0.01 with fixed seeds.
"""

from __future__ import annotations

import json
import os

import pytest

from kafka_connect_morphlines_spark.plans.queries import QUERIES
from tools.make_goldens import canonical_rows

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "resources", "goldens")
SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.parametrize("name", sorted(f[: -len(".json")] for f in os.listdir(GOLDEN_DIR) if f.endswith(".json")))
def test_golden_exact_output(spark, name):
    with open(os.path.join(GOLDEN_DIR, f"{name}.json"), encoding="utf-8") as fh:
        golden = json.load(fh)
    df = QUERIES[name].build(spark, golden["sf_dir"])
    assert sorted(df.columns) == golden["columns"]
    got = canonical_rows(df)
    assert len(got) == len(golden["rows"]), f"{name}: row count {len(got)} != golden {len(golden['rows'])}"
    # integer-valued cells may deserialize as int vs float through JSON; the
    # queries round their own floats, so plain equality is the contract
    assert got == golden["rows"], f"{name}: output drifted from golden"
