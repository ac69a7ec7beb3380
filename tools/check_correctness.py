"""Local correctness gate mimicking the driver's DuckDB-oracle comparison.

For every entry in __spark_entry__.queries(): run the Spark query and the
oracle SQL at the given SF, compare row count + normalized values
(column-name-sorted, row-sorted, stringified; floats rounded).  Queries
without an oracle get a rows-only check (must run and return >= 0 rows);
so do golden-backed oracles (GOLDEN_SF001_ORACLES) at any SF but sf0.01.

``--json OUT`` also writes one row per query in CORRECTNESS_local.json's format
({name: {rows_match, schema_match, hash_match, spark_rows, oracle_rows,
err}}); "hash" is equality of the canonical frames.  ``--only a,b`` runs
just those queries; with ``--json`` their rows merge into an existing OUT,
so a spot-run keeps a full run's rows.  sf_dir defaults to sf0.001, or to
sf0.01 with ``--json`` (the SF the golden-backed oracles certify at).

Usage: python tools/check_correctness.py [sf_dir] [--only a,b]
       python tools/check_correctness.py [sf_dir] --json OUT [--only a,b]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def normalize_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def normalize_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(normalize_cell(vals[i]) for i in order))
    out.sort()
    return [c for c in sorted(cols)], out


def check(spark, con, sf_dir, build, oracle_sql):
    """One query against its oracle: (CORRECTNESS_local.json row, status message)."""
    row = dict.fromkeys(["rows_match", "schema_match", "hash_match", "spark_rows", "oracle_rows", "err"])
    try:
        sdf = build(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
    except Exception as ex:
        row["err"] = traceback.format_exc()[-1500:]
        return row, f"spark error: {type(ex).__name__}: {ex}"
    row["spark_rows"] = len(srows)
    if oracle_sql is None:
        row["err"] = "no_oracle"
        return row, f"rows-only, {len(srows)} rows"
    try:
        ores = con.execute(oracle_sql)
        ocols = [d[0] for d in ores.description]
        orows = ores.fetchall()
    except Exception as ex:
        row["err"] = traceback.format_exc()[-1500:]
        return row, f"oracle error: {type(ex).__name__}: {ex}"
    row["oracle_rows"] = len(orows)
    sc, sr = normalize_rows(scols, srows)
    oc, orr = normalize_rows(ocols, orows)
    row["rows_match"] = len(sr) == len(orr)
    row["schema_match"] = sc == oc
    row["hash_match"] = bool(row["rows_match"] and row["schema_match"] and sr == orr)
    if not row["schema_match"]:
        return row, f"columns differ spark={sc} oracle={oc}"
    if not row["rows_match"]:
        return row, f"rowcount spark={len(sr)} oracle={len(orr)}"
    if not row["hash_match"]:
        bad = next(i for i, (a, b) in enumerate(zip(sr, orr)) if a != b)
        cells = [f"{sc[j]}: spark={a!r} oracle={b!r}" for j, (a, b) in enumerate(zip(sr[bad], orr[bad])) if a != b]
        return row, (
            f"values differ at sorted-row {bad} ({len(cells)} cell(s)):\n  " + "\n  ".join(cells)
            + f"\n  spark : {sr[bad]}\n  oracle: {orr[bad]}"
        )
    return row, f"{len(sr)} rows match"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", help="default sf0.001, or sf0.01 with --json")
    ap.add_argument("--json", metavar="OUT", help="write CORRECTNESS_local.json-format rows to OUT")
    ap.add_argument("--only", default="", help="comma-separated query names (merges into OUT)")
    args = ap.parse_args()
    args.sf_dir = args.sf_dir or ("/root/testdata/sf0.01" if args.json else "/root/testdata/sf0.001")
    only = {q for q in args.only.split(",") if q}

    import __spark_entry__ as e
    from kafka_connect_morphlines_spark import get_spark
    from kafka_connect_morphlines_spark.plans.queries import GOLDEN_SF001_ORACLES

    qs = e.queries()
    if only - set(qs):
        raise SystemExit(f"query names not registered: {sorted(only - set(qs))}")
    qs = {k: v for k, v in qs.items() if not only or k in only}
    oracles = e.oracle_sql()
    # golden-backed oracles are pinned at sf0.01 by construction (ADVICE
    # r09): at other SFs they degrade to rows-only
    if not os.path.normpath(args.sf_dir).endswith("sf0.01"):
        oracles = {k: v for k, v in oracles.items() if k not in GOLDEN_SF001_ORACLES}

    spark = get_spark(app_name="check_correctness")
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{args.sf_dir}/{tbl}.parquet'")

    results: dict[str, dict] = {}
    if args.json and only and os.path.exists(args.json):
        with open(args.json) as fh:
            results.update(json.load(fh))
    failures = []
    for name, build in qs.items():
        t0 = time.time()
        row, msg = check(spark, con, args.sf_dir, build, oracles.get(name))
        results[name] = row
        ok = row["hash_match"] or row["err"] == "no_oracle"
        if not ok:
            failures.append(name)
        status = "FAIL" if not ok else "ok*" if row["err"] else "ok"
        print(f"{status:5} {name}: {msg}" + ("" if not ok else f" ({time.time() - t0:.1f}s)"))

    if args.json:
        with open(args.json, "w") as fh:
            json.dump(results, fh, indent=1)
            fh.write("\n")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
