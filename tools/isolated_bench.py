"""Isolated per-query bench: each query runs in its OWN subprocess (own
JVM, own SparkSession), so the reading cannot be polluted by heap/codegen
state left behind by the 100+ other headline queries — the "isolated
best-of-3" protocol SCALE.md uses as per-query ground truth when the
full-bench number is contention-suspect.

Usage:
    python tools/isolated_bench.py [--warms N] q1 q2 ...   # named queries
    python tools/isolated_bench.py --child NAME            # (internal)

--warms N (default 3) raises the warm-iteration count for queries whose
JIT ramp outlasts three repetitions (the min is still what's reported).

Environment: $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
$SPARK_GRAFT_CPUS (default all), $SPARK_DRIVER_MEMORY (default derived
from the host, see bench.start_session).  Prints one JSON line per query:
{"query": name, "cold": s, "warms": [s,s,s], "warm": min, "load1": x}
and a final summary line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_child(name: str, n_warms: int = 3) -> None:
    from bench import start_session
    from kafka_connect_morphlines_spark.plans.queries import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # bench.py's session and warmers, so "cold" measures the QUERY's first
    # compile, not one-time session init
    spark = start_session(f"iso-{name}", sf_dir)

    spec = QUERIES[name]
    load1 = os.getloadavg()[0]
    t0 = time.time()
    spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    cold = round(time.time() - t0, 3)
    warms = []
    for _ in range(n_warms):
        t0 = time.time()
        spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        warms.append(round(time.time() - t0, 3))
    print(
        "ISO"
        + json.dumps(
            {
                "query": name,
                "cold": cold,
                "warms": warms,
                "warm": min(warms),
                "load1": round(load1, 2),
            }
        )
    )


def main() -> None:
    args = sys.argv[1:]
    n_warms = 3
    if "--warms" in args:
        i = args.index("--warms")
        n_warms = int(args[i + 1])
        del args[i : i + 2]
    if len(args) >= 2 and args[0] == "--child":
        run_child(args[1], n_warms)
        return
    names = args
    results = {}
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--warms", str(n_warms), "--child", name],
            capture_output=True,
            text=True,
            cwd=REPO,
        )
        line = next(
            (ln[3:] for ln in proc.stdout.splitlines() if ln.startswith("ISO")), None
        )
        if line is None:
            tail = (proc.stderr or proc.stdout).strip().splitlines()[-5:]
            results[name] = {"error": " | ".join(tail)[:400]}
            print(json.dumps({"query": name, "error": results[name]["error"]}))
            continue
        rec = json.loads(line)
        results[name] = rec
        print(json.dumps(rec))
    print(
        json.dumps(
            {
                "metric": "isolated_best_of_3",
                "sf_dir": os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
                "queries": {
                    k: v.get("warm") for k, v in results.items() if "warm" in v
                },
            }
        )
    )


if __name__ == "__main__":
    main()
