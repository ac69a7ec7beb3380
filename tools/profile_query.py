"""Per-query job profile: run ONE query in its own JVM (cold + 1 warm),
then pull per-job wall times and names from the Spark UI REST API so the
expensive *jobs* inside a multi-action operator are attributable (the
iterative operators run 10-25 jobs per execution; the bench's single
number cannot say which round or collect dominates).

Usage: python tools/profile_query.py QUERY [--warms N]

Prints one line per job of the LAST (warm) execution, newest first:
    job_id  duration_ms  n_stages  description-or-callsite
plus a summary: total job ms (cold/warm), job count, top stages by time.

Environment: $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
$SPARK_GRAFT_CPUS (default all), $SPARK_DRIVER_MEMORY (default derived
from the host, see bench.start_session).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.loads(r.read().decode())


def main() -> None:
    args = sys.argv[1:]
    n_warms = 1
    if "--warms" in args:
        i = args.index("--warms")
        n_warms = int(args[i + 1])
        del args[i : i + 2]
    name = args[0]

    from bench import start_session
    from kafka_connect_morphlines_spark.plans.queries import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # bench.py's session and warmers, so cold is the query's compile
    spark = start_session(f"profile-{name}", sf_dir, {"spark.ui.enabled": "true"})
    sc = spark.sparkContext

    base = sc.uiWebUrl + "/api/v1/applications/" + sc.applicationId
    warm_start_job = None
    spec = QUERIES[name]

    t0 = time.time()
    spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    cold = time.time() - t0
    warms = []
    for i in range(n_warms):
        jobs_before = api(base, "/jobs")
        warm_start_job = max((j["jobId"] for j in jobs_before), default=-1)
        t0 = time.time()
        spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        warms.append(time.time() - t0)
    warm = min(warms)

    jobs = api(base, "/jobs")
    warm_jobs = [j for j in jobs if j["jobId"] > warm_start_job]
    total_ms = 0
    rows = []
    for j in sorted(warm_jobs, key=lambda x: x["jobId"]):
        t_sub = j.get("submissionTime")
        t_done = j.get("completionTime")

        def ts(s):
            return time.mktime(time.strptime(s[:19], "%Y-%m-%dT%H:%M:%S")) + float(
                "0." + s[20:23] if len(s) > 20 else 0
            )

        dur = (ts(t_done) - ts(t_sub)) * 1000 if t_sub and t_done else -1
        total_ms += max(dur, 0)
        desc = (j.get("description") or j.get("name") or "")[:110]
        rows.append((j["jobId"], dur, len(j.get("stageIds", [])), desc))
        print(f"job {j['jobId']:4d}  {dur:8.0f} ms  stages={len(j.get('stageIds', []))}  {desc}")

    stages = api(base, "/stages?status=complete")
    print("\ntop stages (all executions):")
    for s in sorted(stages, key=lambda x: -(x.get("executorRunTime") or 0))[:12]:
        print(
            f"stage {s['stageId']:4d}  run={s.get('executorRunTime', 0):8d} ms"
            f"  tasks={s.get('numCompleteTasks')}  in={s.get('inputBytes', 0) >> 20}MB"
            f"  sh_r={s.get('shuffleReadBytes', 0) >> 20}MB sh_w={s.get('shuffleWriteBytes', 0) >> 20}MB"
            f"  {(s.get('description') or s.get('name') or '')[:80]}"
        )
    print(
        json.dumps(
            {
                "query": name,
                "cold": round(cold, 3),
                "warm": round(warm, 3),
                "warms": [round(w, 3) for w in warms],
                "n_jobs_warm": len(warm_jobs),
                "sum_job_ms_warm": round(total_ms),
            }
        )
    )


if __name__ == "__main__":
    main()
