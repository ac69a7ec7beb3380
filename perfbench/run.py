"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in its own Spark session (``local[N]``, N = usable cores
capped at 4, heap sized from MemTotal), checks the outputs, and prints as its
last stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``.  With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, and the spans are written to
``.perfbench_out/`` at the root of the checkout.  Workloads, metrics and the
layer each metric belongs to are described in ``perfbench/METRICS.md``.
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402

START = host.mark()  # set-up time is measured from here

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import time  # noqa: E402

from spans import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
E2E = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

WORKLOADS = ["stream_etl", "iterative_queries"]


def measure(wl, tracer: Tracer, seconds: float) -> dict:
    """The workload's timed loop; a traced run also gets the share of the
    loop's wall time spent in the tracer's own bookkeeping."""
    t0, spent = time.perf_counter(), tracer.overhead_s
    e2e = wl.measure(seconds)
    e2e["trace.overhead_frac"] = (tracer.overhead_s - spent) / (time.perf_counter() - t0)
    return e2e


def setup_times() -> dict:
    """Set-up so far: steal-adjusted (the metric) and wall (for the spans)."""
    return {"setup_s": host.unstolen_s(START), "wall_s": time.perf_counter() - START[0]}


def run_stream_etl(spark, tracer: Tracer, work: str, seed: int, seconds: float) -> dict:
    from stream_etl import StreamEtl

    wl = StreamEtl(spark, tracer, work, seed)
    wl.setup()
    setup = setup_times()
    e2e = measure(wl, tracer, seconds)
    attempted, failed = wl.finish()
    layers = {}
    if tracer.enabled:
        layers = wl.layer_metrics()
        with tracer.span("source.scan"):
            layers["source.scan_us_per_record"] = wl.scan_us_per_record()
    return {"setup": setup, "e2e": e2e, "attempted": attempted, "failed": failed, "layers": layers}


def run_queries(spark, tracer: Tracer, sf_dir: str, cores: int, seconds: float) -> dict:
    from query_sets import ITERATIVE, QueryWorkload

    wl = QueryWorkload(spark, tracer, ITERATIVE, sf_dir, cores)
    first_s = wl.check_pass()
    # the pass after the checked one still runs ~15% slower while the JIT
    # compiles, and with two or three passes in a run it would move the median
    wl.one_pass()
    setup = setup_times()
    e2e = measure(wl, tracer, seconds)
    layers = wl.layer_metrics(first_s - e2e["wall"]["latency_p50_s"]) if tracer.enabled else {}
    return {"setup": setup, "e2e": e2e, "attempted": wl.attempted, "failed": len(wl.failed), "layers": layers}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import kafka_connect_morphlines_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cores, heap = host.host_cores(), host.heap_mb()
    tracer = Tracer(bool(args.trace))
    try:
        with host.LoadSampler() as load:
            sf_dir = None
            if args.workload == "iterative_queries":
                from query_sets import SF
                from tables import write_tables

                with tracer.span("datagen"):
                    sf_dir = write_tables(SF, args.seed, os.path.join(work, "tables"))
            with tracer.span("session.start"):
                spark = host.start_session(work, cores, heap)
            tracer.sc = spark.sparkContext
            pid = host.jvm_pid(spark)
            try:
                if sf_dir is None:
                    res = run_stream_etl(spark, tracer, work, args.seed, args.seconds)
                else:
                    res = run_queries(spark, tracer, sf_dir, cores, args.seconds)
                rss = host.rss_peak_mb(pid)
            finally:
                host.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "heap_mb": heap,
        "samples": res["e2e"]["samples"],
        "load1_mean": round(load.mean(), 2),
        "load1_max": round(max(load.samples, default=0.0), 2),
        "cpu_steal_share": round(load.steal_share, 3),
        "wall": {"setup_s": res["setup"]["wall_s"], **res["e2e"]["wall"]},
    }
    if args.trace:
        layers = {name: 0.0 for name in PER_LAYER}
        setup_wall = res["setup"]["wall_s"]
        setup_spans = [s for s in tracer.spans if s["parent"] is None and s["end"] - START[0] <= setup_wall]
        layers.update(
            {
                "session.start_s": sum(tracer.durations("session.start")),
                "session.driver_rss_peak_mb": rss,
                "setup.other_s": setup_wall - sum(s["end"] - s["start"] for s in setup_spans),
                "pipeline.compile_s": sum(tracer.durations("pipeline.compile")),
                "datagen.s": sum(tracer.durations("datagen")),
            }
        )
        layers["trace.overhead_frac"] = res["e2e"]["trace.overhead_frac"]
        layers.update(res["layers"])
        metrics = {name: {"value": float(layers[name]), "unit": unit} for name, unit in PER_LAYER.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), {"context": context})
        for row in tracer.table():
            print(
                f"# {row['layer']:<28} calls={row['calls']:<4} total={row['total_s']:.3f}s "
                f"median={row['median_s']:.4f}s self={row['self_s']:.3f}s",
                file=sys.stderr,
            )
    else:
        values = {"setup_s": res["setup"]["setup_s"], **res["e2e"]}
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in E2E.items()}
    print("# " + json.dumps(context))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
