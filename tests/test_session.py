"""Harness bootstrap: the driver heap is derived from the host in one
function, and ``bench.start_session`` is the only place that pins and
pre-touches it."""

from __future__ import annotations

import ast
import os

from kafka_connect_morphlines_spark.session import driver_memory, heap_from_meminfo

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GIB_KB = 1024 * 1024


def _meminfo(available_kb: int) -> str:
    return f"MemTotal:       {available_kb + GIB_KB} kB\nMemFree:        1000 kB\nMemAvailable:   {available_kb} kB\n"


def test_heap_is_sixty_percent_of_available():
    assert heap_from_meminfo(_meminfo(15 * GIB_KB)) == f"{9 * 1024}m"


def test_heap_is_capped_at_24g():
    assert heap_from_meminfo(_meminfo(64 * GIB_KB)) == f"{24 * 1024}m"


def test_driver_memory_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"
    monkeypatch.delenv("SPARK_DRIVER_MEMORY")
    assert driver_memory().endswith("m")


def test_heap_pinning_lives_only_in_bench_start_session():
    """Outside perfbench/ (which sizes its own heap), -Xms and AlwaysPreTouch
    appear only inside bench.start_session, and the retired heap knobs are
    read nowhere."""
    bench_path = os.path.join(REPO, "bench.py")
    with open(bench_path) as fh:
        tree = ast.parse(fh.read())
    fn = next((n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "start_session"), None)
    allowed = range(fn.lineno, fn.end_lineno + 1) if fn else range(0)

    offenders = []
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d not in ("perfbench", "__pycache__")]
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == os.path.abspath(__file__):
                continue
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if "SPARK_GRAFT_XMS" in line or "SPARK_GRAFT_WARMUP" in line:
                        offenders.append(f"{os.path.relpath(path, REPO)}:{i}")
                    elif ("-Xms" in line or "AlwaysPreTouch" in line) and not (
                        path == bench_path and i in allowed
                    ):
                        offenders.append(f"{os.path.relpath(path, REPO)}:{i}")
    assert offenders == []
