"""Smoke test of the benchmark harness at sf0.001, one pass per workload.

    python3 perfbench/smoke.py        (from the repository root; ~3 minutes)

Checks three things and exits 1 if any fails:
1. every metric named in BENCHMARK.json is printed with its unit, for
   every workload, untraced (end-to-end) and traced (per-layer);
2. in each trace, the self times of a span's children sum to no more
   than the span's own duration;
3. for a fixed small semantic map, ``backend.calls`` equals the input
   rows minus the response-cache hits.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("semantic_docs", "stateful_sf0.01")


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--smoke"]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1]), lines


def check_metrics(spec: dict, failures: list) -> None:
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result, lines = run(w, trace)
            got = result["metrics"]
            printed = {}  # name -> unit, from the "[layer] <name> <value> <unit>" lines
            for ln in lines:
                parts = ln.split()[1:] if trace and ln.startswith("layer ") else ln.split()
                if len(parts) >= 3:
                    printed.setdefault(parts[0], parts[2])
            for m in spec[key]:
                v = got.get(m["name"])
                if not v or v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
                    failures.append(f"{w} trace={trace}: {m['name']} missing or without unit {m['unit']}")
                if printed.get(m["name"]) != m["unit"]:
                    failures.append(f"{w} trace={trace}: no printed line gives {m['name']} with unit {m['unit']}")
            if trace:
                check_trace(os.path.join(".perfbench", "out", f"trace-{w}-seed7.json"), failures)
            if trace and w == "semantic_docs" and not got["backend.calls"]["value"] > 0:
                failures.append("semantic_docs: backend.calls is zero")
            if trace and w != "semantic_docs" and got["backend.calls"]["value"] != 0:
                failures.append(f"{w}: backend.calls is not zero")


def check_trace(path: str, failures: list) -> None:
    with open(path) as f:
        spans = json.load(f)["spans"]
    child_self: dict = {}
    for s in spans:
        if s["parent"] is not None:
            child_self[s["parent"]] = child_self.get(s["parent"], 0.0) + s["self_s"]
    for s in spans:
        dur = s["end"] - s["start"]
        if child_self.get(s["id"], 0.0) > dur + 1e-6:
            failures.append(f"{path}: children of span {s['id']} ({s['name']}) self-sum "
                            f"{child_self[s['id']]:.6f} s > its {dur:.6f} s")


def check_backend_calls(failures: list) -> None:
    """40 rows, 10 of them exact repeats, through one semantic map with a
    fresh response cache: every row is one cache lookup, and every miss
    is one model call."""
    sys.path[:0] = [os.getcwd(), HERE]
    import run as bench_run

    work = tempfile.mkdtemp(prefix="smoke-", dir=os.path.join(".perfbench"))
    bench_run.configure_env(os.getcwd(), work)
    from bench_model import LatencyModel
    from docetl_spark import SemanticFrame, get_spark
    from docetl_spark.resilience import BackendMetrics, ResilientBackend

    spark = get_spark("perfbench-smoke")
    try:
        rows = [{"doc_id": i, "text": f"fast spark row {i}"} for i in range(30)]
        rows += rows[:10]
        model = LatencyModel(spark.sparkContext, latency_s=0.0)
        metrics = BackendMetrics(spark.sparkContext)
        be = ResilientBackend(model, namespace="perfbench-smoke", metrics=metrics)
        out = SemanticFrame.from_list(spark, rows, backend=be).map(
            "Sentiment of {{ input.text }}", {"sentiment": "str"}).df.collect()
        hits = metrics.cache_hits.value
        if len(out) != len(rows):
            failures.append(f"semantic map returned {len(out)} rows for {len(rows)}")
        if model.calls.value != len(rows) - hits or metrics.calls.value != model.calls.value:
            failures.append(f"backend.calls {model.calls.value} != {len(rows)} rows - {hits} cache hits")
    finally:
        bench_run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    failures: list = []
    check_metrics(spec, failures)
    check_backend_calls(failures)
    for f in failures:
        print("FAIL", f)
    print("smoke: ok" if not failures else f"smoke: {len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
