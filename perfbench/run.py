"""Repo benchmark: one closed-loop client drives one workload through the
engine's public entry points on local[nproc], checks every output
against a DuckDB oracle, and prints the end-to-end metrics (``--trace 0``)
or the per-layer metrics (``--trace 1``).

    python3 perfbench/run.py --workload stateful_sf0.01 --seed 1 --seconds 1 --trace 0

Run it from the repository root. Workloads: semantic_docs and
stateful_sf0.01 (see workloads.py and BENCHMARK.json).

A run: generate the input tables (cached under .perfbench/data), start
the session, run one warm-up pass over the smoke-sized inputs, then at
least two timed passes, and more until ``--seconds`` have elapsed. A
pass sends every request of the workload once, in an order drawn from
the seed, each one only after the previous finished.
Outputs are hashed and compared with the oracle after the timed region;
any mismatch or error makes the run exit 1. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}.

Tracing adds driver-side spans (pass > query > build / plan / exec),
job-group stats from Spark's status store, a streaming-query listener,
pinned-cache reads, model-call counters and the driver's live heap
after each pass; spans are written to
.perfbench/out/ when the run ends. A traced run also makes one untraced
pass to report the tracing overhead, and runs bench.py's two host-drift
controls, which are printed as context, not as metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REQUIRED = ("docetl_spark", "__spark_entry__.py", "bench.py",
            os.path.join("scripts", "check_oracle.py"),
            os.path.join("examples", "semantic_extraction.yaml"))
END_TO_END = {"setup_s": "s", "wall_s": "s", "query_geomean_s": "s", "query_p50_s": "s",
              "query_tail_s": "s", "peak_rss_mb": "MB"}
# passes keep getting a little faster for a while after the cold one (a
# second warm-up pass did not stop that), so a pass count that followed
# host speed (passes until --seconds) moved the medians by ~15%: the
# timed region is at least TIMED_PASSES passes, and at least --seconds
# long. A run takes about 40 s on 4 cores (about 21 s of it session
# start and warm-up), so the 48 runs of a comparison fit their time limit
# even while a shared host runs 1.5x slower.
WARMUP_PASSES = 1
TIMED_PASSES = 2
RATIOS = {"exec.busy_share", "exec.task_skew", "backend.cache_hit_ratio", "backend.calls_per_doc"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="sf0.001 inputs, a 60-document corpus, no warm-up passes, one timed pass")
    return p.parse_args(argv)


def configure_env(root: str, work: str) -> dict:
    """Size the session for this host before the JVM starts: every core,
    a driver heap well below physical memory, temporary files inside the
    checkout, and a worker PYTHONPATH that can unpickle bench_model."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the inputs are small; a heap the workloads fill keeps the JVM's
        # resident size from following G1's run-to-run growth decisions
        # (with a 3g heap, peak_rss_mb ranged 1.8-4.6 GB over five runs)
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def layer_unit(name: str) -> str:
    """A per-layer metric's unit, from its name."""
    if name in RATIOS:
        return "ratio"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def tail(passes: list[dict]) -> tuple[float, str]:
    """(value, what it is): the highest nearest-rank percentile of the
    (request, pass) samples with at least ten samples above it. Below 20
    samples that percentile would sit under the median, so the slowest
    request's median over passes is reported instead: the maximum of a
    few samples follows the one slowest sample (its spread over seeds was
    0.15 against 0.05 for wall_s)."""
    xs = sorted(t for p in passes for t in p["times"].values())
    n = len(xs)
    if n >= 20:
        return xs[n - 11], f"p{100.0 * (n - 10) / n:.1f} of {n} samples"
    per_request: dict = {}
    for p in passes:
        for name, t in p["times"].items():
            per_request.setdefault(name, []).append(t)
    slowest = max(per_request, key=lambda k: statistics.median(per_request[k]))
    return (statistics.median(per_request[slowest]),
            f"{n} samples, fewer than 20: the slowest request's median, {slowest}")


class Runner:
    def __init__(self, spark, wl, seed: int, cores: int):
        from probes import Tracer

        self.spark, self.sc, self.wl, self.cores = spark, spark.sparkContext, wl, cores
        self.rng = random.Random(seed)
        self.outputs: list[tuple] = []  # (workload, pass, request, rows, columns)
        self.errors: list[tuple] = []  # (pass, request, message)
        self.tracer = Tracer(True)
        self.off = Tracer(False)

    def run_pass(self, index: int, traced: bool, wl=None) -> dict:
        """One pass over ``wl`` (default: the workload), in a seeded order."""
        from probes import job_stats, live_heap_mb, pinned_cache_mb, wait_listener_bus

        wl = wl or self.wl
        tracer = self.tracer if traced else self.off
        order = sorted(wl.requests)
        self.rng.shuffle(order)
        wl.begin_pass(self.spark, warm=index == 0)
        rec = {"index": index, "traced": traced, "times": {}, "requests": {}}
        t0 = time.perf_counter()
        with tracer.span("pass", trace_id=f"pass-{index}", index=index) as psp:
            for name in order:
                qid = f"p{index}-{name}"
                before = wl.pass_counts()
                q0 = time.perf_counter()
                try:
                    with tracer.span("query", trace_id=qid, request=name) as qsp:
                        with tracer.span("build") as bsp:
                            if traced:
                                self.sc.setJobGroup(qid + "-build", name)
                            df = wl.requests[name](self.spark)
                        with tracer.span("plan"):
                            if traced:
                                df._jdf.queryExecution().executedPlan()
                        with tracer.span("exec"):
                            if traced:
                                self.sc.setJobGroup(qid + "-exec", name)
                            rows = df.collect()
                except Exception as e:  # counted as failed; the run goes on
                    traceback.print_exc()
                    self.errors.append((index, name, f"{type(e).__name__}: {str(e)[:300]}"))
                    self.spark.catalog.clearCache()
                    continue
                rec["times"][name] = time.perf_counter() - q0
                self.outputs.append((wl, index, name, rows, df.columns))
                if traced:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    wait_listener_bus(self.sc)
                    after = wl.pass_counts()
                    r = {
                        "build": job_stats(self.sc, qid + "-build"),
                        "exec": job_stats(self.sc, qid + "-exec", skew=True),
                        "pinned_mb": pinned_cache_mb(self.sc),
                        "backend": {k: after[k] - before[k] for k in after},
                        "build_span": bsp,
                    }
                    qsp["attrs"].update({"backend": r["backend"], "pinned_mb": r["pinned_mb"]})
                    rec["requests"][name] = r
                self.spark.catalog.clearCache()
        rec["wall"] = time.perf_counter() - t0
        rec["span"] = psp
        rec["counts"] = wl.pass_counts()
        if traced:
            rec["live_heap_mb"] = live_heap_mb(self.sc)
        return rec


def layer_metrics(runner, passes: list[dict], session: dict, stream, overhead_s: float) -> dict:
    """Per-layer numbers: per-pass sums, then the median over passes."""
    from probes import self_times

    spans = runner.tracer.spans
    selfs = self_times(spans)
    by_parent: dict = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    per_pass = []
    for p in passes:
        m: dict = {}
        ps = p["span"]
        m["self.pass_s"] = selfs[ps["id"]]
        for q in by_parent.get(ps["id"], []):
            m["self.query_s"] = m.get("self.query_s", 0.0) + selfs[q["id"]]
            for ch in by_parent.get(q["id"], []):
                key = ch["name"]
                m[f"{key}.s"] = m.get(f"{key}.s", 0.0) + (ch["end"] - ch["start"])
                m[f"self.{key}_s"] = m.get(f"self.{key}_s", 0.0) + selfs[ch["id"]]
        skew, pinned, leaks = 1.0, 0.0, 0
        for name, r in p["requests"].items():
            for phase in ("build", "exec"):
                for k, v in r[phase].items():
                    if k != "task_skew":
                        m[f"{phase}.{k}"] = m.get(f"{phase}.{k}", 0) + v
            skew = max(skew, r["exec"]["task_skew"])
            pinned += r["pinned_mb"]
            leaks += r["pinned_mb"] > 0
            st = stream.within(r["build_span"]["start"], r["build_span"]["end"])
            r["build_span"]["attrs"]["stream"] = st  # drains run inside the build call
            for k, v in st.items():
                m[f"stream.{k}"] = m.get(f"stream.{k}", 0) + v
        m["exec.task_skew"] = skew
        m["exec.busy_share"] = m.get("exec.run_s", 0.0) / (m["exec.s"] * runner.cores) if m.get("exec.s") else 0.0
        m["cache.pinned_mb"], m["cache.leaking_queries"] = pinned, leaks
        m["jvm.live_heap_mb"] = p["live_heap_mb"]
        c = p["counts"]
        for k, v in c.items():
            m[f"backend.{k}"] = v
        lookups = c["cache_hits"] + c["calls"]  # every miss is one model call
        m["backend.cache_hit_ratio"] = c["cache_hits"] / lookups if lookups else 0.0
        docs = runner.wl.corpus_docs()
        m["backend.calls_per_doc"] = c["calls"] / docs if docs else 0.0
        per_pass.append(m)
    keys = sorted(set.intersection(*(set(m) for m in per_pass)))
    out = {k: statistics.median(m[k] for m in per_pass) for k in keys}
    out.update(session)
    out["trace.overhead_s"] = overhead_s
    return out


def stop_spark(spark) -> None:
    """Stop the session, close the JVM, and wait for every child process."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    from probes import descendants

    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass  # already gone
    while descendants(os.getpid()) and time.time() < deadline + 15:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {', '.join(missing)}", file=sys.stderr)
        return 2
    state = os.path.join(root, ".perfbench")
    os.makedirs(os.path.join(state, "runs"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(state, "runs"))
    try:
        env = configure_env(root, work)
        sys.path[:0] = [root, os.path.join(root, "scripts"), HERE]
        return run(args, root, state, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, root: str, state: str, work: str, env: dict) -> int:
    import workloads
    from check_oracle import table_hash
    from probes import RssSampler, StreamProbe

    data = os.path.join(state, "data")
    wl = workloads.make(args.workload, data_root=data, work_dir=work,
                        seed=args.seed, repo_root=root, smoke=args.smoke)
    # the warm-up pass runs the same requests on the smoke-sized inputs:
    # what it warms (JVM classes, the JIT, codegen, Python workers) does
    # not grow with the data, and a full-size cold pass took ~21 s
    warm_wl = None
    if not args.smoke:
        warm_dir = os.path.join(work, "warm")
        os.makedirs(warm_dir)
        warm_wl = workloads.make(args.workload, data_root=data, work_dir=warm_dir,
                                 seed=args.seed, repo_root=root, smoke=True)
    from docetl_spark import get_spark

    cores = int(env["SPARK_GRAFT_CPUS"])
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    try:
        session = {"session.start_s": time.perf_counter() - t0}
        runner = Runner(spark, wl, args.seed, cores)
        stream = StreamProbe(spark) if args.trace else None
        warm = 0 if args.smoke else WARMUP_PASSES
        session["session.warm_s"] = sum(runner.run_pass(0, traced=False, wl=warm_wl)["wall"] for _ in range(warm))
        setup_s = time.perf_counter() - t0
        passes = []
        with RssSampler() as rss:
            t1 = time.perf_counter()
            while not passes or (not args.smoke and (
                    len(passes) < TIMED_PASSES or time.perf_counter() - t1 < args.seconds)):
                passes.append(runner.run_pass(len(passes) + 1, traced=bool(args.trace)))
        controls, overhead_s = {}, 0.0
        if args.trace:
            plain = runner.run_pass(len(passes) + 1, traced=False)
            overhead_s = statistics.median(p["wall"] for p in passes) - plain["wall"]
            if not args.smoke:
                import bench

                controls = {"run_control_s": bench.run_control(spark),
                            "run_sched_control_s": bench.run_sched_control(spark)}
            time.sleep(0.5)  # let the listener deliver the last stream events
    finally:
        stop_spark(spark)

    # correctness, outside the timed region
    expected = {id(w): w.expected(table_hash) for w in (wl, warm_wl) if w is not None}
    bad = list(runner.errors)
    for w, p, name, rows, cols in runner.outputs:
        keep = w.hash_columns[name]
        if keep is not None:
            idx = [cols.index(c) for c in keep]
            rows, cols = [tuple(r[i] for i in idx) for r in rows], keep
        if table_hash([tuple(r) for r in rows], cols) != expected[id(w)][name]:
            bad.append((p, name, "result hash differs from the DuckDB oracle"))
    attempted = len(runner.outputs) + len(runner.errors)
    for p, name, why in bad:
        print(f"MISMATCH pass {p} {name}: {why}")

    samples = [t for p in passes for t in p["times"].values()]
    tail_v, tail_what = tail(passes) if samples else (0.0, "no samples")
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall"] for p in passes),
        "query_geomean_s": math.exp(statistics.fmean(math.log(t) for t in samples)) if samples else 0.0,
        "query_p50_s": statistics.median(samples) if samples else 0.0,
        "query_tail_s": tail_v,
        "peak_rss_mb": rss.peak / 1024 / 1024,
    }
    print(f"workload {args.workload} seed {args.seed} cores {cores} driver_mem {env['SPARK_GRAFT_DRIVER_MEM']} "
          f"timed_passes {len(passes)} samples {len(samples)} trace {args.trace}")
    print(f"session start_s {session['session.start_s']:.3f} warm-up_s {session['session.warm_s']:.3f}")
    print("pass walls_s " + " ".join(f"{p['wall']:.3f}" for p in passes))
    for k, v in e2e.items():
        extra = f"  ({tail_what})" if k == "query_tail_s" else ""
        print(f"{k} {v:.4f} {END_TO_END[k]}{extra}")
    for name in sorted(wl.requests):
        ts = [p["times"][name] for p in passes if name in p["times"]]
        if ts:
            print(f"request {name} median_s {statistics.median(ts):.4f} over {len(ts)} pass(es)")
    print(f"failed_share {len(bad) / attempted if attempted else 1.0:.4f} ratio  ({len(bad)} of {attempted})")
    if args.trace:
        metrics = layer_metrics(runner, passes, session, stream, overhead_s)
        for k in sorted(metrics):
            print(f"layer {k} {metrics[k]:.4f} {layer_unit(k)}")
        print(f"tracing overhead {overhead_s:.4f} s (traced wall_s {e2e['wall_s']:.4f} s)")
        print("host-drift context: " + ", ".join(f"{k} {v:.3f} s" for k, v in controls.items()))
        write_trace(state, args, runner, passes, metrics, controls)
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            named = [m["name"] for m in json.load(f)["per_layer"]]
        missing = [k for k in named if k not in metrics]
        for k in missing:
            print(f"perfbench: per-layer metric {k} was not computed", file=sys.stderr)
        out = {k: {"value": float(metrics[k]), "unit": layer_unit(k)} for k in named if k in metrics}
    else:
        missing = []
        out = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad), "metrics": out}))
    return 0 if not bad and not missing else 1


def write_trace(state, args, runner, passes, metrics, controls) -> None:
    from probes import self_times

    out_dir = os.path.join(state, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(HERE, "should_move.json")) as f:
        should_move = json.load(f)  # layer metric -> the end-to-end metric and workload it moves
    selfs = self_times(runner.tracer.spans)
    spans = [{**s, "self_s": selfs[s["id"]]} for s in runner.tracer.spans]
    requests = {f"p{p['index']}-{n}": {k: v for k, v in r.items() if k != "build_span"}
                for p in passes for n, r in p["requests"].items()}
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "spans": spans, "requests": requests,
                   "layers": metrics, "host_drift_controls": controls,
                   "should_move": should_move}, f, indent=1, default=str)
    print(f"trace written to {os.path.relpath(path)}")


if __name__ == "__main__":
    sys.exit(main())
