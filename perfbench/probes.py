"""Outside-in probes for the per-layer numbers: driver-side spans, Spark's
status tracker and status store, a streaming-query listener, the block
manager's storage info, and resident memory read from /proc."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

MB = 1024 * 1024


class Tracer:
    """In-memory span recorder. A span is (id, parent, name, start, end,
    trace id, attrs); spans of one query share the query's trace id.
    Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "trace": trace_id or (parent["trace"] if parent else None),
            "name": name,
            "start": time.time(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by its children."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def wait_listener_bus(sc) -> None:
    """Let Spark's asynchronous listener bus drain so the status store
    holds the final metrics of jobs that just ended."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Py4JError:
        time.sleep(0.2)


def job_stats(sc, group: str, skew: bool = False) -> dict:
    """Jobs, stages, tasks and task metrics of every job tagged ``group``."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_skew": 1.0}
    seen = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        out["jobs"] += 1
        for sid in info.stageIds if info else []:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JError:
                continue  # skipped stage (shuffle output reused): never ran
            if st.numCompleteTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            if skew and st.numCompleteTasks() > 1:
                out["task_skew"] = max(out["task_skew"], _stage_skew(sc, store, sid, st.attemptId()))
    return out


def _stage_skew(sc, store, sid: int, attempt: int) -> float:
    gw = sc._gateway
    qs = gw.new_array(gw.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    summary = store.taskSummary(sid, attempt, qs)
    if not summary.isDefined():
        return 1.0
    run = summary.get().executorRunTime()
    med, mx = run.apply(0), run.apply(1)
    return mx / med if med > 0 else 1.0


def pinned_cache_mb(sc) -> float:
    """Bytes the block manager holds for cached RDDs and tables."""
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()) / MB


def live_heap_mb(sc) -> float:
    """Driver heap still in use after a full collection: what the program
    retains between passes once pinned caches are cleared."""
    jvm = sc._jvm
    jvm.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / MB


class StreamProbe:
    """Streaming-query listener: micro-batches, addBatch and trigger time,
    and state-store size per run, with the wall clock each event arrived."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        probe = self
        self.runs: dict[str, dict] = {}

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                probe.runs.setdefault(str(event.runId), _run())["started"] = time.time()

            def onQueryProgress(self, event):
                p = event.progress
                run = probe.runs.setdefault(str(p.runId), _run())
                run["batches"] += 1
                run["add_batch_s"] += p.durationMs.get("addBatch", 0) / 1e3
                run["trigger_s"] += p.durationMs.get("triggerExecution", 0) / 1e3
                run["state_rows"] = sum(s.numRowsTotal for s in p.stateOperators)
                run["state_mb"] = sum(s.memoryUsedBytes for s in p.stateOperators) / MB

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                probe.runs.setdefault(str(event.runId), _run())["ended"] = time.time()

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def within(self, start: float, end: float) -> dict:
        """Totals over the runs that started inside [start, end]."""
        runs = [r for r in self.runs.values() if r["started"] is not None and start <= r["started"] <= end]
        tot = {k: sum(r[k] for r in runs) for k in ("batches", "add_batch_s", "trigger_s", "state_rows", "state_mb")}
        tot["queries"] = len(runs)
        drain = sum((r["ended"] or end) - r["started"] for r in runs)
        tot["overhead_s"] = max(0.0, drain - tot["add_batch_s"])
        return tot


def _run() -> dict:
    return {"started": None, "ended": None, "batches": 0, "add_batch_s": 0.0,
            "trigger_s": 0.0, "state_rows": 0, "state_mb": 0.0}


def _parents() -> dict[int, int]:
    """pid -> parent pid, for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(root: int, parents: dict[int, int] | None = None) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in (parents or _parents()).items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _is_java(pid: int | None) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().split(b"\0", 1)[0].endswith(b"/java")
    except OSError:
        return False


def _tree_pss_bytes(root: int) -> int:
    """Proportional resident memory of ``root`` and its descendants: pages
    shared by forked processes (the Python workers and their daemon) are
    split among them. A java process whose parent is the JVM is the JVM
    starting a shell command: until it execs it shares the JVM's memory,
    and counting it doubled the JVM (peaks jumped from ~1.4 to ~2.4 GB)."""
    parents = _parents()
    total = 0
    for pid in [root, *descendants(root, parents)]:
        if _is_java(pid) and _is_java(parents.get(pid)):
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:")) * 1024
        except (OSError, StopIteration, ValueError):
            pass  # the process ended while it was read
    return total


class RssSampler:
    """Peak proportional resident memory (PSS) of this process and all its
    descendants (the driver JVM, the Python worker daemon and its
    workers), sampled from /proc every ``interval`` seconds while running."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
