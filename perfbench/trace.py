"""Benchmark-side tracing: layer spans, Spark status-store counters and a
process-tree RSS sampler.

A span wraps one call into an engine layer. It sets a Spark job group
for the duration of the call, and when the call returns it reads that
group's jobs and stages from the driver's status store
(``AppStatusStore``, populated even with the UI disabled). The store
keeps only the latest ``spark.ui.retainedStages`` (1,000) stages, so the
counters are read right after each span, never at the end of the run.
Spans are kept in memory and written out by ``Tracer.dump``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

# per-span metric -> unit
SPAN_UNITS = {"s": "s", "cpu_s": "s", "shuffle_write_mb": "MB",
              "slot_util": "ratio", "failed_tasks": "count"}
RSS_INTERVAL_S = 0.1


class Tracer:
    """Records spans (name, start, end, parent, run id) and per-span
    executor counters for the jobs each span launched."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.spans: list[dict] = []
        self.run_id = 0
        self._stack: list[tuple[str, str]] = []

    @contextmanager
    def span(self, name: str):
        """Time the enclosed call into layer ``name``. Spans nest: jobs
        launched in a parent outside its children count to the parent."""
        sc = self.spark.sparkContext
        group = f"bench-{self.run_id}-{len(self.spans)}-{name}"
        parent = self._stack[-1] if self._stack else None
        self._stack.append((name, group))
        sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent[1], parent[0])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            rec = {"name": name, "start": t0, "end": t1, "s": t1 - t0,
                   "parent": parent[0] if parent else None,
                   "run_id": self.run_id, "group": group}
            rec.update(self._counters(group, t1 - t0))
            self.spans.append(rec)

    def _counters(self, group: str, wall: float) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30000)
        store = jsc.statusStore()
        gw = sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
        run_ms = cpu_ns = shuffle_b = failed = 0
        heavy = (-1, None)  # (run time ms, (stage id, attempt id))
        stage_ids = set()
        for jid in job_ids:
            seq = store.job(jid).stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, no_status, False,
                                       no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                rt = int(st.executorRunTime())
                run_ms += rt
                cpu_ns += int(st.executorCpuTime())
                shuffle_b += int(st.shuffleWriteBytes())
                failed += int(st.numFailedTasks())
                if rt > heavy[0]:
                    heavy = (rt, (sid, int(st.attemptId())))
        return {
            "jobs": len(job_ids),
            "cpu_s": cpu_ns / 1e9,
            "run_s": run_ms / 1e3,
            "shuffle_write_mb": shuffle_b / 1e6,
            "slot_util": (run_ms / 1e3) / (wall * self.cores) if wall else 0.0,
            "failed_tasks": failed,
            "task_skew": self._task_skew(store, heavy[1]),
        }

    def _task_skew(self, store, stage) -> float:
        """max ÷ median task run time of the given stage attempt."""
        if stage is None:
            return 0.0
        gw = self.spark.sparkContext._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(stage[0], stage[1], q)
        if not summary.isDefined():
            return 0.0
        run = summary.get().executorRunTime()
        med, mx = float(run.apply(0)), float(run.apply(1))
        return mx / med if med > 0 else 0.0

    def layer_metrics(self, names) -> dict:
        """Median of each span field per layer name over all traced jobs;
        ``failed_tasks`` is summed. Layers never entered report 0."""
        out = {}
        for name in names:
            recs = [s for s in self.spans if s["name"] == name]
            for f in SPAN_UNITS:
                if not recs:
                    out[f"{name}.{f}"] = 0.0
                elif f == "failed_tasks":
                    out[f"{name}.{f}"] = float(sum(r[f] for r in recs))
                else:
                    out[f"{name}.{f}"] = statistics.median(r[f] for r in recs)
        return out

    def median_of(self, name: str, field: str) -> float:
        vals = [s[field] for s in self.spans if s["name"] == name]
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans}, f, indent=1)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat.
    Steal is time a virtual CPU was runnable but the hypervisor ran
    another guest; on a shared host it is the main source of run-to-run
    noise, so the runner prints its share of the timed jobs."""
    with open("/proc/stat", encoding="utf-8") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is
    # already counted in user)
    return ticks[7], sum(ticks[:8])


def _proc_table() -> dict[int, int]:
    """pid -> parent pid of every process, from /proc."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        table[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return table


def process_tree(root: int, table: dict[int, int] | None = None) -> list[int]:
    """``root`` and all its descendants."""
    table = _proc_table() if table is None else table
    out, frontier = [root], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in table.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_memory_kb(root: int) -> int:
    """Summed RSS of ``root``'s process tree. A child of the JVM that
    still runs the JVM's executable is a process spawn in progress
    (Hadoop forks ``chmod`` and friends); it shares the JVM's memory and
    is skipped."""
    table = _proc_table()
    total = 0
    for pid in process_tree(root, table):
        exe = _exe(pid)
        if pid != root and exe.endswith("/java") and \
                exe == _exe(table.get(pid, 0)):
            continue
        total += _rss_kb(pid)
    return total


class RssSampler:
    """Background thread sampling the summed RSS of this process tree
    (driver Python, the JVM and Spark's Python workers)."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_memory_kb(me))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
