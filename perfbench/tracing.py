"""Measurement plumbing: spans, streaming progress, Spark job counters, memory.

Everything here observes the program from outside: spans wrap calls the
benchmark makes into the package's public functions (and the
`streaming.upsert.merge_upsert` module attribute, which `upsert_sink`
looks up at call time), progress comes from a `StreamingQueryListener`,
and job/task/shuffle counts come from Spark's status store.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between the samples around it."""
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def quarter_growth(values: list[float]) -> float:
    """Median of the last quarter over median of the first quarter."""
    k = max(1, len(values) // 4)
    return statistics.median(values[-k:]) / statistics.median(values[:k])


class Tracer:
    """In-memory spans; `enabled=False` makes `span` a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        parent = getattr(self._local, "current", None)
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "trace": trace_id or (parent["trace"] if parent else ""),
            "name": name,
            "start": time.time(),
            **attrs,
        }
        self._local.current = rec
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._local.current = parent
            self.spans.append(rec)

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of
        the intervals its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered) * 1e3
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event per run id, and notes termination."""

    def __init__(self) -> None:
        self.progress: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:  # noqa: D102
        pass

    def onQueryProgress(self, event) -> None:  # noqa: D102
        p = json.loads(event.progress.json)
        with self._cv:
            self.progress.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event) -> None:  # noqa: D102
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: D102
        with self._cv:
            self.terminated.add(str(event.runId))
            self._cv.notify_all()

    def batches(self, run_id: str, timeout: float = 60.0) -> list[dict]:
        """All progress of `run_id`, once its termination event arrived
        (the bus delivers every progress event before it)."""
        with self._cv:
            if not self._cv.wait_for(lambda: run_id in self.terminated, timeout):
                raise TimeoutError(f"no termination event for run {run_id}")
            return list(self.progress.get(run_id, []))


class JobCounter:
    """Job, task, shuffle and scan counts of the Spark jobs submitted
    between `mark()` and `since()`, read from the status store."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._dag = self._sc._jsc.sc().dagScheduler()
        self._mark = self._last_job_id()

    def _last_job_id(self) -> int:
        # the scheduler's job count is exact; the store lags behind it
        return self._dag.numTotalJobs() - 1

    def mark(self) -> None:
        self._mark = self._last_job_id()

    def since(self, timeout: float = 10.0) -> dict[str, int]:
        """Counts for jobs after the mark; waits for the status store to
        see them finish (it is fed asynchronously by the listener bus)."""
        deadline = time.time() + timeout
        last = self._last_job_id()
        while True:
            try:
                jobs = [self._store.job(j) for j in range(self._mark + 1, last + 1)]
                if all(str(j.status()) != "RUNNING" for j in jobs):
                    break
            except Py4JJavaError:  # job not in the store yet
                jobs = []
            if time.time() > deadline:
                raise TimeoutError(f"status store did not settle on jobs up to {last}")
            time.sleep(0.05)
        out = {"jobs": len(jobs), "tasks": 0, "shuffle_bytes": 0, "scan_rows": 0}
        for j in jobs:
            out["tasks"] += j.numCompletedTasks()
            ids = j.stageIds()
            for i in range(ids.size()):
                try:
                    st = self._store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:  # skipped stages have no attempt
                    continue
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["scan_rows"] += st.inputRecords()
        self._mark = last
        return out


def _cpu_ticks(stat_path: str) -> int:
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


class CpuClock:
    """CPU time, user + system, of this process and of the JVM `pid`,
    less that of the JVM's JIT compiler threads: compilation is warm-up
    work whose timing differs from one JVM to the next. The JVM runs
    with a fixed set of compiler threads (see run.py), so the threads
    found here are all there are."""

    def __init__(self, pid: int) -> None:
        self._stat = f"/proc/{pid}/stat"
        self._jit = []
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    name = f.read()
            except FileNotFoundError:  # a thread that ended meanwhile
                continue
            if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                self._jit.append(f"/proc/{pid}/task/{tid}/stat")
        if not self._jit:
            raise RuntimeError(f"no JIT compiler threads found in JVM {pid}")

    def __call__(self) -> float:
        ticks = _cpu_ticks(self._stat) - sum(_cpu_ticks(p) for p in self._jit)
        t = os.times()
        return ticks / os.sysconf("SC_CLK_TCK") + t.user + t.system


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def reset_peak_rss() -> None:
    """Restart this process's peak resident set (`VmHWM`) from its
    current size, so memory the harness used before does not count."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mib(pid: int | str = "self") -> float:
    """Peak resident set (`VmHWM`) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def heap_retained_peak_mib(spark) -> float:
    """Peak use of the JVM heap pools that hold what survives a young
    collection (old generation and survivor space), summed. Eden is left
    out: it fills to whatever size the collector gives it."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if str(pool.getType()) == "Heap memory" and "Eden" not in pool.getName():
            total += pool.getPeakUsage().getUsed()
    return total / 2**20
