"""Measurement primitives for the benchmark: the process tree from
``/proc``, the host fingerprint, the SparkContext's status store, and
the span recorder of the traced run.

Nothing here changes what the engine does.  The status store is read
over py4j, which works with the Spark UI disabled; each read of the
stage or job list is one Jackson serialisation on the JVM side, so a
span costs a few round trips, not one per stage.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm may hold spaces or parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """CPU time and resident memory of a process and all of its
    descendants: the benchmark's Python process, the JVM it launches
    and the Python workers the JVM forks.  CPU includes the reaped
    children's time (cutime/cstime), so workers that exit mid-region
    still count."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def _members(self) -> list[list[str]]:
        fields: dict[int, list[str]] = {}
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            f = _stat_fields(int(name))
            if f is None:
                continue
            fields[int(name)] = f
            children.setdefault(int(f[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in fields:
                out.append(fields[pid])
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        # fields after comm: [11..14] = utime, stime, cutime, cstime
        return sum(
            sum(int(x) for x in f[11:15]) for f in self._members()
        ) / CLK_TCK

    def rss_mb(self) -> float:
        return sum(int(f[21]) for f in self._members()) * PAGE_MB


class PeakRss:
    """Peak process-tree RSS, sampled on a thread while the block runs."""

    def __init__(self, tree: ProcTree, every_s: float = 0.2):
        self.tree, self.every_s = tree, every_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
            if self._stop.wait(self.every_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, self.tree.rss_mb())


def steal_ticks() -> int:
    """Host-wide steal ticks from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8])


def host_fingerprint() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem_kb / 1024),
        "clk_tck": CLK_TCK,
    }


class StatusStore:
    """Stage and job records of the SparkContext's ``AppStatusStore``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        gw = sc._gateway
        self._jvm = gw.jvm
        self._gw = gw
        scala = getattr(gw.jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$").__getattr__("MODULE$")
        self._json = gw.jvm.com.fasterxml.jackson.databind.ObjectMapper() \
            .registerModule(scala)

    def _drain(self) -> None:
        # task-end events reach the store through the async listener bus
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def stages(self) -> dict[tuple[int, int], dict]:
        self._drain()
        empty = self._jvm.java.util.ArrayList()
        raw = self._store.stageList(
            empty, False, False, self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        return {(s["stageId"], s["attemptId"]): s
                for s in json.loads(self._json.writeValueAsString(raw))}

    def job_ids(self) -> set[int]:
        raw = self._store.jobsList(self._jvm.java.util.ArrayList())
        return {j["jobId"] for j in json.loads(self._json.writeValueAsString(raw))}

    def task_skew(self, stage: dict) -> float:
        """max / median task duration of one stage."""
        qs = self._gw.new_array(self._jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        opt = self._store.taskSummary(stage["stageId"], stage["attemptId"], qs)
        if opt.isEmpty():
            return 1.0
        med, top = json.loads(self._json.writeValueAsString(opt.get()))["duration"]
        return top / med if med > 0 else 1.0


def stage_counters(store: StatusStore, before: dict, after: dict) -> dict:
    """Counters of the stages that ran between two ``stages()`` reads."""
    new = [s for k, s in after.items()
           if k not in before and s["status"] != "SKIPPED"]
    mb = 2**20
    busiest = max(
        (s for s in new if s["numCompleteTasks"] >= 2),
        key=lambda s: s["executorRunTime"], default=None,
    )
    return {
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in new) / mb,
        "shuffle_write_records": sum(s["shuffleWriteRecords"] for s in new),
        "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                        for s in new) / mb,
        "task_skew": store.task_skew(busiest) if busiest else 1.0,
        "stages": len(new),
        "task_cpu_s": sum(s["executorCpuTime"] for s in new) / 1e9,
    }


class SpanRecorder:
    """Spans of one traced run, kept in memory and written as JSON at
    exit.  A span records name, start, end, parent and run id, the
    process-tree CPU and the status-store counters of the stages that
    ran inside it; the caller adds what is known only after the call,
    such as the output row count.  ``overhead_s`` sums the time the
    recorder itself spends reading the store and /proc around spans,
    which is what tracing adds to a traced call's wall time."""

    def __init__(self, spark, run_id: str):
        self.store = StatusStore(spark)
        self.tree = ProcTree()
        self.run_id = run_id
        self.spans: list[dict] = []
        self.extra: dict[str, float] = {}  # derived per-layer values
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "run_id": self.run_id,
               "parent": self._stack[-1]["name"] if self._stack else None}
        t = time.perf_counter()
        st0, jobs0 = self.store.stages(), self.store.job_ids()
        cpu0 = self.tree.cpu_s()
        start = time.perf_counter()
        self.overhead_s += start - t
        self._stack.append(rec)
        try:
            yield rec
        finally:
            end = time.perf_counter()
            cpu1 = self.tree.cpu_s()
            self._stack.pop()
            rec["start_s"], rec["end_s"] = start - self._t0, end - self._t0
            rec["wall_s"] = end - start
            rec["cpu_s"] = cpu1 - cpu0
            rec.update(stage_counters(self.store, st0, self.store.stages()))
            rec["jobs"] = len(self.store.job_ids() - jobs0)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - end

    def by_name(self) -> dict[str, dict]:
        return {s["name"]: s for s in self.spans}

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


class BatchListener:
    """Per-micro-batch durations from Spark's streaming progress events."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        durations = self.durations = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                durations.append(event.progress.batchDuration / 1000.0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def wait_for(self, n: int, timeout_s: float = 30.0) -> None:
        """Progress events arrive asynchronously after the query ends."""
        end = time.perf_counter() + timeout_s
        while len(self.durations) < n and time.perf_counter() < end:
            time.sleep(0.05)

    def remove(self) -> None:
        self._spark.streams.removeListener(self._listener)
