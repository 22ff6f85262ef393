"""Measurement helpers: operation accounting, spans, process-tree memory,
and the counters a Spark session exposes about the work it ran."""

from __future__ import annotations

import json
import os
import re
import threading
import time
import traceback


class Ops:
    """Counts attempted and failed operations.

    Every timed call and every output check is one attempt. A call that
    raises is a failure and returns ``None``; a check fails when its
    input is missing (its call failed) or when it raises. A check that
    runs on real output and finds a mismatch also makes the run
    incorrect."""

    def __init__(self, tracer: "Tracer | None" = None):
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.errors: list[str] = []
        self.tracer = tracer
        self.seconds: dict[str, list[float]] = {}
        self.check_cpu_s = 0.0  # this thread's CPU spent in checks

    def call(self, name: str, fn):
        """Run ``fn`` and return ``(result, seconds)``."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                out = fn()
            else:
                with self.tracer.span(name):
                    out = fn()
        except Exception:
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
            out = None
        dt = time.perf_counter() - t0
        self.seconds.setdefault(name, []).append(dt)
        return out, dt

    def check(self, name: str, fn, *inputs) -> None:
        """Run the check ``fn(*inputs)``; it raises on a mismatch."""
        self.attempted += 1
        if any(x is None for x in inputs):
            self.failed += 1
            self.errors.append(f"check {name}: no output to check")
            return
        c0 = time.thread_time()
        try:
            fn(*inputs)
        except Exception as e:
            self.failed += 1
            self.correct = False
            self.errors.append(f"check {name}: {type(e).__name__}: {e}")
        self.check_cpu_s += time.thread_time() - c0


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)


class Tracer:
    """In-memory spans around calls into the library, written out once at
    the end (:meth:`dump`). A span is (name, start, end, parent).
    ``own_s`` is the time spent opening and closing spans: what tracing
    adds to the traced calls."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.own_s = 0.0

    def span(self, name: str) -> "_Span":
        return _Span(self, name)

    def seconds(self, name: str) -> float:
        """Summed duration of every closed span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t0 = time.perf_counter()
        tr = self.tracer
        self.i = len(tr.spans)
        tr.spans.append({"name": self.name, "start": None, "end": None,
                         "parent": tr._stack[-1] if tr._stack else None})
        tr._stack.append(self.i)
        t1 = time.perf_counter()
        tr.spans[self.i]["start"] = t1
        tr.own_s += t1 - t0

    def __exit__(self, *exc):
        t0 = time.perf_counter()
        tr = self.tracer
        tr._stack.pop()
        tr.spans[self.i]["end"] = t0
        tr.own_s += time.perf_counter() - t0
        return False


# ------------------------------------------------------ process memory


def children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    kids = children()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(root: int) -> float:
    return sum(_rss_kb(p) for p in [root] + descendants(root)) / 1024.0


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants,
    including the children they have reaped. Linux charges a tick the
    hypervisor stole to ``steal``, not to the process, so this excludes
    time the machine's other tenants took."""
    ticks = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime .. cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, busy) CPU ticks of the whole machine so far; busy is user,
    nice, system, irq, softirq and steal: the time its CPUs had work."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], v[0] + v[1] + v[2] + v[5] + v[6] + v[7]


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the machine's busy CPU time between two :func:`cpu_ticks`
    readings that the hypervisor gave to other tenants."""
    return (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers it forks), polled from /proc."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self.cpu_s = 0.0  # the sampler thread's own CPU time so far
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


# ------------------------------------------------------- Spark counters

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_TOTAL = re.compile(r"^\s*(?:total[^\n]*\n)?\s*([0-9.]+)\s*([A-Za-z]+)")


def _metric_total(text: str) -> float:
    """Total of one formatted SQL metric ('6.0 s (3.0 s, ...)' or
    'total (min, med, max ...)\\n351.0 B (...)') in seconds or bytes."""
    m = _TOTAL.match(text)
    if not m or m.group(2) not in _UNITS:
        return 0.0
    return float(m.group(1)) * _UNITS[m.group(2)]


class SparkCounters:
    """Work a session ran between :meth:`start` and :meth:`stop`: jobs,
    stages and tasks (from the status tracker, via a job group), shuffle
    and spill bytes (from the status store's stage data), Python worker
    time (from the SQL metrics of the executions in the window) and JVM
    garbage-collection time (from the JVM's collector beans)."""

    PY_INIT = "time to initialize Python workers"
    PY_RUN = "time to run Python workers"

    def __init__(self, spark, group: str):
        self.spark, self.sc, self.group = spark, spark.sparkContext, group

    def _gc_ms(self) -> int:
        beans = (self.sc._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return sum(b.getCollectionTime() for b in beans)

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _max_execution(self) -> int:
        it = self._sql_store().executionsList().iterator()
        top = -1
        while it.hasNext():
            top = max(top, it.next().executionId())
        return top

    def start(self) -> None:
        self.sc.setJobGroup(self.group, self.group)
        self.gc0 = self._gc_ms()
        self.exec0 = self._max_execution()

    def stop(self) -> dict:
        out = {"jvm.gc_s": (self._gc_ms() - self.gc0) / 1000.0}
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(self.group)
        stage_ids = sorted({s for j in jobs
                            for s in (st.getJobInfo(j).stageIds
                                      if st.getJobInfo(j) else ())})
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        quantiles = self.sc._gateway.new_array(jvm.double, 0)
        stages = tasks = 0
        shuffle = spill = 0.0
        for sid in stage_ids:
            try:
                sd = store.stageAttempt(sid, 0, False, jvm.java.util.ArrayList(),
                                        False, quantiles)._1()
            except Exception:
                continue  # a stage the store no longer retains
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused
            stages += 1
            tasks += sd.numCompleteTasks()
            shuffle += sd.shuffleWriteBytes()
            spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        py_init = py_run = 0.0
        sq = self._sql_store()
        it = sq.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            if ex.executionId() <= self.exec0:
                continue
            names = {}
            mit = ex.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                if m.name() in (self.PY_INIT, self.PY_RUN):
                    names[m.accumulatorId()] = m.name()
            if not names:
                continue
            vit = sq.executionMetrics(ex.executionId()).iterator()
            while vit.hasNext():
                kv = vit.next()
                name = names.get(kv._1())
                if name == self.PY_INIT:
                    py_init += _metric_total(kv._2())
                elif name == self.PY_RUN:
                    py_run += _metric_total(kv._2())
        out.update({
            "spark.jobs": float(len(jobs)), "spark.stages": float(stages),
            "spark.tasks": float(tasks),
            "spark.shuffle_write_mb": shuffle / 2 ** 20,
            "spark.spill_mb": spill / 2 ** 20,
            "python.init_s": py_init, "python.run_s": py_run,
        })
        return out
