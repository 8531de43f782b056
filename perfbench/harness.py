"""Measurement plumbing shared by every workload.

The statistics, interval and span helpers at the top are pure Python so the
arithmetic tests import them without a JVM. The Spark-facing helpers read
the driver's status store and storage registry through py4j; they never
add a Spark job of their own.
"""

from __future__ import annotations

import contextlib
import os
import signal
import threading
import time

# ---------------------------------------------------------------- statistics


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile that still has at least `beyond` samples
    above it, as (value, percentile). That is the order statistic with
    `beyond` larger samples: rank n-1-beyond of the ascending sort. With
    `beyond` or fewer samples no percentile qualifies, and the smallest
    sample (percentile 0) is the closest one."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    k = max(0, n - 1 - beyond)
    pct = 100.0 * k / (n - 1) if n > 1 else 0.0
    return s[k], pct


def least_disturbed(steal_pcts: list[float], calm_pct: float) -> list[int]:
    """Indices of the samples to keep, in their original order: every
    sample taken while the host stole at most `calm_pct` percent of CPU
    time, topped up with the least-stolen others until at least half of
    all samples are kept."""
    order = sorted(range(len(steal_pcts)), key=lambda i: steal_pcts[i])
    keep = max(-(-len(order) // 2), sum(p <= calm_pct for p in steal_pcts))
    return sorted(order[:keep])


def union_length(intervals, lo: float, hi: float) -> float:
    """Total length of the union of [start, end] intervals, clipped to
    [lo, hi]. Overlapping and nested intervals count once."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: the span's duration minus the part of its
    interval that its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {
        sp["id"]: (sp["end"] - sp["start"])
        - union_length(children.get(sp["id"], []), sp["start"], sp["end"])
        for sp in spans
    }


# -------------------------------------------------------------------- spans


class Tracer:
    """In-memory span recorder. Spans nest by call order on one stack (the
    benchmark drives one closed loop, so nothing overlaps); `active` turns
    recording on per iteration so untraced control iterations run the
    same code with no spans."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def current(self) -> dict | None:
        return self.spans[self._stack[-1]] if self._stack else None

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def descendants(self, root_id: int) -> list[dict]:
        out, stack = [], [root_id]
        while stack:
            for ch in self.children(stack.pop()):
                out.append(ch)
                stack.append(ch["id"])
        return out


# --------------------------------------------------------------- host stamp


def stat_snap() -> tuple[int, int, int]:
    """Cumulative (total, steal, iowait) jiffies from /proc/stat line 1."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    return sum(vals), vals[7], vals[4]


def window_contention(snap0, snap1) -> dict[str, float]:
    """Steal and iowait share of all CPU time between two snapshots."""
    dt = max(snap1[0] - snap0[0], 1)
    return {
        "steal_pct": 100.0 * (snap1[1] - snap0[1]) / dt,
        "iowait_pct": 100.0 * (snap1[2] - snap0[2]) / dt,
    }


def _cmdline(pid: int) -> bytes | None:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return None


def process_tree(root_pid: int) -> list[int]:
    """The pid and the pids of all its live descendants, root first."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: the fields after it
                # start past the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, frontier = [], [root_pid]
    while frontier:
        pid = frontier.pop()
        out.append(pid)
        frontier.extend(kids.get(pid, []))
    return out


def _proc_tree_rss_kb(root_pid: int) -> int:
    """Summed VmRSS of a process and all its descendants. A process that
    still carries the root's command line has not exec'd yet: the JVM
    spawns helpers (Hadoop's local file system runs `ls` and `chmod`)
    through vfork, so such a child shares the JVM's memory, and counting
    it would add the whole JVM a second time."""
    tree = process_tree(root_pid)
    root_cmd = _cmdline(root_pid)
    total = 0
    for pid in tree:
        if pid != root_pid and _cmdline(pid) == root_cmd:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until none of `pids` runs; SIGKILL what outlives the timeout.
    They are the JVM's children, not ours, so /proc is polled, and a
    zombie counts as ended."""
    deadline, killed = time.time() + timeout_s, False
    while alive := [p for p in pids if _running(p)]:
        if time.time() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} survive SIGKILL")
            for p in alive:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            deadline, killed = time.time() + 10.0, True
        time.sleep(0.05)


class RssSampler:
    """Background thread sampling the RSS of the JVM plus its Python
    workers; `peak_mb` is the largest sum seen."""

    def __init__(self, pid: int, interval_s: float = 0.25) -> None:
        self.pid = pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _proc_tree_rss_kb(self.pid))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------- Spark internals


def persistent_rdds(sc) -> dict:
    out = {}
    it = sc._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        kv = it.next()
        out[int(kv._1())] = kv._2()
    return out


def free_new_rdds(sc, before: set[int]) -> None:
    """Unpersist (blocking) every persistent RDD not in `before`."""
    for rdd_id, rdd in persistent_rdds(sc).items():
        if rdd_id not in before:
            rdd.unpersist(True)


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


class StatusStore:
    """Job and stage metrics from the driver's AppStatusStore, which the
    status listener fills even with the UI disabled. Both list calls
    return newest first, so a scan stops at the last id seen before the
    window opened."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._ssc = sc._jsc.sc()
        self._store = self._ssc.statusStore()
        # py4j fills no Scala defaults: stageList takes all five arguments
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._ssc.listenerBus().waitUntilEmpty()

    def _stages(self):
        it = self._store.stageList(None, False, False, self._no_quantiles, None).iterator()
        while it.hasNext():
            yield it.next()

    def _jobs(self):
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            yield it.next()

    def mark(self) -> tuple[int, int]:
        """(newest job id, newest stage id) seen so far."""
        self.drain()
        job = next((int(j.jobId()) for j in self._jobs()), -1)
        stage = next((int(s.stageId()) for s in self._stages()), -1)
        return job, stage

    def since(self, mark: tuple[int, int], t0: float, t1: float) -> dict[str, float]:
        """Spark metrics of the jobs and stages started after `mark`;
        `spark.driver_gap_s` is the part of [t0, t1] no stage ran in."""
        self.drain()
        jobs = 0
        for j in self._jobs():
            if int(j.jobId()) <= mark[0]:
                break
            jobs += 1
        m = {
            "spark.jobs": float(jobs),
            "spark.stages": 0.0,
            "spark.executor_run_s": 0.0,
            "spark.executor_cpu_s": 0.0,
            "spark.gc_s": 0.0,
            "spark.spill_mb": 0.0,
            "spark.shuffle_read_mb": 0.0,
            "spark.shuffle_write_mb": 0.0,
            "spark.output_mb": 0.0,
        }
        intervals = []
        for s in self._stages():
            if int(s.stageId()) <= mark[1]:
                break
            if s.status().toString() == "SKIPPED":
                continue
            m["spark.stages"] += 1
            m["spark.executor_run_s"] += s.executorRunTime() / 1e3
            m["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            m["spark.gc_s"] += s.jvmGcTime() / 1e3
            m["spark.spill_mb"] += s.diskBytesSpilled() / 1e6
            m["spark.shuffle_read_mb"] += s.shuffleReadBytes() / 1e6
            m["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            m["spark.output_mb"] += s.outputBytes() / 1e6
            a, b = _opt_s(s.submissionTime()), _opt_s(s.completionTime())
            if a is not None and b is not None:
                intervals.append((a, b))
        m["spark.driver_gap_s"] = (t1 - t0) - union_length(intervals, t0, t1)
        return m


def install_checkpoint_counter(tracer: Tracer) -> None:
    """Count localCheckpoint / checkpoint / cache / persist calls (each one
    registers a new persistent RDD) on the innermost open span while the
    tracer is active."""
    from pyspark.sql.classic.dataframe import DataFrame

    def wrap(fn):
        def counted(self, *args, **kwargs):
            cur = tracer.current() if tracer.active else None
            if cur is not None:
                cur["checkpoints"] = cur.get("checkpoints", 0) + 1
            return fn(self, *args, **kwargs)

        return counted

    for name in ("localCheckpoint", "checkpoint", "cache", "persist"):
        setattr(DataFrame, name, wrap(getattr(DataFrame, name)))


def materialize(df) -> None:
    """Run a frame's whole plan without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()
