"""Shared benchmark machinery: summary statistics, the outside-in RSS
sampler, and the span tracer that attributes Spark's per-operator SQL
metrics to the layer that ran them.

Everything here observes the engine from outside: it times calls into the
package's public functions and reads Spark's status store, job tracker and
JVM MXBeans. Nothing under ``webscraping_video_pipeline_spark/`` is edited.
"""

from __future__ import annotations

import math
import os
import re
import signal
import statistics
import subprocess
import threading
import time
import traceback
from contextlib import contextmanager


# ------------------------------------------------------------------ stats


def median(values):
    return statistics.median(values) if values else 0.0


def tail_percentile(values, min_above: int = 10):
    """The highest integer percentile p >= 50 whose nearest-rank value has at
    least ``min_above`` samples strictly above it, as ``(p, value)``; None
    when the sample is too small for even the median to qualify.

    With 111 samples this is p90 (rank 100, 11 samples above); p91 would
    leave only 9."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 49, -1):
        rank = max(1, math.ceil(p * n / 100))
        value = xs[rank - 1]
        if sum(1 for x in xs if x > value) >= min_above:
            return p, value
    return None


# ------------------------------------------------- process tree, RSS sampler


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the parenthesised command name
    (state first, then ppid, ...); None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    return children


def descendants(root_pid: int) -> list[int]:
    """Every process under ``root_pid``, zombies included, but not
    ``root_pid`` itself."""
    children, out = _children(), []
    stack = list(children.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _tree_rss_kb(root_pid: int) -> int:
    """Summed VmRSS of ``root_pid`` and all its descendants (this process,
    the JVM, Python workers), read from /proc."""
    children = _children()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS from a daemon thread; ``peak_mb`` is
    the largest sum seen."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ------------------------------------------------------------ shutdown


def _started(pid: int) -> str | None:
    """Start time of a live (not zombie) process, which tells it apart from
    a later process that reuses its pid; None once it has ended."""
    fields = _stat_fields(pid)
    if fields is None or fields[0] in ("Z", "X"):
        return None
    return fields[19]  # field 22, starttime


def stop_spark(timeout_s: float = 30.0) -> None:
    """Stop the Spark session, the JVM behind it and every process under
    it, and wait until each has ended.

    ``SparkSession.stop`` leaves the JVM running until it sees EOF on its
    stdin, which only comes when this process exits, so the JVM (and any
    Python worker it still owns) would outlive the benchmark. Closing the
    gateway's stdin ends it now; whatever has not ended after
    ``timeout_s`` is terminated, then killed."""
    from pyspark import SparkContext

    tree = {pid: _started(pid) for pid in descendants(os.getpid())}
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # the processes must go even if the stop fails
            traceback.print_exc()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            traceback.print_exc()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # Python workers re-parented away from the JVM, and anything else left
    tree.update((pid, _started(pid)) for pid in descendants(os.getpid()))
    live = {pid: st for pid, st in tree.items() if st is not None}
    for sig, wait_s in ((None, timeout_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            for pid in live:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.monotonic() + wait_s
        while True:
            _reap_children()
            live = {pid: st for pid, st in live.items() if _started(pid) == st}
            if not live or time.monotonic() >= deadline:
                break
            time.sleep(0.05)
        if not live:
            return
    raise RuntimeError(f"processes still running after shutdown: {sorted(live)}")


def _reap_children() -> None:
    """Collect exited direct children so they do not linger as zombies."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


# ------------------------------------------------- SQL metric value parsing

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of one status-store metric string, in bytes / seconds / units.

    Aggregated metrics read ``"total (min, med, max ...)\\n1.2 s (...)"``;
    plain sums read ``"12,345"``."""
    line = text.strip().splitlines()[-1]
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


# ----------------------------------------------------------------- tracer


def _scala_iter(collection):
    """Iterate a Scala collection (or map, as tuples) held through py4j."""
    it = collection.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    """Spans at public-call boundaries, each under its own Spark job group.

    A span records name, start, end, parent and operation id. Its job group
    (and description) is the span id, so every SQL execution it triggers is
    attributed to it. ``harvest()`` pulls the per-operator metrics of every
    execution finished since the last harvest from the SQL status store,
    which works with the UI off. A disabled tracer runs the same code with
    no spans, no job groups and no harvest."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.executions: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._last_exec = -1

    @contextmanager
    def span(self, name: str):
        counters: dict = {}
        if not self.enabled:
            yield counters
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": 0.0,
            "end": 0.0,
            "counters": counters,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", f"span-{sid} {name}")
        rec["start"] = time.monotonic()
        try:
            yield counters
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(
                    f"span-{parent}", f"span-{parent} {self.spans[parent]['name']}"
                )
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def operation(self, op_id, name: str):
        """One closed-loop operation: a root span plus JVM counters read
        before and after it (GC time/count, persistent RDDs left behind)."""
        if not self.enabled:
            yield {}
            return
        self._op = op_id
        gc0, rdds0 = self.gc_totals(), self.persistent_rdds()
        with self.span(name) as counters:
            yield counters
        gc1, rdds1 = self.gc_totals(), self.persistent_rdds()
        counters["jvm.gc_s"] = gc1[0] - gc0[0]
        counters["jvm.gc_count"] = gc1[1] - gc0[1]
        counters["jvm.leaked_rdds"] = len(rdds1 - rdds0)
        self._op = None
        self.harvest()

    # ----------------------------------------------------- JVM counters
    def gc_totals(self) -> tuple[float, int]:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        t = c = 0
        for b in beans:
            t += max(0, b.getCollectionTime())
            c += max(0, b.getCollectionCount())
        return t / 1000.0, c

    def persistent_rdds(self) -> set[int]:
        return {int(k) for k in self.sc._jsc.getPersistentRDDs().keySet()}

    # ------------------------------------------------- status-store harvest
    def harvest(self) -> None:
        """Per-operator metric totals of every SQL execution finished since
        the last call, keyed to the span whose job group ran it."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        tracker = self.sc._jsc.sc().statusTracker()
        newest = self._last_exec
        for ex in _scala_iter(store.executionsList()):
            eid = ex.executionId()
            if eid <= self._last_exec:
                continue
            newest = max(newest, eid)
            m = re.match(r"span-(\d+)", ex.description() or "")
            values = {t._1(): t._2() for t in _scala_iter(store.executionMetrics(eid))}
            nodes = []
            for node in _scala_iter(store.planGraph(eid).allNodes()):
                metrics = {}
                for pm in _scala_iter(node.metrics()):
                    v = values.get(pm.accumulatorId())
                    if v is not None:
                        metrics[pm.name()] = parse_metric(v)
                nodes.append({"name": node.name(), "desc": node.desc()[:300], "metrics": metrics})
            job_ids = [t._1() for t in _scala_iter(ex.jobs())]
            n_tasks = 0
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info.isDefined():
                    for sid in info.get().stageIds():
                        st = tracker.getStageInfo(sid)
                        if st.isDefined():
                            n_tasks += st.get().numTasks()
            self.executions.append(
                {
                    "id": eid,
                    "span": int(m.group(1)) if m else None,
                    "jobs": len(job_ids),
                    "tasks": n_tasks,
                    "nodes": nodes,
                }
            )
        self._last_exec = newest

    # ------------------------------------------------------- derived views
    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its child spans cover."""
        rec = self.spans[sid]
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == sid
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def descendants(self, sid: int) -> set[int]:
        out, frontier = {sid}, [sid]
        while frontier:
            cur = frontier.pop()
            for s in self.spans:
                if s["parent"] == cur and s["id"] not in out:
                    out.add(s["id"])
                    frontier.append(s["id"])
        return out

    def operator_total(self, span_ids, metric: str, node_filter=None) -> float:
        """Sum of one operator metric over the executions of ``span_ids``,
        optionally only on plan nodes for which ``node_filter(node)``."""
        span_ids = set(span_ids)
        total = 0.0
        for ex in self.executions:
            if ex["span"] not in span_ids:
                continue
            for node in ex["nodes"]:
                if node_filter is not None and not node_filter(node):
                    continue
                total += node["metrics"].get(metric, 0.0)
        return total

    def execution_total(self, span_ids, key: str) -> int:
        span_ids = set(span_ids)
        return sum(ex[key] for ex in self.executions if ex["span"] in span_ids)

    def dump(self) -> dict:
        return {"spans": self.spans, "executions": self.executions}
