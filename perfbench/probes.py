"""Counting work from outside the engine.

- ``RssSampler``: peak resident memory (PSS) of this process and every
  descendant (JVM, PySpark daemon, Python workers), read from ``/proc``.
- ``JobCounter``: Spark jobs and tasks started by one operation, via a job
  group plus the status tracker.
- ``ReferenceJob``: a fixed engine-free Spark job, the unit of the
  workloads' relative latency.
- ``index_sizes``: bytes and file counts per index table, by walking the
  index directory.
- ``Tracer``: in-memory spans around public calls, with per-layer self
  time, written as JSON at exit.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

def _parents() -> Dict[int, int]:
    """pid -> ppid for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command field may hold spaces; fields after ')' are fixed
        out[int(name)] = int(stat[stat.rfind(")") + 2:].split()[1])
    return out


def descendants(root: int) -> List[int]:
    """Every process below ``root`` in the process tree."""
    children: Dict[int, List[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        kids = children.get(stack.pop(), ())
        out.extend(kids)
        stack.extend(kids)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes that map it (0 once the process has exited)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Background thread summing the resident memory of this process and
    all its descendants every ``interval`` seconds; ``peak_mb`` is the
    largest sum seen.  Memory is counted as PSS: PySpark forks its Python
    workers from one daemon, and a plain RSS sum would count the pages
    they share with it once per worker.  Reading PSS walks the page
    tables, so the interval is kept coarse to leave the CPUs to the
    engine; the JVM heap and the workers that make up the peak live far
    longer than one interval."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.peak_tree: Dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        root = os.getpid()
        tree = {pid: pss_bytes(pid) for pid in [root] + descendants(root)}
        total = sum(tree.values())
        if total > self.peak:
            self.peak, self.peak_tree = total, tree

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2 ** 20

    @property
    def peak_processes(self) -> int:
        return len(self.peak_tree)

    @property
    def peak_largest_mb(self) -> float:
        """RSS of the largest process at the peak (the JVM)."""
        return max(self.peak_tree.values(), default=0) / 2 ** 20


class JobCounter:
    """Spark jobs and tasks per operation.

    Each operation runs under its own job group.  Jobs the engine submits
    from its own driver threads (the build's concurrent table writes) do
    not inherit the group, so jobs without a group that appear during the
    operation are attributed to it too — the benchmark is a single client,
    so nothing else submits jobs meanwhile."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._n = 0

    def _ungrouped(self) -> set:
        return set(self.tracker.getJobIdsForGroup(None))

    @contextmanager
    def count(self, name: str):
        """Yields a dict that holds ``jobs`` and ``tasks`` once the block
        ends."""
        self._n += 1
        group = f"perfbench-{name}-{self._n}"
        before = self._ungrouped()
        self.sc.setJobGroup(group, name)
        out = {"jobs": 0, "tasks": 0}
        try:
            yield out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            ids = set(self.tracker.getJobIdsForGroup(group))
            ids |= self._ungrouped() - before
            out["jobs"] = len(ids)
            out["tasks"] = self._tasks(ids)

    def _tasks(self, job_ids) -> int:
        n = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                if st is not None:
                    n += st.numCompletedTasks
        return n


class ReferenceJob:
    """A fixed Spark job that runs no engine code, of the same shape as a
    query: a few thousand generated rows grouped by key through
    ``applyInPandas`` (a shuffle, then a pandas function per group in the
    Python workers) and a small result collected on the driver.  The
    workloads time it next to each operation and report the operation's
    latency in units of it.  The speed of a shared host drifts by a third
    within minutes; that drift moves the job and the operation alike,
    while a change to the engine moves only the operation."""

    ROWS = 4096
    KEYS = 5

    def __init__(self, spark):
        from pyspark.sql import functions as F

        self.df = spark.range(0, self.ROWS, numPartitions=spark.sparkContext.defaultParallelism) \
            .withColumn("key", F.col("id") % self.KEYS)
        self.expected = sorted((k, len(range(k, self.ROWS, self.KEYS))) for k in range(self.KEYS))

        def count(pdf):  # nested, so it is pickled by value: the workers
            import pandas as pd  # cannot import this module

            return pd.DataFrame({"key": [int(pdf["key"].iloc[0])], "n": [len(pdf)]})

        self._count = count

    def time(self) -> float:
        """Runs the job once; returns its latency in seconds."""
        t0 = time.perf_counter()
        got = self.df.groupBy("key").applyInPandas(self._count, "key long, n long").collect()
        dt = time.perf_counter() - t0
        if sorted((r["key"], r["n"]) for r in got) != self.expected:
            raise RuntimeError(f"reference job returned {got}")
        return dt


# the tables of a committed index
TABLES = ("postings", "doc_map", "doc_stats", "lexicon")


def index_sizes(index_dir: str) -> dict:
    """{table: bytes} for every top-level index table, plus ``total`` and
    ``files`` (data files only: Hadoop ``.crc`` checksums and ``_SUCCESS``
    markers are not index contents)."""
    sizes: Dict[str, int] = {}
    files = 0
    for entry in sorted(os.listdir(index_dir)):
        if entry == "_staging":
            continue
        path = os.path.join(index_dir, entry)
        n = 0
        for root, _dirs, names in os.walk(path):
            for name in names:
                if name.endswith(".crc") or name == "_SUCCESS":
                    continue
                n += os.path.getsize(os.path.join(root, name))
                files += 1
        if not os.path.isdir(path):
            n = os.path.getsize(path)
            files += 1
        sizes[entry] = n
    sizes["total"] = sum(v for k, v in sizes.items())
    sizes["files"] = files
    return sizes


class Tracer:
    """Spans (name, start, end, parent, op) around the benchmark's calls
    into the engine.  Disabled tracers cost one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, op: Optional[str] = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def layer_self_time(self, layers) -> Dict[str, float]:
        """Self time per layer: span durations minus their children's,
        summed by the longest layer name the span name starts with."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        ordered = sorted(layers, key=len, reverse=True)
        out = {layer: 0.0 for layer in layers}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            for layer in ordered:
                if s["name"] == layer or s["name"].startswith(layer + "."):
                    out[layer] += (s["end"] - s["start"]) - child[i]
                    break
        return out

    def overhead_s(self) -> float:
        """Estimated cost of the spans recorded: the measured cost of one
        empty span times the span count."""
        probe = Tracer(True)
        n = 2000
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n * len(self.spans)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)
