"""Measurement helpers that look at the engine from outside.

* :class:`RssSampler` polls the resident set of every process below this
  one (the Spark JVM and the Python workers it forks).
* :func:`plan_facts` walks an executed physical plan through py4j and
  reports which engine ran, which cached relations were scanned and the
  row counts of cached scans.
* :func:`span_metrics` folds Spark's own event log (task metrics and SQL
  accumulables) into per-span numbers, where a span is one
  ``setJobGroup`` id set by the benchmark around one call.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading

__all__ = ["RssSampler", "plan_facts", "persisted_rdd_ids", "query_phases_ms",
           "read_event_log", "span_metrics"]

_PAGE = os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """High-water mark of the summed RSS of all descendant processes."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        """Stop sampling and wait for the sampler (no-op if never started)."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    def _descendants_rss(self) -> int:
        parent: dict[int, int] = {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(stat.split("/")[2])] = int(fields[1])
        me = os.getpid()
        total = 0
        for pid in parent:
            p = parent[pid]
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p != me:
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_bytes = max(self.peak_bytes, self._descendants_rss())


# ------------------------------------------------------------------ plans

def persisted_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs Spark currently holds as persisted."""
    keys = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return {int(k) for k in keys}


def _children(node) -> list:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    seq = node.children()
    out = [seq.apply(i) for i in range(seq.size())]
    subs = node.subqueries()
    out += [subs.apply(i) for i in range(subs.size())]
    return out


def plan_facts(df) -> dict:
    """Facts about the executed plan of an action already run on ``df``
    (``df.collect()`` executes ``df``'s own query execution, so its plan
    is the one that ran):

    * ``python_udf``: an Arrow or batch Python UDF node ran;
    * ``cached_rdds``: RDD ids of every in-memory relation scanned;
    * ``cached_scans``: ``(output column names, rows read)`` per such scan.
    """
    facts = {"python_udf": False, "cached_rdds": [], "cached_scans": []}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name.startswith(("ArrowEvalPython", "BatchEvalPython")):
            facts["python_udf"] = True
        if name == "InMemoryTableScanExec":
            facts["cached_rdds"].append(
                int(node.relation().cacheBuilder().cachedColumnBuffers().id()))
            out = node.output()
            cols = tuple(out.apply(i).name() for i in range(out.size()))
            rows = node.metrics().get("numOutputRows").get().value()
            facts["cached_scans"].append((cols, int(rows)))
            continue
        stack.extend(_children(node))
    return facts


def query_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations (``analysis``, ``optimization``,
    ``planning``) of ``df``'s query execution, in milliseconds."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            out[name] = float(p.get().durationMs())
    return out


# -------------------------------------------------------------- event log

def read_event_log(event_dir: str) -> list[dict]:
    """All events of the (single) application logged under ``event_dir``.
    Call after ``spark.stop()`` so the log is complete."""
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "events_*"),
                                 recursive=True)):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


_PY_ACCUMS = {
    "time to start Python workers": "python.start_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.run_ms",
    "data sent to Python workers": "python.bytes_to",
    "data returned from Python workers": "python.bytes_from",
}


def span_metrics(events: list[dict], cores: int,
                 walls: dict[str, float]) -> dict[str, dict[str, float]]:
    """Per-span executor, scan, shuffle and Python-boundary numbers.

    ``walls`` maps each span (job group id) to its wall time in seconds;
    tasks of jobs outside these spans are ignored."""
    stage_span: dict[int, str] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group in walls:
                for sid in e["Stage IDs"]:
                    stage_span[sid] = group
    acc: dict[str, dict] = {s: {"durations": [], "m": dict.fromkeys(
        ["exec.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.deser_s",
         "scan.bytes", "scan.rows", "shuffle.write_bytes", "shuffle.read_bytes",
         "shuffle.fetch_wait_s", "spill.bytes", *_PY_ACCUMS.values()], 0.0)}
        for s in walls}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        span = stage_span.get(e["Stage ID"])
        tm = e.get("Task Metrics")
        if span is None or tm is None:
            continue
        info = e["Task Info"]
        a = acc[span]
        m = a["m"]
        a["durations"].append(info["Finish Time"] - info["Launch Time"])
        m["exec.tasks"] += 1
        m["exec.run_s"] += tm["Executor Run Time"] / 1e3
        m["exec.cpu_s"] += tm["Executor CPU Time"] / 1e9
        m["exec.gc_s"] += tm["JVM GC Time"] / 1e3
        m["exec.deser_s"] += tm["Executor Deserialize Time"] / 1e3
        m["scan.bytes"] += tm["Input Metrics"]["Bytes Read"]
        m["scan.rows"] += tm["Input Metrics"]["Records Read"]
        sr = tm["Shuffle Read Metrics"]
        m["shuffle.read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
        m["shuffle.fetch_wait_s"] += sr["Fetch Wait Time"] / 1e3
        m["shuffle.write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        m["spill.bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
        for a_ in info.get("Accumulables", []):
            key = _PY_ACCUMS.get(a_.get("Name"))
            if key is not None and a_.get("Update") is not None:
                m[key] += float(a_["Update"])
    out = {}
    for span, a in acc.items():
        m = dict(a["m"])
        d = a["durations"]
        m["exec.task_skew"] = (max(d) / max(statistics.median(d), 1.0)) if d else 0.0
        m["exec.busy_share"] = m["exec.cpu_s"] / (walls[span] * cores) if walls[span] else 0.0
        out[span] = m
    return out
