"""Measurement from outside the program: spans around calls into each
layer, Spark's own plan metrics and job counts, and worker memory read
from ``/proc``.

Nothing here reaches inside ``spark_xml_spark``. Spans are kept in memory
and written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    """Spans at layer boundaries plus plan-metric and job-count totals.

    A disabled tracer records nothing; the untraced (end-to-end) runs use
    one, so their timed sections carry no tracing work."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self.plan: Dict[str, float] = {}
        self.actions = 0
        self.jobs = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def mean_duration(self, name: str) -> float:
        d = [s["end"] - s["start"] for s in self.spans
             if s["name"] == name and s["end"] is not None]
        return sum(d) / len(d) if d else 0.0

    @contextmanager
    def action(self, spark, name: str):
        """One Spark action: a span plus, when tracing, a job group whose
        job count is read back from the status tracker."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        group = f"xmlbench-{len(self.spans)}"
        sc.setJobGroup(group, name)
        try:
            with self.span("action." + name):
                yield
        finally:
            self.actions += 1
            self.jobs += len(sc.statusTracker().getJobIdsForGroup(group))
            sc._jsc.clearJobGroup()

    def add_plan(self, df) -> None:
        """Fold the SQL metrics of ``df``'s executed plan into the totals."""
        if self.enabled:
            for key, value in plan_metrics(df).items():
                self.plan[key] = self.plan.get(key, 0.0) + value

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "plan": self.plan, **extra}, fh,
                      indent=1)


# ------------------------------------------------------------ plan metrics

# (node kind, metric key) -> output key. Timing metrics
# are milliseconds, ``nsTiming`` ones nanoseconds; both are reported in ms.
_WANTED = {
    ("BatchScan xml-graft", "numOutputRows"): "scan.rows_out",
    ("BatchScan xml-graft", "pythonDataReceived"): "scan.bytes_to_jvm",
    ("ArrowEvalPython", "pythonTotalTime"): "arrow_udf.total_ms",
    ("ArrowEvalPython", "pythonInitTime"): "arrow_udf.init_ms",
    ("ArrowEvalPython", "pythonDataSent"): "arrow_udf.data_sent",
    ("ArrowEvalPython", "pythonDataReceived"): "arrow_udf.data_received",
    ("WholeStageCodegen", "pipelineTime"): "exec.pipeline_ms",
    ("HashAggregate", "aggTime"): "exec.agg_ms",
    ("Exchange", "shuffleBytesWritten"): "shuffle.bytes_written",
    ("Exchange", "shuffleRecordsWritten"): "shuffle.records_written",
    ("Exchange", "shuffleWriteTime"): "shuffle.write_ms",
}


def _node_kind(node_name: str) -> str:
    if node_name.startswith("BatchScan xml-graft"):
        return "BatchScan xml-graft"
    if node_name.startswith("WholeStageCodegen"):
        return "WholeStageCodegen"
    return node_name


def _plan_children(node) -> list:
    """Children including the ones adaptive execution hides: the final
    plan of an ``AdaptiveSparkPlan`` and the plan inside every
    ``*QueryStage`` (``ResultQueryStage`` too)."""
    cls = node.getClass().getSimpleName()
    out = []
    if cls == "AdaptiveSparkPlanExec":
        out.append(node.executedPlan())
    elif cls.endswith("QueryStageExec"):
        out.append(node.plan())
    kids = node.children()
    out.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _metric_values(node) -> Dict[str, tuple]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        out[kv._1()] = (m.value(), m.metricType())
    return out


def plan_metrics(df) -> Dict[str, float]:
    """Walk ``df``'s executed plan through py4j and total the metrics in
    ``_WANTED``, plus the xml-graft scan's input partition count."""
    totals: Dict[str, float] = {}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = _node_kind(node.nodeName())
        metrics = _metric_values(node)
        for (want_kind, key), out in _WANTED.items():
            if kind == want_kind and key in metrics:
                value, mtype = metrics[key]
                if mtype == "nsTiming":
                    value = value / 1e6
                totals[out] = totals.get(out, 0.0) + float(value)
        if kind == "BatchScan xml-graft":
            totals["scan.partitions"] = (
                totals.get("scan.partitions", 0.0)
                + float(node.inputPartitions().size()))
        todo.extend(_plan_children(node))
    return totals


# --------------------------------------------------------- worker memory


def descendants(root: int) -> List[int]:
    """Every live process below ``root`` in the process tree."""
    children: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: the ppid follows its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        out.append(pid)
    return out


def _python_descendants(root: int) -> List[int]:
    out = []
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv0 = fh.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if b"python" in os.path.basename(argv0):
            out.append(pid)
    return out


def _peak_rss_kb(pid: int) -> Optional[int]:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


class WorkerMemory:
    """Samples the peak RSS (``VmHWM``) of every Python process this run
    started through Spark: the worker daemon's forks, the data-source
    planners and the streaming source runner. Workers are reused across
    tasks, so the kernel's high-water mark catches peaks between samples."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def sample(self) -> None:
        for pid in _python_descendants(os.getpid()):
            kb = _peak_rss_kb(pid)
            if kb is not None and kb > self.peak_kb:
                self.peak_kb = kb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024.0
