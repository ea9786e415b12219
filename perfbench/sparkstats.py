"""Engine counters read from Spark's in-process status stores.

Standard library only. Two sources, both read from the benchmark's own
driver process through the py4j gateway, so the program under test is
not instrumented:

- the SQL status store (``spark._jsparkSession.sharedState().statusStore()``):
  per-execution plan graph (``planGraph(id)``) and the formatted values of
  every plan-node metric (``executionMetrics(id)``);
- the core status store (``sc._jsc.sc().statusStore()``): cumulative
  executor totals (``executorList(true)``) whose deltas around a query
  give GC time, shuffle bytes and failed tasks.

Both stores are filled by the listener bus even with ``spark.ui.enabled``
set to false.
"""

from __future__ import annotations

import re

_UNIT = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4, "PiB": 1024.0 ** 5, "EiB": 1024.0 ** 6,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?\s*$")


def parse_metric(text: str) -> float:
    """Value of one formatted Spark SQL metric, in seconds, bytes or rows.

    Handles the shapes Spark prints: a bare count (``30,112``), a value
    with a unit (``3.2 s``, ``518 ms``, ``960.2 KiB``), the per-task
    summary ``total (min, med, max (stageId: taskId))\\n<total> (<min>,
    <med>, <max> (stage s: task t))``, of which the total is taken, and
    the per-task average ``(min, med, max (stageId: taskId)):\\n(<min>,
    <med>, <max> (stage s: task t))``, of which the median is taken.
    Raises ValueError on anything else.
    """
    s = text.strip()
    if s.startswith(("total", "(min")):
        lines = s.split("\n", 1)
        if len(lines) < 2:
            raise ValueError(f"summary metric without a value line: {text!r}")
        s = lines[1].split("(", 1)[0] if s.startswith("total") else lines[1].lstrip("(").split(",")[1]
    m = _VALUE.match(s)
    if not m:
        raise ValueError(f"unparsable Spark metric: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return number
    if unit not in _UNIT:
        raise ValueError(f"unknown unit {unit!r} in Spark metric {text!r}")
    return number * _UNIT[unit]


# plan-node metric name -> counter it feeds. Node names are only used to
# tell apart the metrics that several operators share ("number of output
# rows", "duration").
_BY_METRIC = {
    "scan time": "scan_s",
    "size of files read": "scan_bytes",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "arrow_to_python_bytes",
    "data returned from Python workers": "arrow_from_python_bytes",
    "time to collect": "broadcast_collect_s",
    "time to build": "broadcast_build_s",
    "spill size": "spill_bytes",
}
# every plan-node metric this reader uses
_READ = set(_BY_METRIC) | {"duration", "number of output rows", "records read",
                           "shuffle records written"}
_JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


class StatusReader:
    """Reads per-query deltas of the engine counters.

    Call :meth:`mark` before a query and :meth:`since` after it: the
    result sums the plan-node metrics of every SQL execution started in
    between and the executor-total deltas over the same interval.
    """

    def __init__(self, spark):
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = spark.sparkContext._jsc.sc().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def _flush(self) -> None:
        self._bus.waitUntilEmpty(60_000)

    def _executors(self) -> dict:
        tot = {"gc_s": 0.0, "shuffle_read_bytes": 0.0, "shuffle_write_bytes": 0.0, "tasks_failed": 0.0}
        for e in _seq(self._core.executorList(True)):
            tot["gc_s"] += e.totalGCTime() / 1000.0
            tot["shuffle_read_bytes"] += float(e.totalShuffleRead())
            tot["shuffle_write_bytes"] += float(e.totalShuffleWrite())
            tot["tasks_failed"] += float(e.failedTasks())
        return tot

    def _last_execution(self) -> int:
        ids = [x.executionId() for x in _seq(self._sql.executionsList())]
        return max(ids, default=-1)

    def mark(self):
        self._flush()
        return self._last_execution(), self._executors()

    def since(self, mark) -> dict:
        last, before = mark
        self._flush()
        out = {k: v - before[k] for k, v in self._executors().items()}
        for key in list(_BY_METRIC.values()) + ["codegen_s", "join_rows", "python_rows_in", "python_rows_out"]:
            out[key] = 0.0
        for ex in _seq(self._sql.executionsList()):
            if ex.executionId() > last:
                self._add_execution(ex.executionId(), out)
        return out

    def _add_execution(self, eid: int, out: dict) -> None:
        graph = self._sql.planGraph(eid)
        values = self._sql.executionMetrics(eid)
        nodes = {n.id(): n for n in _seq(graph.allNodes())}
        metrics = {}
        for nid, node in nodes.items():
            got = {}
            for pm in _seq(node.metrics()):
                if pm.name() not in _READ:
                    continue
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    got[pm.name()] = parse_metric(v.get())
            metrics[nid] = got
        # edges run child -> parent
        children = {}
        for e in _seq(graph.edges()):
            children.setdefault(e.toId(), []).append(e.fromId())
        for nid, node in nodes.items():
            name, got = node.name(), metrics[nid]
            for mname, val in got.items():
                if mname in _BY_METRIC:
                    out[_BY_METRIC[mname]] += val
            if name.startswith("WholeStageCodegen"):
                out["codegen_s"] += got.get("duration", 0.0)
            elif name.startswith(_JOIN_NODES):
                out["join_rows"] += got.get("number of output rows", 0.0)
            if "time to run Python workers" in got:
                out["python_rows_out"] += got.get("number of output rows", 0.0)
                out["python_rows_in"] += self._rows_below(nid, children, metrics)

    @staticmethod
    def _rows_below(nid, children, metrics) -> float:
        """Rows fed into a node: the nearest descendants that count rows
        (operators without a row counter, such as Sort or Project, pass
        their input through unchanged)."""
        total, todo = 0.0, list(children.get(nid, []))
        while todo:
            c = todo.pop()
            got = metrics.get(c, {})
            if "number of output rows" in got:
                total += got["number of output rows"]
            elif "records read" in got:
                total += got["records read"]
            elif "shuffle records written" in got:
                total += got["shuffle records written"]
            else:
                todo.extend(children.get(c, []))
        return total
