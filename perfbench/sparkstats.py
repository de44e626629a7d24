"""Read Spark's own SQL and task metrics after an action, from outside.

Nothing here changes a plan. After each action the benchmark asks Spark's
status stores what the executed plans reported:

* SQL plan metrics (scan, Exchange, MapInArrow, Sort, write command) come
  from the SQL status store. Spark keeps them only as display strings
  (``"total (min, med, max ...)\\n7.6 s (...)"``), so values carry the
  precision Spark prints: milliseconds for times, one decimal for sizes.
* Per-task run-time quantiles of the extraction stage come from
  ``statusStore().taskSummary``, which works with the UI disabled.
"""
from __future__ import annotations

import re

_NUM_RX = re.compile(r'^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)')
_SCALE = {
    '': 1.0, 'B': 1.0, 'KiB': 1024.0, 'MiB': 1024.0 ** 2,
    'GiB': 1024.0 ** 3, 'TiB': 1024.0 ** 4,
    'ms': 1e-3, 's': 1.0, 'm': 60.0, 'h': 3600.0,
}


def parse_metric(text: str) -> float:
    """Spark's display string -> number in base units (bytes, seconds,
    count); the total is the first value after the header line"""
    line = text.split('\n', 1)[1] if '\n' in text else text
    m = _NUM_RX.match(line)
    if not m or m.group(2) not in _SCALE:
        raise ValueError(f'unparsed Spark metric value: {text!r}')
    return float(m.group(1).replace(',', '')) * _SCALE[m.group(2)]


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class SparkStats:
    """status-store reader bound to one live SparkSession"""

    def __init__(self, spark):
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gw = spark.sparkContext._gateway

    def _drain(self):
        # the status stores are fed by the asynchronous listener bus
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def mark(self) -> int:
        """number of SQL executions so far; pass to ``executions_since``"""
        self._drain()
        return self._sql.executionsCount()

    def executions_since(self, mark: int) -> list:
        self._drain()
        execs = _seq(self._sql.executionsList())
        return [e.executionId() for e in execs[mark:]]

    def plan_metrics(self, exec_ids) -> dict:
        """{(node name, metric name): summed value} over the executions"""
        out: dict = {}
        for eid in exec_ids:
            values = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                name = node.name().strip()
                for metric in _seq(node.metrics()):
                    got = values.get(metric.accumulatorId())
                    if not got.isDefined():
                        continue
                    key = (name, metric.name())
                    out[key] = out.get(key, 0.0) + parse_metric(got.get())
        return out

    def task_skew(self, exec_ids) -> float:
        """max / median task run time of the busiest stage (the extraction
        stage: it holds the kernel) over the executions"""
        store = self._jsc.statusStore()
        best = None
        for eid in exec_ids:
            stages = self._sql.execution(eid).get().stages()
            it = stages.iterator()
            while it.hasNext():
                sid = it.next()
                try:
                    data = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage skipped by AQE
                    continue
                busy = data.executorRunTime()
                if best is None or busy > best[0]:
                    best = (busy, sid, data.attemptId())
        if best is None:
            raise RuntimeError('no completed stage to read task skew from')
        qs = self._gw.new_array(self._gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = store.taskSummary(best[1], best[2], qs)
        run = summary.get().executorRunTime()
        p50, pmax = run.apply(0), run.apply(1)
        return pmax / p50 if p50 > 0 else float(pmax > 0)


def pick(metrics: dict, node_prefix: str, metric: str) -> float:
    """sum of one metric over every plan node whose name starts with
    ``node_prefix``; 0.0 when no such node ran"""
    return sum(v for (node, name), v in metrics.items()
               if node.startswith(node_prefix) and name == metric)
