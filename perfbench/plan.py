"""Plan-node metrics of finished SQL executions, read from the SQL status
store (works with the UI disabled).  Values come from each execution's
final plan graph, so AQE re-plans are attributed to the execution that
ran them."""

from __future__ import annotations

import re

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
          "TiB": 2.0**40}


def parse_value(text: str) -> float:
    """'9.6 s', '2.4 MiB', '100,000' or the multi-line
    'total (min, med, max ...)\\n9.6 s (...)' form → a float in base
    units (seconds, bytes, count)."""
    line = text.strip().split("\n")[-1].split(" (")[0].split()
    num = float(line[0].replace(",", ""))
    return num * _UNITS[line[1]] if len(line) > 1 else num


def node_kind(name: str) -> str:
    """'WholeStageCodegen (3)' → 'WholeStageCodegen', 'Scan parquet ' →
    'Scan parquet'."""
    return re.sub(r"\s*\(\d+\)$", "", name).strip()


class PlanReader:
    """Reads the status store of one SparkSession; ``last_id`` before an
    action and ``collect(last_id)`` after it give that action's metrics."""

    def __init__(self, spark):
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def _executions(self):
        return list(self._conv.asJava(self._store.executionsList()))

    def last_id(self) -> int:
        self._drain()
        return max((e.executionId() for e in self._executions()), default=-1)

    def _drain(self):
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def collect(self, after_id: int) -> dict[str, float]:
        """{'<node kind>|<metric name>': summed value} over every
        execution with id > after_id."""
        self._drain()
        out: dict[str, float] = {}
        for ex in self._executions():
            eid = ex.executionId()
            if eid <= after_id:
                continue
            values = self._conv.asJava(self._store.executionMetrics(eid))
            graph = self._store.planGraph(eid)
            for node in self._conv.asJava(graph.allNodes()):
                kind = node_kind(node.name())
                for m in self._conv.asJava(node.metrics()):
                    v = values.get(m.accumulatorId())
                    # averages carry no total and do not add up
                    if v is None or m.metricType() == "average":
                        continue
                    key = f"{kind}|{m.name()}"
                    out[key] = out.get(key, 0.0) + parse_value(v)
        return out


_PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "BatchEvalPython")


def layer_metrics(raw: dict[str, float]) -> dict[str, float]:
    """Per-layer sums (task-seconds / bytes / counts) from a ``collect``."""

    def total(kinds, metric):
        return sum(v for k, v in raw.items()
                   if k.split("|")[0].startswith(kinds) and k.split("|")[1] == metric)

    return {
        "python.boot_s": total(_PYTHON_NODES, "time to start Python workers"),
        "python.init_s": total(_PYTHON_NODES, "time to initialize Python workers"),
        "python.run_s": total(_PYTHON_NODES, "time to run Python workers"),
        "arrow.sent_bytes": total(_PYTHON_NODES, "data sent to Python workers"),
        "arrow.recv_bytes": total(_PYTHON_NODES, "data returned from Python workers"),
        "jvm.codegen_s": total(("WholeStageCodegen",), "duration"),
        "scan.time_s": total(("Scan",), "scan time"),
        "scan.bytes": total(("Scan",), "size of files read"),
        "exchange.shuffle_bytes": total(("Exchange",), "shuffle bytes written"),
        "exchange.records": total(("Exchange",), "shuffle records written"),
    }
