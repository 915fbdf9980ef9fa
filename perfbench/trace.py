"""In-memory spans around the benchmark's calls into each layer, and a
reader for the SQL metrics of the executed (AQE final) Spark plan.

Spans are recorded only in a traced run; with tracing off ``span`` costs
one attribute test.  Each span has an id, its parent's id, a name, the run
id and perf_counter start/end times.  A span's self time is its duration
minus the part of its interval covered by its children.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover.  Children
        of one span run sequentially, so their durations add."""
        child_time = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child_time[s["id"]] for s in self.spans}

    def check(self) -> list[str]:
        """Problems with the span tree: unknown or later parents, children
        outside their parent's interval, negative self times."""
        problems = []
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            if s["end"] is None:
                problems.append(f"span {s['id']} {s['name']} never ended")
                continue
            p = s["parent"]
            if p is None:
                continue
            if p not in by_id or p >= s["id"]:
                problems.append(f"span {s['id']} {s['name']} has invalid parent {p}")
            elif not (by_id[p]["start"] <= s["start"] and s["end"] <= by_id[p]["end"]):
                problems.append(f"span {s['id']} {s['name']} lies outside parent {p}")
        if not problems:
            for sid, st in self.self_times().items():
                if st < 0:
                    problems.append(f"span {sid} {by_id[sid]['name']} self time {st:.6f} < 0")
        return problems

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")


# ---------------------------------------------------------------- plans

# SQLMetric type -> factor to SI units: "timing" is ms, "nsTiming" ns, and an
# "average" metric stores ten times its value
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0, "average": 0.1}


def plan_nodes(df) -> list[dict]:
    """Operators of ``df``'s executed plan with their non-zero SQL metrics,
    in SI units (seconds, bytes, counts).  Descends from the adaptive
    plan into its final physical plan and through query stages and reused
    exchanges.  Read it after the action ran on ``df`` itself (collect,
    or ``queryExecution().toRdd()``)."""
    out: list[dict] = []
    _walk(df._jdf.queryExecution().executedPlan(), out)
    return out


def _walk(node, out: list) -> None:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _walk(node.finalPhysicalPlan(), out)
    if cls.endswith("QueryStageExec"):
        return _walk(node.plan(), out)
    if cls == "ReusedExchangeExec":
        return _walk(node.child(), out)
    metrics = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        v = m.value()
        if v:
            metrics[kv._1()] = v * _SCALE.get(m.metricType(), 1.0)
    out.append({"op": cls, "metrics": metrics})
    children = node.children()
    for i in range(children.size()):
        _walk(children.apply(i), out)


def metric_sum(nodes: list[dict], op: str, name: str) -> float:
    return sum(n["metrics"].get(name, 0.0) for n in nodes if n["op"] == op)


def metric_max(nodes: list[dict], op: str | None, name: str) -> float:
    vals = [n["metrics"].get(name, 0.0) for n in nodes if op is None or n["op"] == op]
    return max(vals, default=0.0)


def operator_metrics(nodes: list[dict]) -> dict[str, float]:
    """The per-operator numbers the benchmark records for one action."""
    return {
        "arrow_eval.python_total_s": metric_sum(nodes, "ArrowEvalPythonExec", "pythonTotalTime"),
        "arrow_eval.python_boot_s": metric_sum(nodes, "ArrowEvalPythonExec", "pythonBootTime"),
        "arrow_eval.python_init_s": metric_sum(nodes, "ArrowEvalPythonExec", "pythonInitTime"),
        "arrow_eval.bytes_sent": metric_sum(nodes, "ArrowEvalPythonExec", "pythonDataSent"),
        "arrow_eval.bytes_received": metric_sum(nodes, "ArrowEvalPythonExec", "pythonDataReceived"),
        "arrow_eval.rows_received": metric_sum(nodes, "ArrowEvalPythonExec", "pythonNumRowsReceived"),
        "broadcast.build_s": metric_sum(nodes, "BroadcastExchangeExec", "buildTime"),
        "broadcast.collect_s": metric_sum(nodes, "BroadcastExchangeExec", "collectTime"),
        "exchange.shuffle_bytes": metric_sum(nodes, "ShuffleExchangeExec", "shuffleBytesWritten"),
        "exchange.write_s": metric_sum(nodes, "ShuffleExchangeExec", "shuffleWriteTime"),
        "hash_agg.peak_memory_bytes": metric_max(nodes, "HashAggregateExec", "peakMemory"),
        "hash_agg.avg_probe": metric_max(nodes, "HashAggregateExec", "avgHashProbe"),
        "spill_bytes": sum(n["metrics"].get("spillSize", 0.0) for n in nodes),
        "peak_memory_bytes": metric_max(nodes, None, "peakMemory"),
    }


def add_metrics(total: dict, part: dict) -> dict:
    """Accumulate per-action operator metrics over several actions: sums
    for times, bytes and rows; maxima for peaks and probe averages."""
    for k, v in part.items():
        if "peak" in k or k.endswith("avg_probe"):
            total[k] = max(total.get(k, 0.0), v)
        else:
            total[k] = total.get(k, 0.0) + v
    return total
