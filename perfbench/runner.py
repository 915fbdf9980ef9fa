"""One benchmark run of one workload in an already started session:
repeated set-up, warm-up, timed repetitions with tracing off for
``seconds``, in a traced run the traced repetitions, layer probes, plan
metrics and the span file, and last the once-per-run checks."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import traceback

from perfbench import harness
from perfbench.harness import CORES, ROOT, WORK, median
from perfbench.metrics import END_TO_END, PER_LAYER, REPORT_ONLY
from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS

SETUP_REPS = 3
COVERAGE_MIN = 0.9


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def run_workload(spark, session_start_s: float, name: str, seed: int, seconds: float,
                 trace: bool, smoke: bool = False) -> tuple[dict, dict]:
    """Returns (report, result): the full record of the run and the
    contract line (correct/attempted/failed/metrics)."""
    run_id = f"{name}-{seed}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=trace)
    wl = WORKLOADS[name](spark, seed, smoke, tracer)
    report: dict = {"workload": name, "why": wl.why, "run_id": run_id,
                    "smoke": smoke, "errors": []}

    with tracer.span("setup"):
        setup_times = [_timed(wl.setup)[0] for _ in range(1 if smoke else SETUP_REPS)]
        tracer.enabled = False
        warm_s, (attempted, failed) = _timed(wl.warm_up)
        tracer.enabled = trace

    def one_rep(walls: list):
        nonlocal attempted, failed
        t0 = time.perf_counter()
        try:
            with tracer.span("job"):
                a, f = wl.job()
            walls.append(time.perf_counter() - t0)
            a2, f2 = wl.after_job()
            attempted += a + a2
            failed += f + f2
        except Exception:  # an action that raised is a failed operation
            attempted += 1
            failed += 1
            report["errors"].append(traceback.format_exc(limit=5))

    # untraced repetitions: the end-to-end metrics.  Memory is sampled
    # over these only, from a collected heap, so set-up garbage does not
    # decide the peak.
    tracer.enabled = False
    spark._jvm.System.gc()
    sampler = harness.RssSampler(harness.jvm_pid()).start()
    walls: list[float] = []
    deadline = time.perf_counter() + seconds
    while (len(walls) + len(report["errors"]) < wl.min_reps
           or (time.perf_counter() < deadline and not trace and not report["errors"])):
        one_rep(walls)
    peak_rss = sampler.stop()

    wall = median(walls)
    e2e = {
        "setup_s": session_start_s + median(setup_times) + warm_s,
        "docs_per_s": wl.rows / wall if wall else 0.0,
        "wall_s": wall,
    }
    report["end_to_end"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    report["end_to_end"]["peak_rss_mb"] = {"value": peak_rss / 2**20,
                                           "unit": REPORT_ONLY["peak_rss_mb"]}
    tail = harness.percentile_with_tail(walls)
    report["wall_s_samples"] = {
        "n": len(walls), "values": walls, "median": wall,
        "tail_percentile": None if tail is None else {"p": tail[0], "value": tail[1]},
    }
    report["setup_parts_s"] = {"session_start": session_start_s,
                               "input_and_rulebase": setup_times, "warm_up": warm_s}

    result_metrics = {k: v for k, v in report["end_to_end"].items() if k in END_TO_END}
    if trace:
        # traced repetitions interleaved with untraced references, in
        # alternating order: their difference is the tracing overhead
        reference: list[float] = []
        traced: list[float] = []
        for i in range(wl.traced_reps):
            for traced_now in ((False, True) if i % 2 == 0 else (True, False)):
                tracer.enabled = traced_now
                if traced_now:
                    wl.plan_totals = {}  # keep the last traced repetition's plan metrics
                one_rep(traced if traced_now else reference)
        tracer.enabled = True
        with tracer.span("probes"):
            layer, table = wl.layer_metrics()
            if name == "pages_mixed":
                layer["scaling_eff_1_to_4"] = scaling_efficiency(
                    seed, smoke, wl.rows / wall if wall else 0.0)
        traced_wall = median(traced)
        layer.update({k: v for k, v in wl.plan_totals.items() if k in PER_LAYER})
        layer["session.start_s"] = session_start_s
        layer["runtime.peak_rss_mb"] = peak_rss / 2**20
        layer["trace.wall_s"] = traced_wall
        layer["trace.overhead_s"] = traced_wall - median(reference)
        accounted = sum(table.values())
        layer["trace.unaccounted_s"] = traced_wall - accounted
        layer["trace.layer_coverage"] = accounted / traced_wall if traced_wall else 0.0
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        span_path = WORK / f"spans-{run_id}.jsonl"
        tracer.dump(str(span_path))
        problems = tracer.check()
        # the coverage rule is for the full-size pipeline workloads; smoke
        # inputs are too small for the prefix differences to resolve
        if name != "curation_ops" and not smoke and layer["trace.layer_coverage"] < COVERAGE_MIN:
            problems.append(f"layer table covers {layer['trace.layer_coverage']:.3f} "
                            f"of traced wall_s, below {COVERAGE_MIN}")
        report["per_layer"] = metrics
        report["layer_table_s"] = {**table, "unaccounted": layer["trace.unaccounted_s"]}
        report["span_file"] = str(span_path.relative_to(ROOT))
        report["span_check"] = {"ok": not problems, "problems": problems,
                                "spans": len(tracer.spans)}
        result_metrics = metrics
    a, f = wl.once_checks()
    attempted += a
    failed += f
    report["end_to_end"]["failed_ops_share"] = {
        "value": failed / max(attempted, 1), "unit": REPORT_ONLY["failed_ops_share"]}
    report["properties"] = wl.properties() if trace else {}
    report["confs"] = harness.spark_confs(spark)
    wl.release()
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": result_metrics}
    report["correct"] = failed == 0
    report["attempted"] = attempted
    report["failed"] = failed
    return report, result


def scaling_efficiency(seed: int, smoke: bool, docs_per_s_4: float) -> float:
    """docs/s at local[4] / (4 x docs/s at local[1]) on the same input; the
    one-core side runs in a sequential child process with its own JVM."""
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--scaling-child",
           "--workload", "pages_mixed", "--seed", str(seed), "--seconds", "0", "--trace", "0"]
    if smoke:
        cmd.append("--smoke")
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=150, check=True)
    one_core = json.loads(out.stdout.strip().splitlines()[-1])["docs_per_s"]
    return docs_per_s_4 / (CORES * one_core) if one_core else 0.0


def scaling_child(seed: int, smoke: bool) -> dict:
    """The one-core side of scaling_eff_1_to_4: median docs/s of two
    repetitions after a warm-up, at local[1]."""
    spark, _ = harness.start_session(cores=1)
    try:
        wl = WORKLOADS["pages_mixed"](spark, seed, smoke, Tracer("scaling", False))
        wl.setup()
        wl.job()
        walls = [_timed(wl.job)[0] for _ in range(2)]
        wl.release()
        return {"docs_per_s": wl.rows / median(walls), "walls": walls}
    finally:
        harness.stop_session(spark)
