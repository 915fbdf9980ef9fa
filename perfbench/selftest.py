"""Self-test of the benchmark: all three workloads end to end on small
inputs, traced, in one Spark session, with their correctness checks.

    python3 perfbench/selftest.py

Checks that every workload is correct, that every end-to-end, report-only
and per-layer metric appears with its unit, that BENCHMARK.json names the
same end-to-end and per-layer metrics with the same units, that the spans
nest and that the environment and input-property records are complete.
Exits 0 when all hold.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

ENV_KEYS = {"nproc", "ram_gb", "load_1m_start", "load_1m_end", "seed", "python", "pyspark",
            "pyarrow", "duckdb"}
PROPERTY_KEYS = {"rows", "prefix16_repeat_share", "near_miss_share", "unparsed_share",
                 "rows_per_task", "rows_per_arrow_batch", "rules", "cohorts"}


def check_spec(problems: list) -> None:
    from perfbench.metrics import END_TO_END, PER_LAYER

    with open(harness.ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    for key, table in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        if declared != table:
            problems.append(f"BENCHMARK.json {key} differs from perfbench/metrics.py: "
                            f"{sorted(set(declared.items()) ^ set(table.items()))}")
    names = {w["name"] for w in spec["workloads"]}
    from perfbench.workloads import WORKLOADS

    if not names <= set(WORKLOADS):
        problems.append(f"BENCHMARK.json names unknown workloads {sorted(names - set(WORKLOADS))}")


def check_report(report: dict, result: dict, problems: list) -> None:
    from perfbench.metrics import END_TO_END, PER_LAYER, REPORT_ONLY

    name = report["workload"]
    if not result["correct"] or result["failed"] or not result["attempted"]:
        problems.append(f"{name}: not correct ({result['failed']}/{result['attempted']} failed; "
                        f"{report['errors'][:1]})")
    for group, table in (("end_to_end", {**END_TO_END, **REPORT_ONLY}), ("per_layer", PER_LAYER)):
        got = report.get(group, {})
        for metric, unit in table.items():
            entry = got.get(metric)
            if entry is None or entry.get("unit") != unit or not isinstance(entry.get("value"), float):
                problems.append(f"{name}: {group} metric {metric} missing or without unit {unit}")
    if set(result["metrics"]) != set(PER_LAYER):
        problems.append(f"{name}: traced result line does not carry exactly the per-layer metrics")
    if not report["span_check"]["ok"]:
        problems.append(f"{name}: span check failed: {report['span_check']['problems']}")
    if not (harness.ROOT / report["span_file"]).is_file():
        problems.append(f"{name}: span file {report['span_file']} missing")
    missing = PROPERTY_KEYS - set(report["properties"])
    if missing:
        problems.append(f"{name}: input properties missing {sorted(missing)}")
    if name == "curation_ops" and not all(r["match"] for r in report["properties"]["oracle_checks"].values()):
        problems.append(f"{name}: an operator differs from its DuckDB twin")


def main() -> int:
    harness.require_checkout()
    harness.prepare_process_env()
    from perfbench import runner
    from perfbench.workloads import WORKLOADS

    problems: list[str] = []
    check_spec(problems)
    t0 = time.perf_counter()
    env = harness.environment(seed=7)
    spark, session_s = harness.start_session()
    try:
        for name in WORKLOADS:
            report, result = runner.run_workload(spark, session_s, name, seed=7, seconds=0,
                                                 trace=True, smoke=True)
            check_report(report, result, problems)
            print(f"{name}: correct={result['correct']} attempted={result['attempted']} "
                  f"wall_s={report['end_to_end']['wall_s']['value']:.2f}", flush=True)
    finally:
        harness.stop_session(spark)
    env["load_1m_end"] = os.getloadavg()[0]
    if ENV_KEYS - set(env):
        problems.append(f"environment record missing {sorted(ENV_KEYS - set(env))}")
    print(f"self-test {'passed' if not problems else 'FAILED'} in {time.perf_counter() - t0:.0f} s")
    for p in problems:
        print("  " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
