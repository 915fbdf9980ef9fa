"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Workloads: pages_mixed,
syslog_many_rules, curation_ops (see perfbench/workloads.py; BENCHMARK.json
gates the last two).  The seed makes the inputs; the run sets up three
times (setup_s takes the median), warms up, and times repetitions of the
workload's job with tracing off for ``--seconds`` and at least the
workload's minimum count.  ``--trace 1`` instead adds traced repetitions
interleaved with untraced ones, the layer probes, the executed-plan
metrics and a span file under .perfbench_out/.

Standard output ends with two lines: a report (every metric by name with
its unit, the correctness verdicts, the environment, Spark confs and input
properties) and the result line
``{"correct", "attempted", "failed", "metrics"}`` -- the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.

``--smoke`` shrinks every input for a quick end-to-end pass;
``python3 perfbench/selftest.py`` runs all three workloads that way.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pages_mixed", "syslog_many_rules", "curation_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="small inputs")
    ap.add_argument("--scaling-child", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    harness.require_checkout()
    harness.prepare_process_env()
    from perfbench import runner

    if args.scaling_child:
        print(json.dumps(runner.scaling_child(args.seed, args.smoke)))
        return 0

    env = harness.environment(args.seed)
    spark, session_s = harness.start_session()
    try:
        report, result = runner.run_workload(
            spark, session_s, args.workload, args.seed, args.seconds,
            bool(args.trace), smoke=args.smoke)
    finally:
        harness.stop_session(spark)
    env["load_1m_end"] = os.getloadavg()[0]
    report["environment"] = env
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
