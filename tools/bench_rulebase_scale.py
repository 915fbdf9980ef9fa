"""Rulebase-size scaling microbenchmark for the vectorized matcher.

Builds synthetic rulebases of N rules (distinct program-name leading
literals, the shape of real syslog rulebases), a near-miss-heavy workload
(80% matching rows, 20% rows that share a rule's literal prefix but die in
the motif tail — the worst case: every cohort regex runs AND the walker
fallback fires), and prints rows/s per rulebase size.

Run: python tools/bench_rulebase_scale.py [sizes...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

from liblognorm_spark.compiler.compiler import compile_rulebase
from liblognorm_spark.rulebase.loader import Rulebase
from liblognorm_spark.runtime.matcher import match_batch

N_ROWS = 20000


def build_rulebase(n_rules: int) -> str:
    lines = ["version=2"]
    for i in range(n_rules):
        lines.append(
            f"rule=r{i}:prog{i}[%pid:number%]: action %act:word% from %ip:ipv4%"
        )
    return "\n".join(lines) + "\n"


def build_workload(n_rules: int, n_rows: int = N_ROWS, all_match: bool = False) -> pd.Series:
    rows = []
    for j in range(n_rows):
        i = (j * 7919) % n_rules
        if not all_match and j % 5 == 0:  # near-miss: right prefix, bad ip -> unparsed
            rows.append(f"prog{i}[123]: action login from 10.0.0.999")
        else:
            rows.append(f"prog{i}[123]: action login from 10.0.0.{j % 200}")
    return pd.Series(rows, dtype=object)


def main():
    args = [a for a in sys.argv[1:] if a != "--all-match"]
    all_match = "--all-match" in sys.argv  # pure matched-row workload
    sizes = [int(s) for s in args] or [8, 128, 512, 2048]
    for n in sizes:
        crb = compile_rulebase(Rulebase.from_string(build_rulebase(n)))
        texts = build_workload(n, all_match=all_match)
        # warm with one FULL batch: an executor processes hundreds of
        # batches per task, so steady state (dispatch/plan caches hot,
        # repeated-unmatched memo populated) is what the pipeline sees;
        # a 500-row warmup left the first timed rep paying cold caches
        match_batch(crb, texts)
        dt = None  # best-of-3: this host has multi-x run-to-run noise
        for _ in range(3):
            t0 = time.perf_counter()
            out = match_batch(crb, texts)
            d = time.perf_counter() - t0
            dt = d if dt is None else min(dt, d)
        unparsed = int(out["unparsed_data"].notna().sum())
        # Transparency on the cross-batch memos (the warm numbers above
        # replay exactly the prefixes the warm-up populated, i.e. the
        # memo's 100%-hit best case): report the workload's distinct-
        # prefix count, the dispatch-memo population, and a COLD column
        # where every rep first drops the cross-batch memos — the gap
        # between the two columns IS the memo's contribution, and the
        # cold column is the bound for streams whose distinct-prefix set
        # exceeds the 65536-entry memo cap or churns across batches.
        memo_entries = len(getattr(crb, "_dispatch_memo_cache", {}) or {})
        distinct_prefixes = len(
            {t.split("[", 1)[0] for t in texts})  # prog{i} leading literal
        cold = None
        for _ in range(3):
            # drop ALL cross-batch memo state: the dispatch memo, the
            # fallback memo, the fold index, and each rule's prepared
            # fold plan (the dispatch TRIE itself is deliberately kept —
            # it is built once per compile, not per stream).  Before
            # round 6 the fold state survived, so the cold column partly
            # amortized round-5 fold work and over-credited the memo.
            for attr in ("_dispatch_memo_cache", "_fb_memo", "_fold_idx"):
                if hasattr(crb, attr):
                    delattr(crb, attr)
            for cr in crb.rules:
                if hasattr(cr, "_fold_ent"):
                    delattr(cr, "_fold_ent")
            t0 = time.perf_counter()
            match_batch(crb, texts)
            d = time.perf_counter() - t0
            cold = d if cold is None else min(cold, d)
        print(
            f"rules={n:5d} rows={len(texts)} wall={dt:6.2f}s "
            f"rows/s={len(texts) / dt:9.0f} cold_rows/s={len(texts) / cold:9.0f} "
            f"distinct_prefixes={distinct_prefixes} memo_entries={memo_entries} "
            f"unparsed={unparsed}"
        )


if __name__ == "__main__":
    main()
