"""Single-core probes of the rulebase, compiler, matcher and walker layers,
run in the driver process (and one fresh interpreter) over a sample of the
workload's own text."""

from __future__ import annotations

import os
import subprocess
import sys
import time

import cloudpickle
import pandas as pd

from perfbench.harness import ROOT, WORK

_UNPICKLE = """
import pickle, sys, time
import liblognorm_spark.compiler.compiler
data = open(sys.argv[1], "rb").read()
t0 = time.perf_counter()
pickle.loads(data)
print(time.perf_counter() - t0)
"""


def load_and_compile(rulebase_text: str):
    """Seconds of Rulebase.from_string and of compile_rulebase; returns
    (load_s, compile_s, compiled rulebase)."""
    from liblognorm_spark.compiler.compiler import compile_rulebase
    from liblognorm_spark.rulebase.loader import Rulebase

    t0 = time.perf_counter()
    rb = Rulebase.from_string(rulebase_text)
    t1 = time.perf_counter()
    crb = compile_rulebase(rb)
    return t1 - t0, time.perf_counter() - t1, crb


def shipping(crb) -> dict:
    """Bytes of the compiled rulebase as cloudpickle ships it inside the
    match UDF, and seconds to unpickle it in a fresh interpreter (what a
    new task pays before its first batch)."""
    data = cloudpickle.dumps(crb)
    path = WORK / "tmp" / "crb.pkl"
    path.write_bytes(data)
    env = dict(os.environ, PYTHONPATH=str(ROOT))
    out = subprocess.run([sys.executable, "-c", _UNPICKLE, str(path)], env=env,
                         capture_output=True, text=True, timeout=120, check=True)
    path.unlink()
    return {"compiler.pickled_bytes": len(data),
            "compiler.unpickle_s": float(out.stdout.strip().splitlines()[-1])}


def matcher_and_walker(crb, texts: list[str]) -> dict:
    """match_batch on one Arrow-batch-sized sample: first batch on a
    freshly unpickled rulebase, then a warm batch; normalize_message over
    the sample's unparsed rows."""
    from liblognorm_spark.runtime.matcher import match_batch
    from liblognorm_spark.runtime.walker import normalize_message

    series = pd.Series(texts, dtype=object)
    fresh = cloudpickle.loads(cloudpickle.dumps(crb))
    t0 = time.perf_counter()
    match_batch(fresh, series)
    first = time.perf_counter() - t0
    t0 = time.perf_counter()
    out = match_batch(fresh, series)
    warm = time.perf_counter() - t0
    unparsed_mask = out["unparsed_data"].notna().to_numpy()
    unparsed = [t for t, u in zip(texts, unparsed_mask) if u]
    walker_rps = 0.0
    if unparsed:
        rules = crb.ordered_rules
        t0 = time.perf_counter()
        for t in unparsed:
            normalize_message(rules, t, crb.types, crb.annotations)
        walker_rps = len(unparsed) / (time.perf_counter() - t0)
    return {
        "matcher.first_batch_rows_per_s": len(texts) / first,
        "matcher.warm_batch_rows_per_s": len(texts) / warm,
        "matcher.json_bytes": int(sum(len(s) for s in out["fields_json"] if s)),
        "matcher.unparsed_rows": int(unparsed_mask.sum()),
        "walker.rows_per_s": walker_rps,
    }


def prefix_repeat_share(texts, width: int = 16) -> float:
    """Share of rows whose first ``width`` characters occur in another row."""
    s = pd.Series(texts, dtype=object).str.slice(0, width)
    return float(s.duplicated(keep=False).mean()) if len(s) else 0.0
