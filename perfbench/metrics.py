"""Every metric the benchmark reports, with its unit.

``END_TO_END`` and ``PER_LAYER`` are the metrics BENCHMARK.json gates or
records; the self-test checks that the two agree.  ``REPORT_ONLY`` metrics
appear in the report line of every run but not in the final result line:
``failed_ops_share`` is 0 on a correct run (the result line carries it as
``failed`` / ``attempted``), and ``peak_rss_mb`` varies by half between
seeds -- the driver JVM's heap (spark.driver.memory 64g) grows with GC
timing -- so it is gated nowhere; the traced run records it per layer as
``runtime.peak_rss_mb``.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "wall_s": "s",
}

REPORT_ONLY = {
    "peak_rss_mb": "MB",
    "failed_ops_share": "ratio",
}

FUNCTION_OPS = (
    "exact_dedup",
    "minhash_pairs",
    "duplicate_spans",
    "semdedup",
    "bm25",
    "ann_batch",
    "text_stats",
)

PER_LAYER = {
    "session.start_s": "s",
    "runtime.peak_rss_mb": "MB",
    "rulebase.load_s": "s",
    "compiler.compile_s": "s",
    "compiler.cohorts": "count",
    "compiler.pickled_bytes": "count",
    "compiler.unpickle_s": "s",
    "matcher.first_batch_rows_per_s": "rows/s",
    "matcher.warm_batch_rows_per_s": "rows/s",
    "matcher.json_bytes": "count",
    "matcher.unparsed_rows": "count",
    "walker.rows_per_s": "rows/s",
    "arrow_eval.python_total_s": "s",
    "arrow_eval.python_boot_s": "s",
    "arrow_eval.python_init_s": "s",
    "arrow_eval.bytes_sent": "bytes",
    "arrow_eval.bytes_received": "bytes",
    "arrow_eval.rows_received": "count",
    "pipeline.build_s": "s",
    "pipeline.scan_s": "s",
    "pipeline.parse_s": "s",
    "pipeline.enrich_route_s": "s",
    "pipeline.aggregate_s": "s",
    "pipeline.write_s": "s",
    "pipeline.files_written": "count",
    "pipeline.bytes_written": "bytes",
    "pipeline.partition_rows_max_over_median": "ratio",
    "scaling_eff_1_to_4": "ratio",
    "broadcast.build_s": "s",
    "broadcast.collect_s": "s",
    "exchange.shuffle_bytes": "bytes",
    "exchange.write_s": "s",
    "hash_agg.peak_memory_bytes": "bytes",
    "hash_agg.avg_probe": "ratio",
    "spill_bytes": "bytes",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.layer_coverage": "ratio",
    "trace.unaccounted_s": "s",
}
for _op in FUNCTION_OPS:
    PER_LAYER[f"functions.{_op}.build_s"] = "s"
    PER_LAYER[f"functions.{_op}.exec_s"] = "s"
    PER_LAYER[f"functions.{_op}.shuffle_bytes"] = "bytes"
    PER_LAYER[f"functions.{_op}.peak_memory_bytes"] = "bytes"
del _op
