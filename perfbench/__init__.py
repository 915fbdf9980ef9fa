"""The repository's benchmark: three seeded workloads over liblognorm_spark
at ``local[4]``, end-to-end metrics from untraced runs and per-layer
metrics, spans and executed-plan metrics from a traced run.

Run ``python3 perfbench/run.py --help`` from the root of a checkout.
"""
