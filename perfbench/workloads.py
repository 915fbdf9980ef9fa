"""The three workloads.  Each builds its input from the seed, runs one timed
job per repetition and checks every output; a traced run adds the layer
probes and the input-property record.

* ``pages_mixed`` -- the north-rule ``run_pipeline`` (parse, enrich,
  route, aggregate; collect only) over the Common-Crawl-style pages table
  with the 8-rule routing rulebase plus its ``%msg:rest%`` fallback.
* ``syslog_many_rules`` -- ``run_pipeline`` with ``out_dir`` and a
  128-rule syslog rulebase over syslog lines, 20% of them distinct
  near-misses that end unparsed; sink write plus aggregate.
* ``curation_ops`` -- the training-data operators over a seeded
  documents + embeddings tier, timed as one cold pass (a batch job runs
  each operator once); every output is checked against its DuckDB twin.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd

from perfbench import layers
from perfbench.harness import ARROW_BATCH, CORES, WORK, median
from perfbench.metrics import FUNCTION_OPS
from perfbench.trace import add_metrics, operator_metrics, plan_nodes
from liblognorm_spark.functions.dedup import unpersist_dedup_caches
from tools.check_oracles import value_hash


def _count_rows(df) -> int:
    """Run ``df``'s full executed plan and count its rows inside the JVM:
    a no-op sink (no column pruning, nothing shipped to Python) whose
    SQL metrics stay readable through ``df``'s own query execution."""
    return int(df._jdf.queryExecution().toRdd().count())


class Workload:
    """One workload.  ``setup`` builds the input and rulebase (the runner
    repeats it), ``job`` is one timed repetition returning (actions,
    failed checks), ``after_job`` runs checks that are not timed."""

    name = ""
    rulebase_text: str | None = None
    min_reps = 2
    traced_reps = 2

    def __init__(self, spark, seed: int, smoke: bool, tracer):
        self.spark = spark
        self.seed = seed
        self.smoke = smoke
        self.tracer = tracer
        self.input = None
        self.rows = 0
        self.crb = None
        self.load_samples: list[float] = []
        self.compile_samples: list[float] = []
        self.plan_totals: dict = {}
        if smoke:
            self.traced_reps = 1

    # -- set-up
    def build_input(self):
        raise NotImplementedError

    def setup(self):
        if self.input is not None:
            self.input.unpersist(blocking=True)
        with self.tracer.span("setup.input"):
            self.input = self.build_input()
        if self.rulebase_text is not None:
            with self.tracer.span("setup.rulebase"):
                load_s, compile_s, self.crb = layers.load_and_compile(self.rulebase_text)
            self.load_samples.append(load_s)
            self.compile_samples.append(compile_s)

    def warm_up(self) -> tuple[int, int]:
        a, f = self.job()
        a2, f2 = self.after_job()
        return a + a2, f + f2

    def once_checks(self) -> tuple[int, int]:
        return 0, 0

    def job(self) -> tuple[int, int]:
        raise NotImplementedError

    def after_job(self) -> tuple[int, int]:
        return 0, 0

    def release(self):
        if self.input is not None:
            self.input.unpersist(blocking=True)
            self.input = None

    # -- traced run
    def read_plan(self, df) -> None:
        if self.tracer.enabled:
            with self.tracer.span("trace.plan_read"):
                add_metrics(self.plan_totals, operator_metrics(plan_nodes(df)))

    def layer_metrics(self) -> tuple[dict, dict]:
        """(per-layer metrics, layer table in seconds) for the traced run."""
        return {}, {}

    def properties(self) -> dict:
        return {}


# ---------------------------------------------------------------- pipelines


class _PipelineWorkload(Workload):
    """Shared probes for the two run_pipeline workloads."""

    out_dir: str | None = None
    near_miss_share = 0.0

    def _text_sample(self) -> list[str]:
        pdf = self.input.select("text").limit(ARROW_BATCH).toPandas()
        return pdf["text"].tolist()

    def _action_time(self, label: str, action, build=lambda: None) -> float:
        """Seconds of ``action(build())``, timing only the action.  Each
        probe builds afresh: re-running one DataFrame would reuse its
        finished broadcasts and query stages."""
        df = build()
        with self.tracer.span(label):
            t0 = time.perf_counter()
            action(df)
            return time.perf_counter() - t0

    def _stages(self):
        from liblognorm_spark.pipeline import pipeline as PL

        parsed = PL.parse_stage(self.spark, self.input, self.rulebase_text)
        routed = PL.route_stage(PL.enrich_stage(self.spark, parsed))
        return parsed, routed, PL.aggregate_stage(routed)

    def pipeline_probes(self) -> dict:
        """Driver build time and the noop-sink prefix differences: scan,
        +parse, +enrich/route, +aggregate over the same cached input."""
        from liblognorm_spark.pipeline import pipeline as PL
        from liblognorm_spark.pipeline.metrics import partition_lineage

        load_s, compile_s = median(self.load_samples), median(self.compile_samples)
        build = self._action_time("probe.build", lambda _: self._stages())
        scan = self._action_time("probe.scan", _count_rows, lambda: self.input)
        parse = self._action_time("probe.parse", _count_rows, lambda: self._stages()[0])
        route = self._action_time("probe.enrich_route", _count_rows, lambda: self._stages()[1])
        full = self._action_time("probe.aggregate", lambda df: df.collect(),
                                 lambda: self._stages()[2])
        m = {
            "rulebase.load_s": load_s,
            "compiler.compile_s": compile_s,
            "compiler.cohorts": len(self.crb.cohorts),
            "pipeline.build_s": build - load_s - compile_s,
            "pipeline.scan_s": scan,
            "pipeline.parse_s": parse - scan,
            "pipeline.enrich_route_s": route - parse,
            "pipeline.aggregate_s": full - route,
        }
        with self.tracer.span("probe.partition_lineage"):
            sizes = [r["n_rows"] for r in partition_lineage(self._stages()[0]).collect()]
        m["pipeline.partition_rows_max_over_median"] = max(sizes) / median(sizes)
        self.partitions = len(sizes)
        if self.out_dir:
            target = str(WORK / f"{self.name}_probe_sinks")
            m["pipeline.write_s"] = self._action_time(
                "probe.write", lambda routed: PL.write_sinks(routed, target),
                lambda: self._stages()[1])
            files = [os.path.join(d, f) for d, _, fs in os.walk(target) for f in fs
                     if f.endswith(".parquet")]
            m["pipeline.files_written"] = len(files)
            m["pipeline.bytes_written"] = sum(os.path.getsize(f) for f in files)
            shutil.rmtree(target, ignore_errors=True)
        with self.tracer.span("probe.matcher"):
            texts = self._text_sample()
            m.update(layers.matcher_and_walker(self.crb, texts))
        with self.tracer.span("probe.shipping"):
            m.update(layers.shipping(self.crb))
        self.sample = texts
        return m

    def layer_table(self, m: dict) -> dict:
        table = {
            "rulebase (load)": m["rulebase.load_s"],
            "compiler (compile)": m["compiler.compile_s"],
            "pipeline (driver build)": m["pipeline.build_s"],
        }
        if self.out_dir:
            table["pipeline (write_sinks)"] = m["pipeline.write_s"]
        table.update({
            "scan (cached input)": m["pipeline.scan_s"],
            "parse (ArrowEvalPython + matcher)": m["pipeline.parse_s"],
            "enrich + route (BroadcastExchange)": m["pipeline.enrich_route_s"],
            "aggregate (Exchange + HashAggregate)": m["pipeline.aggregate_s"],
            "tracing (plan read)": median(self.tracer.durations("trace.plan_read")) or 0.0,
        })
        return table

    def layer_metrics(self):
        m = self.pipeline_probes()
        self.unparsed_share = m["matcher.unparsed_rows"] / len(self.sample)
        return m, self.layer_table(m)

    def properties(self) -> dict:
        per_task = self.rows / max(self.partitions, 1)
        return {
            "rows": self.rows,
            "prefix16_repeat_share": layers.prefix_repeat_share(self.sample),
            "prefix16_sample_rows": len(self.sample),
            "near_miss_share": self.near_miss_share,
            "unparsed_share": self.unparsed_share,
            "tasks": self.partitions,
            "rows_per_task": per_task,
            "rows_per_arrow_batch": min(per_task, ARROW_BATCH),
            "arrow_batches_per_task": int(np.ceil(per_task / ARROW_BATCH)),
            "rules": len(self.crb.rules),
            "cohorts": len(self.crb.cohorts),
        }


class PagesMixed(_PipelineWorkload):
    name = "pages_mixed"
    why = "north-rule pipeline on the pages table: matcher cohort fullmatch and JSON encoding"

    def __init__(self, *a):
        super().__init__(*a)
        from liblognorm_spark.pipeline.fixture_rulebase import routing_rulebase

        self.rulebase_text = routing_rulebase()
        self.rows = 20_000 if self.smoke else 400_000
        self.n_parts = CORES if self.smoke else 4 * CORES
        # a seeded doc_id range; the rows depend only on doc_id
        self.lo = (self.seed * 7_919_993) % 1_000_000_007
        self.expected = self._expected_sinks()

    def _expected_sinks(self) -> dict:
        # pages.SINK_BY_KIND: the sink each doc_id % 8 routes to
        sink_by_kind = ["ssh", "ftp", "ident", "fw", "kv", "json", "net", "fallback"]
        kinds = np.arange(self.lo, self.lo + self.rows, dtype=np.int64) % 8
        counts = np.bincount(kinds, minlength=8)
        return {sink_by_kind[k]: int(counts[k]) for k in range(8)}

    def build_input(self):
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from liblognorm_spark.pipeline.pages import PAGES_SELECT

        base = self.spark.range(self.lo, self.lo + self.rows, numPartitions=self.n_parts).select(
            F.col("id").alias("doc_id"),
            F.md5(F.col("id").cast("string")).alias("text"),
            F.element_at(F.array(*[F.lit(x) for x in ("en", "de", "fr", "es", "ja", "zh")]),
                         (F.col("id") % 6 + 1).cast("int")).alias("lang"),
        )
        base.createOrReplaceTempView("documents")
        pages = self.spark.sql(PAGES_SELECT).withColumn(
            "warc_ts", F.timestamp_seconds(F.col("warc_epoch")))
        pages = pages.persist(StorageLevel.MEMORY_ONLY)
        pages.count()
        return pages

    def job(self):
        from liblognorm_spark.pipeline.pipeline import run_pipeline

        with self.tracer.span("pipeline.run_pipeline"):
            df = run_pipeline(self.spark, self.input)
        with self.tracer.span("pipeline.collect"):
            rows = df.collect()
        self.read_plan(df)
        got = {r["sink"]: r["n"] for r in rows}
        return 1, int(got != self.expected)


SYSLOG_TAGS = ("auth", "cron", "daemon", "kern", "mail", "user")
SYSLOG_VERBS = ("login", "logout", "sync", "reload", "start", "stop")


def syslog_rulebase(n_rules: int) -> str:
    """One rule per program name, in the shape of
    tools/bench_rulebase_scale.py; the first tag routes the row."""
    lines = ["version=2"]
    for i in range(n_rules):
        lines.append(f"rule={SYSLOG_TAGS[i % len(SYSLOG_TAGS)]}:"
                     f"prog{i}[%pid:number%]: action %act:word% from %ip:ipv4%")
    return "\n".join(lines) + "\n"


def syslog_rows(seed: int, n_rows: int, n_rules: int, near_miss: float = 0.2) -> pd.DataFrame:
    """Pages-shaped rows of syslog text with the planted sink of each row.
    Each program logs under few pids, so 16-char prefixes repeat heavily;
    near-misses keep the rule's prefix but end in an invalid IPv4 that is
    distinct per row, so they reach the walker and end unparsed."""
    rng = np.random.default_rng(seed)
    j = np.arange(n_rows, dtype=np.int64)
    prog = rng.integers(0, n_rules, n_rows)
    pid = 1000 + (prog * 7 + rng.integers(0, 3, n_rows)) % 9000
    verb = np.array(SYSLOG_VERBS, dtype=object)[rng.integers(0, len(SYSLOG_VERBS), n_rows)]
    miss = rng.random(n_rows) < near_miss
    a, b, c = (rng.integers(0, 256, n_rows) for _ in range(3))
    ip = np.where(
        miss,
        [f"10.{x % 250}.{(x // 250) % 250}.{256 + x // 62500}" for x in j],
        [f"{x}.{y}.{z}.{w}" for x, y, z, w in zip(a, b, c, rng.integers(0, 256, n_rows))],
    )
    text = [f"prog{p}[{q}]: action {v} from {addr}" for p, q, v, addr in zip(prog, pid, verb, ip)]
    doc_id = seed * 10_000_000 + j
    tags = np.array(SYSLOG_TAGS, dtype=object)
    return pd.DataFrame({
        "doc_id": doc_id,
        "url": [f"https://h{x % 97}.example.com/p/{x}" for x in doc_id],
        "warc_epoch": 1704067200 + doc_id,
        "text": text,
        "lang": np.array(["en", "de", "fr", "es", "ja", "zh"], dtype=object)[doc_id % 6],
        "kind": miss.astype(np.int64),
        "planted_sink": np.where(miss, "unparsed", tags[prog % len(tags)]),
    })


class SyslogManyRules(_PipelineWorkload):
    name = "syslog_many_rules"
    why = "128-rule rulebase: compile, shipping, dispatch, walker fallback and sink write"

    n_rules = 128
    n_rows = 100_000
    # the first repetition after the warm-up runs ~15% slow; the median of
    # three does not depend on it
    min_reps = 3

    def __init__(self, *a):
        super().__init__(*a)
        if self.smoke:
            self.n_rules, self.n_rows = 64, 10_000
        self.rows = self.n_rows
        self.rulebase_text = syslog_rulebase(self.n_rules)
        self.planted = syslog_rows(self.seed, self.rows, self.n_rules)
        counts = self.planted["planted_sink"].value_counts()
        self.expected = {k: int(v) for k, v in counts.items()}
        self.near_miss_share = self.expected.get("unparsed", 0) / self.rows
        self.expected_pairs = self.planted[["doc_id", "planted_sink"]].sort_values("doc_id")
        self.out_dir = str(WORK / "syslog_sinks")
        self._written = False

    def build_input(self):
        from pyspark import StorageLevel

        pdf = self.planted.drop(columns=["planted_sink"])
        df = self.spark.createDataFrame(pdf).repartition(CORES)
        df = df.persist(StorageLevel.MEMORY_ONLY)
        df.count()
        return df

    def job(self):
        from liblognorm_spark.pipeline.pipeline import run_pipeline

        with self.tracer.span("pipeline.run_pipeline"):
            df = run_pipeline(self.spark, self.input, out_dir=self.out_dir,
                              rulebase_text=self.rulebase_text)
        self._written = True
        with self.tracer.span("pipeline.collect"):
            rows = df.collect()
        self.read_plan(df)
        got = {r["sink"]: r["n"] for r in rows}
        return 2, int(got != self.expected)

    def after_job(self):
        """Read the written sinks back: exactly the planted (doc_id, sink)
        pairs, one row each."""
        if not self._written:
            return 0, 0
        back = self.spark.read.parquet(self.out_dir).select("doc_id", "sink").toPandas()
        back = back.sort_values("doc_id")
        ok = (len(back) == len(self.expected_pairs)
              and np.array_equal(back["doc_id"].to_numpy(), self.expected_pairs["doc_id"].to_numpy())
              and np.array_equal(back["sink"].to_numpy(dtype=object),
                                 self.expected_pairs["planted_sink"].to_numpy(dtype=object)))
        shutil.rmtree(self.out_dir, ignore_errors=True)
        self._written = False
        return 1, int(not ok)


# ---------------------------------------------------------------- curation


def _vocab_word(rank: int) -> str:
    return "w" + hashlib.md5(str(rank).encode()).hexdigest()[:6]


class CurationOps(Workload):
    name = "curation_ops"
    why = "training-data operators: JVM, shuffle and codegen heavy, no matcher work"
    min_reps = 1
    traced_reps = 1

    n_docs = 1_000
    n_vecs = 2_000
    semdedup_k = 16

    def __init__(self, *a):
        super().__init__(*a)
        if self.smoke:
            self.n_docs, self.n_vecs, self.semdedup_k = 500, 1_000, 8
        self.rows = self.n_docs
        self.results: dict[str, list] = {}
        self.op_times: dict[str, list] = {}

    def build_input(self):
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        seed = F.lit(self.seed)

        # tools/gen_llm_fixtures.py's tier, seeded: 120 Zipf-ish words per
        # doc from a 50k md5 vocabulary.  Planted duplication, always
        # copied from a doc that is itself no copy (its residue mod 100 is
        # even): residue 1 repeats the doc before it exactly, residue 3
        # repeats its first 110 words, residues 5, 7 and 9 its first 30.
        def rank(doc, i):
            return F.pmod(F.xxhash64(seed, doc * 1000 + i), F.lit(50000))

        d = F.col("doc_id")
        res = d % 100
        copy_words = (F.when(res == 1, F.lit(120)).when(res == 3, F.lit(110))
                      .when(res.isin(5, 7, 9), F.lit(30)).otherwise(F.lit(0)))
        words = F.transform(F.sequence(F.lit(0), F.lit(119)), lambda i: F.concat(
            F.lit("w"), F.substring(F.md5(
                F.when(i < copy_words, rank(d - 1, i)).otherwise(rank(d, i)).cast("string")), 1, 6)))
        docs = self.spark.range(self.n_docs, numPartitions=CORES).select(
            F.col("id").alias("doc_id"),
            F.array_join(words, " ").alias("text"),
            F.element_at(F.array(*[F.lit(x) for x in ("en", "de", "fr", "es", "ja", "zh")]),
                         (F.col("id") % 6 + 1).cast("int")).alias("lang"),
        )
        # 64 floats in [-1, 1) per vector; every 41st is a nudged copy of
        # the vector before it
        src = F.when((F.col("vec_id") % 41 == 0) & (F.col("vec_id") > 0),
                     F.col("vec_id") - 1).otherwise(F.col("vec_id"))
        elems = F.transform(F.sequence(F.lit(0), F.lit(63)), lambda e: (
            F.conv(F.substring(F.md5(F.concat_ws("|", seed.cast("string"), src.cast("string"),
                                                  e.cast("string"))), 1, 8), 16, 10)
            .cast("double") / F.lit(float(2 ** 31)) - 1.0
            + F.when(F.col("vec_id") % 41 == 0, (e % 7).cast("double") * 1e-4)
            .otherwise(F.lit(0.0))).cast("float"))
        emb = self.spark.range(self.n_vecs, numPartitions=CORES).select(
            F.col("id").alias("vec_id"), elems.alias("embedding"))
        self.docs = docs.persist(StorageLevel.MEMORY_ONLY)
        self.emb = emb.persist(StorageLevel.MEMORY_ONLY)
        self.docs.count()
        self.emb.count()
        return self.docs

    def release(self):
        super().release()
        self.emb.unpersist(blocking=True)

    def setup(self):
        if self.input is not None:
            self.emb.unpersist(blocking=True)
        super().setup()

    def _ops(self) -> dict:
        """op -> (build callable, DuckDB twin SQL, embeddings subset or None)."""
        from pyspark.sql import functions as F

        import __spark_entry__ as E
        from liblognorm_spark.functions import text as T
        from liblognorm_spark.functions.clustering import semdedup
        from liblognorm_spark.functions.dedup import duplicate_spans, exact_dedup, minhash_lsh_pairs
        from liblognorm_spark.functions.search import bm25_topk
        from liblognorm_spark.functions.similarity import lsh_topk_batch_adaptive

        docs, emb = self.docs, self.emb
        emb_sem = emb.where(F.col("vec_id") < self.n_vecs // 4)
        terms = [_vocab_word(r) for r in (0, 1, 2)]
        oracles = E.oracle_sql()
        return {
            "exact_dedup": (lambda: exact_dedup(docs), oracles["dedup_exact"], None),
            "minhash_pairs": (lambda: minhash_lsh_pairs(docs).where(F.col("est_jaccard_millis") >= 500),
                              oracles["minhash_pairs"], None),
            "duplicate_spans": (lambda: duplicate_spans(docs, k=5, min_docs=2),
                                oracles["duplicate_spans"], None),
            "semdedup": (lambda: semdedup(emb_sem, k=self.semdedup_k, iters=2, threshold=0.9),
                         E._semdedup_oracle(k=self.semdedup_k, iters=2, dim=64, threshold=0.9),
                         self.n_vecs // 4),
            "bm25": (lambda: bm25_topk(docs, terms, k=15), E._bm25_oracle(terms, k=15), None),
            "ann_batch": (lambda: lsh_topk_batch_adaptive(
                emb, emb.where((F.col("vec_id") % 100) == 0).select(
                    F.col("vec_id").alias("query_id"), "embedding"),
                dim=64, k=10, nplanes=8, n_tables=8),
                E._ann_batch_adaptive_oracle(dim=64, nplanes=8, n_tables=8, k=10), None),
            "text_stats": (lambda: docs.select(
                "doc_id", T.token_count("text").alias("n_tokens"),
                T.char_count("text").alias("n_chars_calc"),
                T.punct_ratio_millis("text").alias("punct_millis"),
                T.quality_score_millis("text").alias("quality_millis")),
                oracles["text_stats"], None),
        }

    def warm_up(self):
        """None: a curation batch job runs each operator once in a fresh
        session, so the timed pass includes each plan's first codegen."""
        return 0, 0

    def once_checks(self):
        """Every operator's output of every repetition so far against its
        DuckDB twin, compared as check_oracles.py does (row count, columns,
        order-insensitive value hash).  The twins run once per run, outside
        the timed repetitions."""
        import duckdb
        import pyarrow.compute as pc

        con = duckdb.connect()
        emb_arrow = self.emb.toArrow()
        con.register("documents", self.docs.toArrow())
        failed = 0
        self.oracle_results = {}
        for op, (_, sql, emb_limit) in self._ops().items():
            with self.tracer.span(f"oracle.{op}"):
                emb_rel = emb_arrow if emb_limit is None else emb_arrow.filter(
                    pc.less(emb_arrow["vec_id"], emb_limit))
                con.register("embeddings", emb_rel)
                res = con.execute(sql)
                cols = [d[0].lower() for d in res.description]
                rows = res.fetchall()
            expected = (sorted(cols), len(rows), value_hash(rows, cols))
            got = self.results.pop(op, [])
            bad = sum(g != expected for g in got)
            self.oracle_results[op] = {"rows": len(rows), "checked": len(got), "match": not bad}
            failed += bad
        con.close()
        return 0, failed

    def job(self):
        for op, (build, _, _) in self._ops().items():
            with self.tracer.span(f"functions.{op}"):
                t0 = time.perf_counter()
                with self.tracer.span(f"functions.{op}.build"):
                    df = build()
                t1 = time.perf_counter()
                with self.tracer.span(f"functions.{op}.exec"):
                    rows = [tuple(r) for r in df.collect()]
                t2 = time.perf_counter()
            if self.tracer.enabled:
                with self.tracer.span("trace.plan_read"):
                    om = operator_metrics(plan_nodes(df))
                add_metrics(self.plan_totals, om)
                self.op_times.setdefault(op, []).append((t1 - t0, t2 - t1, om))
            unpersist_dedup_caches()
            cols = [c.lower() for c in df.columns]
            self.results.setdefault(op, []).append((sorted(cols), len(rows), value_hash(rows, cols)))
        return len(FUNCTION_OPS), 0

    def layer_metrics(self):
        m = {}
        table = {}
        for op, samples in self.op_times.items():
            b = median([s[0] for s in samples])
            x = median([s[1] for s in samples])
            last = samples[-1][2]
            m[f"functions.{op}.build_s"] = b
            m[f"functions.{op}.exec_s"] = x
            m[f"functions.{op}.shuffle_bytes"] = last["exchange.shuffle_bytes"]
            m[f"functions.{op}.peak_memory_bytes"] = last["peak_memory_bytes"]
            table[f"functions.{op} (build)"] = b
            table[f"functions.{op} (exec)"] = x
        table["tracing (plan read)"] = (median(self.tracer.durations("trace.plan_read")) * len(self.op_times))
        return m, table

    def properties(self):
        texts = self.docs.select("text").limit(ARROW_BATCH).toPandas()["text"].tolist()
        return {
            "rows": self.n_docs,
            "vectors": self.n_vecs,
            "semdedup_vectors": self.n_vecs // 4,
            "semdedup_k": self.semdedup_k,
            "prefix16_repeat_share": layers.prefix_repeat_share(texts),
            "prefix16_sample_rows": len(texts),
            "near_miss_share": 0.0,
            "unparsed_share": 0.0,
            "tasks": CORES,
            "rows_per_task": self.n_docs / CORES,
            "rows_per_arrow_batch": 0,
            "rules": 0,
            "cohorts": 0,
            "oracle_checks": self.oracle_results,
        }


WORKLOADS = {w.name: w for w in (PagesMixed, SyslogManyRules, CurationOps)}
