"""Structured Streaming variant of the pipeline.

The batch operators compose unchanged: normalize_df (a struct-returning
scalar pandas_udf) works on streaming DataFrames, so the stream is
readStream -> parse -> enrich -> route -> windowed aggregate / fan-out
sinks, with watermarks for late data and checkpointLocation for
exactly-once resume — the incremental execution mode the reference CLI
(stdin loop, src/lognormalizer.c:229-257) never had.
"""

from __future__ import annotations

from liblognorm_spark.compiler.compiler import CompiledRulebase, compile_rulebase
from liblognorm_spark.pipeline.fixture_rulebase import routing_rulebase
from liblognorm_spark.rulebase.loader import Rulebase
from liblognorm_spark.runtime.matcher import normalize_df

PAGES_DDL = (
    "doc_id long, url string, warc_epoch long, text string, lang string, "
    "kind long, warc_ts timestamp"
)


def stream_pages(spark, input_dir: str, schema: str = PAGES_DDL):
    return spark.readStream.schema(schema).parquet(input_dir)


def normalize_stream(stream_df, rulebase_text: str | None = None, text_col: str = "text"):
    rb = Rulebase.from_string(rulebase_text or routing_rulebase())
    crb = compile_rulebase(rb)
    return normalize_df(stream_df, crb, text_col=text_col)


def windowed_sink_counts(parsed_stream, window: str = "5 minutes", watermark: str = "10 minutes"):
    """Per-sink tumbling-window counts with a watermark for late rows."""
    from pyspark.sql import functions as F

    routed = parsed_stream.withColumn(
        "sink",
        F.when(F.col("unparsed_data").isNotNull(), F.lit("unparsed")).otherwise(
            F.coalesce(F.element_at(F.col("tags"), 1), F.lit("untagged"))
        ),
    )
    return (
        routed.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "sink")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "sink", "n")
    )


def start_memory_query(agg_stream, name: str = "stream_out", output_mode: str = "append"):
    return (
        agg_stream.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )


def stateful_host_counters(parsed_stream):
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-host running parsed/unparsed counter that survives across
    micro-batches (the streaming analogue of the reference CLI's per-run
    counters, src/lognormalizer.c:219-265, but keyed and incremental)."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = parsed_stream.withColumn(
        "host", F.regexp_extract("url", r"^https://([^.]+)\.", 1)
    ).select("host", "unparsed_data")

    def update(key, pdfs, state: GroupState):
        parsed = unparsed = 0
        for pdf in pdfs:
            unp = pdf["unparsed_data"].notna().sum()
            unparsed += int(unp)
            parsed += int(len(pdf) - unp)
        if state.exists:
            p0, u0 = state.get
            parsed += p0
            unparsed += u0
        state.update((parsed, unparsed))
        import pandas as pd

        yield pd.DataFrame(
            {"host": [key[0]], "n_parsed": [parsed], "n_unparsed": [unparsed]}
        )

    return keyed.groupBy("host").applyInPandasWithState(
        update,
        outputStructType="host string, n_parsed long, n_unparsed long",
        stateStructType="n_parsed long, n_unparsed long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_fanout_query(parsed_stream, out_dir: str, checkpoint_dir: str):
    """Streaming fan-out with effectively-exactly-once resume.

    foreachBatch alone is only at-least-once: a crash after the write but
    before the checkpoint commit re-executes the micro-batch.  The write is
    therefore made IDEMPOTENT per epoch: output is partitioned by
    (epoch, sink) and written with dynamic partition overwrite, so a
    replayed epoch overwrites exactly its own partition directories instead
    of appending duplicates.  checkpointLocation makes restart skip
    committed batches entirely."""
    from pyspark.sql import functions as F

    def write_batch(df, epoch_id: int):
        routed = df.withColumn(
            "sink",
            F.when(F.col("unparsed_data").isNotNull(), F.lit("unparsed")).otherwise(
                F.coalesce(F.element_at(F.col("tags"), 1), F.lit("untagged"))
            ),
        ).withColumn("epoch", F.lit(epoch_id))
        (
            routed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch", "sink")
            .parquet(out_dir)
        )

    return (
        parsed_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def dedup_stream(stream_df, key_cols=("url",), ts_col: str = "warc_ts",
                 watermark: str = "10 minutes", within_watermark: bool = True):
    """Streaming exact-dedup: drop repeats of the key across micro-batches.

    ``within_watermark=True`` uses dropDuplicatesWithinWatermark (Spark
    3.5+): state for a key is EVICTED once the watermark passes its event
    time, so state size is bounded by the churn inside the watermark delay
    — the only formulation that survives an unbounded stream at web scale.
    ``False`` falls back to global dropDuplicates (exact forever, state
    grows without bound — only for bounded backfills)."""
    wm = stream_df.withWatermark(ts_col, watermark)
    cols = list(key_cols)
    # capability probe, not try/except: an AttributeError raised INSIDE
    # dropDuplicatesWithinWatermark must propagate, not silently flip the
    # stream to unbounded-state dedup
    if within_watermark and hasattr(wm, "dropDuplicatesWithinWatermark"):
        return wm.dropDuplicatesWithinWatermark(cols)
    # exact-forever global dedup on the KEY alone (state unbounded);
    # including the event time here would let same-key rows with different
    # timestamps through, which is not deduplication
    return wm.dropDuplicates(cols)


def decontaminate_stream(doc_stream, bench_df, out_dir: str,
                         checkpoint_dir: str, text_col: str = "text",
                         id_col: str = "doc_id", min_shared: int = 10,
                         ngram_k: int | None = None):
    """Incremental benchmark decontamination — the streaming parity for
    the training-data tier: as documents arrive, each micro-batch joins
    its docs' word n-grams against the benchmark n-gram set and appends
    the flagged (id, n_shared_ngrams) rows to ``out_dir``.

    Scale shape: the benchmark side is aggregated to its distinct n-grams
    ONCE before the stream starts (:func:`bench_ngram_set`), persisted,
    and broadcast into every micro-batch's hash join — per batch the only
    work is the batch's own explode + broadcast join + count, the same
    plan the batch operator uses (functions/dedup.py:decontaminate), so
    batch and stream agree per micro-batch by construction.

    Restart discipline matches start_fanout_query: the per-epoch write is
    idempotent (partitioned by epoch, dynamic partition overwrite), so a
    replayed micro-batch overwrites exactly its own output;
    checkpointLocation makes a restart skip committed epochs entirely."""
    from pyspark.sql import functions as F

    from liblognorm_spark.functions.dedup import (
        SHINGLE_K,
        bench_ngram_set,
        decontaminate,
    )

    k = SHINGLE_K if ngram_k is None else ngram_k
    bench_ngrams = bench_ngram_set(bench_df, text_col, k).persist()
    bench_ngrams.count()  # materialize once, before the first micro-batch

    def write_batch(df, epoch_id: int):
        flagged = decontaminate(
            df, None, text_col=text_col, id_col=id_col,
            min_shared=min_shared, ngram_k=k, bench_ngrams=bench_ngrams,
        ).withColumn("epoch", F.lit(epoch_id))
        (
            flagged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(out_dir)
        )

    return (
        doc_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
