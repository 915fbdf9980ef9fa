"""The north-rule pipeline: parse -> enrich -> route -> aggregate.

All stages after the vectorized match are stock DataFrame operations so
Catalyst handles pushdown/pruning/broadcast/AQE:

* parse    — ``normalize_df`` (a struct-returning scalar pandas_udf over
  Arrow batches)
* enrich   — broadcast hash joins against small lookup tables
  (generalization of the reference's tag-driven constant annotation,
  src/annot.c:214-239)
* route    — one ``sink`` column + a single partitionBy("sink") write:
  fan-out without N passes over the data (the reference CLI's
  parsed/unparsed split, src/lognormalizer.c:236-249, generalized to
  tag-based sinks)
* aggregate— per-sink counts (the reference's run counters,
  src/lognormalizer.c:258-265)

Partitioning: an explicit repartition by xxhash64(url) with a salt column
for the hot host keeps the match stage balanced under host skew; AQE
(enabled in session.py) re-splits skewed post-shuffle partitions.
"""

from __future__ import annotations

from liblognorm_spark.compiler.compiler import compile_rulebase
from liblognorm_spark.pipeline.fixture_rulebase import routing_rulebase
from liblognorm_spark.rulebase.loader import Rulebase
from liblognorm_spark.runtime.matcher import normalize_df

# deterministic enrichment lookup tables (FIXTURES.md §1)
LANG_MAP = [
    ("en", "English", "germanic"),
    ("de", "German", "germanic"),
    ("fr", "French", "romance"),
    ("es", "Spanish", "romance"),
    ("ja", "Japanese", "japonic"),
    ("zh", "Chinese", "sinitic"),
]
TLD_MAP = [("com", "generic"), ("org", "generic"), ("net", "generic"), ("de", "europe"), ("jp", "asia")]


def lookup_tables(spark):
    lang = spark.createDataFrame(LANG_MAP, "lang string, lang_name string, lang_family string")
    tld = spark.createDataFrame(TLD_MAP, "tld string, tld_region string")
    return lang, tld


def parse_stage(spark, pages, rulebase_text: str | None = None, salt_parts: int | None = None):
    """Vectorized match over the text column.

    `salt_parts`: explicit repartition count; the salt column spreads the
    hot host (h0 holds ~50% of rows) across partitions before the
    CPU-heavy match stage."""
    from pyspark.sql import functions as F

    rb = Rulebase.from_string(rulebase_text or routing_rulebase())
    crb = compile_rulebase(rb)
    if salt_parts:
        pages = pages.withColumn(
            "_salt", (F.xxhash64(F.col("url")) % salt_parts).cast("int")
        ).repartition(salt_parts, "_salt").drop("_salt")
    return normalize_df(pages, crb, text_col="text")


def enrich_stage(spark, parsed):
    """Broadcast joins: lang -> lang_name/lang_family, url TLD -> region."""
    from pyspark.sql import functions as F

    lang, tld = lookup_tables(spark)
    out = parsed.join(F.broadcast(lang), on="lang", how="left")
    out = out.withColumn(
        "tld", F.regexp_extract(F.col("url"), r"^https?://[^/]*\.([a-z]+)/", 1)
    ).join(F.broadcast(tld), on="tld", how="left")
    return out


def route_stage(enriched):
    """sink = first tag, or 'unparsed' (reference: parsed/unparsed split by
    presence of unparsed-data, src/lognormalizer.c:236-238; tag routing via
    eventHasTag, src/lognormalizer.c:143-165)."""
    from pyspark.sql import functions as F

    return enriched.withColumn(
        "sink",
        F.when(F.col("unparsed_data").isNotNull(), F.lit("unparsed")).otherwise(
            F.coalesce(F.element_at(F.col("tags"), 1), F.lit("untagged"))
        ),
    )


def aggregate_stage(routed):
    from pyspark.sql import functions as F

    return routed.groupBy("sink").agg(F.count("*").alias("n")).orderBy("sink")


def write_sinks(routed, out_dir: str, fmt: str = "parquet"):
    """Single-pass fan-out: partitionBy(sink) writes one directory per sink.

    Iceberg is used when its catalog jars are on the classpath (not in this
    image); parquet directory layout is the fallback with identical
    partition semantics."""
    writer = routed.write.mode("overwrite").partitionBy("sink")
    try:
        if fmt == "iceberg":
            writer.format("iceberg").save(out_dir)
            return
    except Exception:
        pass
    writer.parquet(out_dir)


def run_pipeline(spark, pages, out_dir: str | None = None, rulebase_text: str | None = None):
    parsed = parse_stage(spark, pages, rulebase_text)
    enriched = enrich_stage(spark, parsed)
    routed = route_stage(enriched)
    if out_dir:
        write_sinks(routed.drop("html") if "html" in routed.columns else routed, out_dir)
    return aggregate_stage(routed)
