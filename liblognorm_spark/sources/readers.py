"""Input connectors.

The reference reads newline-delimited text from stdin
(src/lognormalizer.c:180-209, incl. \\r\\n handling).  Here the same
record model comes from any Spark source; text files get the CRLF strip
the reference reader applies.  Iceberg/Delta are gated on their jars
being present (not in this image) with parquet-directory fallback.
"""

from __future__ import annotations


def iceberg_loadable(spark) -> bool:
    """Are the Iceberg runtime jars on the classpath?  Asks Spark's own
    format lookup, so a real Iceberg read or write error is never mistaken
    for their absence."""
    from py4j.protocol import Py4JJavaError

    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "iceberg", spark._jsparkSession.sessionState().conf())
    except Py4JJavaError:
        return False
    return True


def read_logs(spark, path: str, fmt: str = "text", text_col: str = "value", schema=None):
    """Returns (df, text_col) ready for normalize_df."""
    from pyspark.sql import functions as F

    if fmt == "text":
        df = spark.read.text(path)
        # strip trailing \r (read_line, src/lognormalizer.c:195-199)
        df = df.withColumn("value", F.regexp_replace(F.col("value"), r"\r$", ""))
        return df, "value"
    if fmt == "parquet":
        return spark.read.parquet(path), text_col
    if fmt == "json":
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.json(path), text_col
    if fmt == "csv":
        return spark.read.csv(path, header=True), text_col
    if fmt == "iceberg":
        if iceberg_loadable(spark):
            return spark.read.format("iceberg").load(path), text_col
        # iceberg jars absent: the parquet data dir layout write_sinks wrote
        return spark.read.parquet(path), text_col
    raise ValueError(f"unknown format {fmt!r}")
