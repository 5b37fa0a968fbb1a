"""Structured Streaming surface.

The reference is a batch engine (SURVEY.md §1.1: no stream abstraction);
streaming here is green-field engine surface built directly on Spark
Structured Streaming — watermarks, tumbling/sliding windows, session
windows. The transformations are THE SAME DataFrame expressions the batch
queries use (windowed_counts works on either a static or streaming frame —
that's the Spark unified-API contract), so batch differential tests pin the
semantics and the streaming test pins the plumbing (microbatch, watermark,
append/update modes).

Scale posture: streaming aggregations shuffle on (window, key) with state
kept in the state store; watermarks bound state size — both standard on a
real cluster, exercised here via the file source + memory sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_spark.io.readers import open_parquet


def windowed_counts(
    events: DataFrame,
    window: str = "6 hours",
    slide: str | None = None,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling (or sliding) windowed count+sum per key. Works on static
    AND streaming DataFrames (unified API)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        df.groupBy(win.alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("w_start_us"),
            key_col,
            "n",
            "total",
        )
    )


def sessionized_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows with a dynamic gap (streaming-native analogue of the
    batch ev_sessionization query)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("s"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key_col),
            F.unix_micros(F.col("s.start").cast("timestamp")).alias("s_start_us"),
            F.unix_micros(F.col("s.end").cast("timestamp")).alias("s_end_us"),
            "n_events",
        )
    )


def run_batch_as_stream(
    spark: SparkSession,
    parquet_path: str,
    transform,
    query_name: str = "stream_out",
    ts_from_ns: bool = True,
    output_mode: str = "complete",
) -> DataFrame:
    """Drive a parquet directory through a real streaming query (file
    source → microbatches → memory sink), synchronously to completion.

    This is the local test harness shape; a production deployment swaps
    source/sink (kafka/delta) without touching `transform`.
    """
    import glob
    import os
    import shutil
    import tempfile

    # file source needs a directory of files + an explicit schema
    tmp = tempfile.mkdtemp(prefix="duckdb_spark_stream_")
    src_dir = os.path.join(tmp, "in")
    os.makedirs(src_dir)
    for f in glob.glob(parquet_path):
        shutil.copy(f, src_dir)
    schema = open_parquet(spark, src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    if ts_from_ns and dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(stream.dtypes).get("ts") == "timestamp_ntz":
        # TIMESTAMP(MICROS, adjusted=false) parquet → NTZ; watermarks need
        # TimestampType (same normalization as catalog.load_table)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))

    out = transform(stream)
    # NOTE: "complete" for aggregations — append mode only emits windows
    # already below the watermark, which never covers the tail of a finite
    # file-driven run.
    q = (
        out.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.table(query_name)
