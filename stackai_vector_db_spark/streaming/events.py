"""Structured Streaming operators over the events table (SURVEY.md §2.9).

The reference has no streaming at all — its nearest analog is the
incremental ``add_vector`` path (``app/indexes/ivf.py:168-196``: append a
vector to an inverted list without rebuild). Here that becomes a
``foreachBatch`` micro-batch assigning incoming vectors to existing
centroids (:func:`incremental_index_stream`), plus the standard event-time
toolkit: tumbling windows, session windows, watermarked dedup.

Correctness strategy (SURVEY.md §5.2): streaming has no reference
counterpart to diff against, so every streaming query is validated by
*batch parity* — run the same plan on a static DataFrame and on
``readStream`` with ``trigger(availableNow)``, results must match
(tests/test_streaming.py).

Pitfall encoded here: append-mode windowed aggregations never emit windows
newer than (max event time − watermark) at end-of-stream, so finite-input
parity runs use ``complete`` output mode; only the stateless dedup runs in
append mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

# Raw parquet schema (ts as written by the driver — see catalog.load_table
# note; TIMESTAMP_NTZ in current fixtures, nanos LONG in older ones).
EVENTS_DDL = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)
EVENTS_DDL_NANOS = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet with the same ts
    normalization as the batch loader (→ microsecond TIMESTAMP, read as
    UTC wall clock independent of session timezone)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The file stream source requires a *directory*; expose the single
    # fixture file through a symlink dir (on a real deployment the source
    # is an arrival directory already). One dir per fixture, named by its
    # real path, so repeated calls reuse it instead of leaking one each.
    import contextlib
    import hashlib
    import tempfile

    from pyspark.sql.types import LongType

    src = os.path.realpath(os.path.join(sf_dir, "events.parquet"))
    tag = hashlib.sha1(src.encode()).hexdigest()[:16]
    d = os.path.join(tempfile.gettempdir(), f"events_stream_{tag}")
    os.makedirs(d, exist_ok=True)
    with contextlib.suppress(FileExistsError):  # d's name derives from src
        os.symlink(src, os.path.join(d, "events.parquet"))
    # Probe the batch reader for the fixture's actual ts type.
    is_nanos = isinstance(
        spark.read.parquet(src).schema["ts"].dataType, LongType
    )
    if is_nanos:
        df = spark.readStream.schema(EVENTS_DDL_NANOS).parquet(d)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    df = spark.readStream.schema(EVENTS_DDL).parquet(d)
    return df.withColumn(
        "ts",
        F.expr(
            "timestamp_micros(timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ'1970-01-01 00:00:00', ts))"
        ),
    )


def tumbling_agg(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """10-minute tumbling window counts/sums per event_type — streaming twin
    of queries.q_events_tumbling."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_agg(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """10-minute windows sliding every 5 — streaming twin of
    queries.q_events_sliding (each event contributes to two windows)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_agg(events: DataFrame, gap: str = "30 minutes",
                watermark: str = "1 hour") -> DataFrame:
    """Session windows per user — streaming twin of queries.q_events_session."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("sess_start_ms"),
            "n",
            "sum_value",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Event-id dedup with bounded state (dropDuplicatesWithinWatermark)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_finite(stream_df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drain a finite file-source stream into an in-memory table and return
    it as a DataFrame (trigger availableNow → terminates at end of input)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def incremental_index_stream(
    spark: SparkSession,
    vectors_dir: str,
    centroids: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Streaming J3 — the reference's incremental add_vector
    (ivf.py:168-196) as a micro-batch job: new vectors arriving as files are
    assigned to the *existing* centroids and appended to the cluster-
    partitioned layout; no rebuild of the centroid set.

    Pass ``checkpoint_dir`` to make repeated invocations incremental: the
    file-source offset log records which vector files each run consumed, so
    a later run (or a restart after failure) appends only the newly-arrived
    files — exactly-once per input file, the property a real ingest
    pipeline needs. Without it each availableNow run reprocesses the full
    directory (fine for one-shot jobs/tests only).
    """
    from stackai_vector_db_spark.operators.ivf import (
        assign_clusters,
        local_centroids_df,
    )

    cents = centroids.collect()
    cents_local = [(r["cluster_id"], r["centroid"]) for r in cents]

    def handle_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark_b = batch_df.sparkSession
        # VALUES LocalRelation, not createDataFrame (r12): the pickled-rows
        # ExistingRDD form ran a Python-worker broadcast job per micro-batch
        # — the same per-call cost r11 removed from the serving paths, paid
        # here on every epoch of a forever-running stream.
        cdf = local_centroids_df(spark_b, cents_local)
        assigned = assign_clusters(batch_df, cdf)
        (
            batch_df.join(assigned.select("vec_id", "cluster_id"), "vec_id")
            .write.mode("append")
            .partitionBy("cluster_id")
            .parquet(out_dir)
        )

    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>, label int"
    ).parquet(vectors_dir)
    writer = stream.writeStream.foreachBatch(handle_batch).trigger(availableNow=True)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
