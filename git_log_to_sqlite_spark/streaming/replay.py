"""Events replay source + streaming transformation builders.

The reference is strictly batch (SURVEY.md section 1.4); streaming is
engine surface we add for incremental ingestion. The file source
replays parquet in file order (``maxFilesPerTrigger=1`` gives one
micro-batch per file), which makes watermark progression deterministic
in tests.

At scale: the same builders run unchanged against a Kafka source; the
watermark bounds state (old windows are evicted once the event-time
watermark passes), so state size tracks the window span x key
cardinality, not stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.schema_cache import events_schema, with_event_time

# Event-time watermark of every streaming builder below: the lateness
# a stream tolerates before its state is evicted.
_WATERMARK = "2 hours"


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Replay parquet file(s) as a stream, one micro-batch per file.

    A file-stream source must declare its schema, and a declaration
    that disagrees with the file's physical ``ts`` encoding reads
    garbage silently (LongType over micros files yields values 1000x
    off, no error). So the declaration is the file's own schema,
    ``events_schema`` (inferred once, off the caller's session conf),
    and ``with_event_time`` decodes ``ts`` to TIMESTAMP, the same pair
    ``plans.registry.table`` uses. Upstream writers have switched
    encodings before (TIMESTAMP(NANOS) -> timestamp[us]); reading the
    encoding from the file is what survives the next switch.
    """
    schema = events_schema(spark, path)
    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    # The file-stream source requires a DIRECTORY basePath; a single
    # file becomes parent dir + glob filter.
    if path.endswith(".parquet") and not any(ch in path for ch in "*?["):
        parent, _, fname = path.rpartition("/")
        reader = reader.option("pathGlobFilter", fname)
        path = parent
    return with_event_time(reader.parquet(path), schema)


# --- transformation builders (batch AND stream) ------------------------

def tumbling_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time window: count + value sum per
    (window, event_type). The watermark bounds streaming state; in
    batch it is a no-op (batch frames have complete data by
    definition)."""
    src = events.withWatermark("ts", _WATERMARK) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def sliding_value_sum(events: DataFrame) -> DataFrame:
    """Sliding 1-hour window every 30 minutes: each event lands in
    window/slide overlapping windows (here 2); state cost scales with
    the overlap factor."""
    src = events.withWatermark("ts", _WATERMARK) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n")
    )


def session_agg(events: DataFrame) -> DataFrame:
    """Session windows (30-minute gap): the streaming-native form of the
    batch lag-gap sessionization in plans/windows.events_sessionize."""
    src = events.withWatermark("ts", _WATERMARK) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("session_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Stateful stream dedup on event_id: duplicates arriving within
    the 2-hour watermark horizon are dropped; state for ids older than the
    watermark is evicted (bounded memory — plain dropDuplicates on a
    stream keeps ALL ids forever)."""
    if events.isStreaming:
        return events.withWatermark("ts", _WATERMARK).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def typed_event_join(events_a: DataFrame, events_b: DataFrame) -> DataFrame:
    """Stream-stream inner join: ``purchase`` events following a
    ``click`` by the same user within 1 hour.

    On streams, BOTH sides carry watermarks and the join condition
    includes the time bound — that pair is what lets Spark evict join
    state (a stream-stream join without a time bound buffers both
    streams forever). On batch frames the same builder is a plain
    range-condition join, which the equivalence test exploits.
    """
    a = events_a.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("a_ts"),
        F.col("event_id").alias("a_event"),
    )
    b = events_b.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
        F.col("event_id").alias("b_event"),
        F.col("value").alias("b_value"),
    )
    if events_a.isStreaming:
        a = a.withWatermark("a_ts", _WATERMARK)
        b = b.withWatermark("b_ts", _WATERMARK)
    return a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 1 hour")),
    ).select("a_user", "a_event", "b_event", "a_ts", "b_ts", "b_value")


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a streaming frame to a memory sink synchronously; returns
    the query (stopped) after all available input is processed."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q
