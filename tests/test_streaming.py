"""Streaming batch-equivalence suite (SURVEY.md section 5.2.3): replay
the events table as a file stream, run the SAME transformation builder
on both the stream and the batch frame, assert equal results. Plus
watermark late-drop and stateful-dedup semantics on crafted streams."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from git_log_to_sqlite_spark.plans.registry import table
from git_log_to_sqlite_spark.streaming import (
    dedup_within_watermark,
    read_events_stream,
    run_to_memory,
    session_agg,
    sliding_value_sum,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def replay_dir(spark, oracle_sf_dir, tmp_path_factory):
    """Split events into 3 files by event-time order so the replay
    advances the watermark deterministically batch by batch."""
    out = tmp_path_factory.mktemp("events_replay")
    ev = table(spark, oracle_sf_dir, "events").orderBy("ts")
    n = ev.count()
    rows = ev.collect()
    for i in range(3):
        chunk = rows[i * n // 3 : (i + 1) * n // 3]
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(out / f"part{i}"))
    return str(out / "part*")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "builder", [tumbling_counts, sliding_value_sum, session_agg],
    ids=["tumbling", "sliding", "session"],
)
def test_stream_equals_batch(spark, oracle_sf_dir, replay_dir, builder):
    batch = builder(table(spark, oracle_sf_dir, "events"))
    stream = builder(read_events_stream(spark, replay_dir))
    name = f"out_{builder.__name__}"
    run_to_memory(stream, name, output_mode="complete")
    got = _rows(spark.sql(f"SELECT * FROM {name}"))
    want = _rows(batch)
    assert got == want, f"{builder.__name__}: stream != batch ({len(got)} vs {len(want)})"


def test_stateful_dedup_within_watermark(spark, tmp_path):
    ts = lambda m: datetime.datetime(2024, 1, 1, 0, m)  # noqa: E731
    f1 = [(1, ts(0), 1, "a", 1.0, "{}"), (2, ts(5), 1, "a", 1.0, "{}")]
    f2 = [(1, ts(6), 1, "a", 1.0, "{}"), (3, ts(10), 1, "a", 1.0, "{}")]  # dup id=1
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(str(tmp_path / "f1"))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(tmp_path / "f*")
    )
    deduped = dedup_within_watermark(stream)
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    q.processAllAvailable()
    spark.createDataFrame(f2, schema).coalesce(1).write.parquet(str(tmp_path / "f2"))
    q.processAllAvailable()
    q.stop()
    ids = sorted(r["event_id"] for r in spark.sql("SELECT * FROM dedup_out").collect())
    assert ids == [1, 2, 3], f"duplicate id=1 must be dropped once: {ids}"


def test_watermark_drops_late_data(spark, tmp_path):
    """An event arriving behind the watermark is dropped from an
    append-mode windowed aggregate."""
    ts = lambda h, m=0: datetime.datetime(2024, 1, 1, h, m)  # noqa: E731
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    # batch 1: events up to 06:00 -> watermark advances to 05:00
    f1 = [(1, ts(0, 30), 1, "a", 1.0, "{}"), (2, ts(6, 0), 1, "a", 1.0, "{}")]
    # batch 2: late event at 00:45 (behind watermark) + on-time at 06:30
    f2 = [(3, ts(0, 45), 1, "a", 1.0, "{}"), (4, ts(6, 30), 1, "a", 1.0, "{}")]
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(str(tmp_path / "f1"))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(tmp_path / "f*")
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    q = agg.writeStream.outputMode("append").format("memory").queryName("late_out").start()
    q.processAllAvailable()
    spark.createDataFrame(f2, schema).coalesce(1).write.parquet(str(tmp_path / "f2"))
    q.processAllAvailable()
    q.stop()
    got = {
        r["window_start"]: r["n"]
        for r in spark.sql("SELECT * FROM late_out").collect()
    }
    # the 00:00 window closed when the watermark passed 01:00, so the
    # late event (00:45, arriving in batch 2) must NOT be counted
    assert got.get(ts(0)) == 1, f"late event leaked into closed window: {got}"


def test_output_mode_semantics_append_update_complete(spark, tmp_path):
    """The three sink modes on ONE windowed aggregate, two micro-batches:

    - complete: the sink holds the FULL final result table (every
      window, final counts) after the last trigger;
    - update: only changed groups are emitted per trigger, so a window
      touched in both batches appears twice with increasing counts;
    - append: only watermark-finalized windows are emitted — the still
      open window never appears.
    """
    ts = lambda h, m=0: datetime.datetime(2024, 1, 1, h, m)  # noqa: E731
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    # batch 1: window 00:00 x1, window 06:00 x1
    f1 = [(1, ts(0, 30), 1, "a", 1.0, "{}"), (2, ts(6, 0), 1, "a", 1.0, "{}")]
    # batch 2: window 06:00 again (count -> 2) + window 07:00
    f2 = [(3, ts(6, 30), 1, "a", 1.0, "{}"), (4, ts(7, 0), 1, "a", 1.0, "{}")]

    def agg_of(stream):
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("window_start"), "n")
        )

    results = {}
    for mode in ("append", "update", "complete"):
        d = tmp_path / mode
        d.mkdir()
        spark.createDataFrame(f1, schema).coalesce(1).write.parquet(str(d / "f1"))
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(str(d / "f*"))
        q = (
            agg_of(stream)
            .writeStream.outputMode(mode)
            .format("memory")
            .queryName(f"mode_{mode}")
            .start()
        )
        q.processAllAvailable()
        spark.createDataFrame(f2, schema).coalesce(1).write.parquet(str(d / "f2"))
        q.processAllAvailable()
        q.stop()
        results[mode] = [
            (r["window_start"], r["n"])
            for r in spark.sql(f"SELECT * FROM mode_{mode}").collect()
        ]

    # complete: full final table, final counts, no duplicates
    assert sorted(results["complete"]) == [(ts(0), 1), (ts(6), 2), (ts(7), 1)]
    # update: window 06:00 emitted in BOTH triggers (1 then 2)
    six = sorted(n for w, n in results["update"] if w == ts(6))
    assert six == [1, 2], results["update"]
    # append: only the watermark-closed 00:00 window; 06:00/07:00 still open
    assert sorted(results["append"]) == [(ts(0), 1)]


def test_apply_in_pandas_with_state_smoke(spark, tmp_path):
    """Arbitrary stateful op: running per-user event count."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ts = lambda m: datetime.datetime(2024, 1, 1, 0, m)  # noqa: E731
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    rows = [(i, ts(i), i % 2, "a", 1.0, "{}") for i in range(10)]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp_path / "f1"))

    def count_fn(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "f*"))
    counted = stream.groupBy("user_id").applyInPandasWithState(
        count_fn,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = counted.writeStream.outputMode("update").format("memory").queryName("state_out").start()
    q.processAllAvailable()
    q.stop()
    got = {r["user_id"]: r["n_events"] for r in spark.sql("SELECT * FROM state_out").collect()}
    assert got == {0: 5, 1: 5}


def test_stream_stream_join_equals_batch(spark, oracle_sf_dir, replay_dir):
    """Stream-stream time-bounded join must produce the batch join's
    rows once all input is processed (watermarks only bound state,
    never drop on-time pairs here: replay is in event-time order)."""
    from git_log_to_sqlite_spark.streaming import typed_event_join

    batch_ev = table(spark, oracle_sf_dir, "events")
    want = _rows(typed_event_join(batch_ev, batch_ev))

    sa = read_events_stream(spark, replay_dir)
    sb = read_events_stream(spark, replay_dir)
    joined = typed_event_join(sa, sb)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = _rows(spark.sql("SELECT * FROM ssj_out"))
    assert got == want, f"stream-stream join != batch ({len(got)} vs {len(want)})"
    assert len(want) > 0, "fixture produced no join pairs — test is vacuous"


def test_incremental_gitlog_ingestion(spark, tmp_path):
    """New log files landing in the watched directory must appear as
    commit rows in the next micro-batch — same parse as batch ETL."""
    from git_log_to_sqlite_spark.etl import read_gitlog_stream

    logdir = tmp_path / "stream_logs"
    logdir.mkdir()

    def block(repo, i):
        h = f"{repo:08x}{i:08x}" + "0" * 24
        return (
            f"\x01{h}\x02\x02Dev\x02d@x.test\x02{1700000000 + i}\x02c{i}\n"
            f"1\t0\tsrc/f{i}.py\n"
        )

    (logdir / "r1.log").write_text(block(1, 0) + block(1, 1))
    stream = read_gitlog_stream(spark, str(logdir))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("gitlog_stream")
        .start()
    )
    q.processAllAvailable()
    n1 = spark.sql("SELECT COUNT(*) c FROM gitlog_stream").collect()[0]["c"]
    assert n1 == 2
    (logdir / "r2.log").write_text(block(2, 0) + block(2, 1) + block(2, 2))
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "SELECT repository, COUNT(*) n FROM gitlog_stream GROUP BY repository"
    ).collect()
    counts = {r["repository"]: r["n"] for r in rows}
    assert counts == {"r1": 2, "r2": 3}


def test_gate_streaming_query_runs_state_store(spark, oracle_sf_dir):
    """The driver-gated streaming queries (plans/stream_queries.py) must
    exercise the REAL streaming stateful machinery — assert the run's
    progress reports a state-store operator with retained rows, so the
    gate row can never silently degrade into a batch shortcut."""
    from git_log_to_sqlite_spark.streaming.replay import (
        read_events_stream,
        run_to_memory,
        tumbling_counts,
    )

    s = read_events_stream(
        spark,
        f"{oracle_sf_dir}/events.parquet",
        max_files_per_trigger=1_000_000,
    )
    q = run_to_memory(tumbling_counts(s), "state_probe_test", output_mode="complete")
    ops = [op for pr in q.recentProgress for op in (pr["stateOperators"] or [])]
    assert any(op["numRowsTotal"] > 0 for op in ops)


def test_dedup_state_evicted_past_watermark(spark, tmp_path):
    """The scale claim behind dropDuplicatesWithinWatermark ("state is
    bounded by the watermark horizon, not stream length") asserted on
    the state store itself, not just output rows: ids whose event time
    falls behind the watermark must leave the state, and a re-arrival
    of an evicted id is re-EMITTED (the honest semantic difference from
    plain dropDuplicates, whose state — and dedup guarantee — is
    unbounded)."""
    import datetime as dt

    ts = lambda h: dt.datetime(2024, 1, 1, h, 0)  # noqa: E731
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    n_ids = 50
    mk = lambda h, ids: [  # noqa: E731
        (i, ts(h), 1, "a", 1.0, "{}") for i in ids
    ]
    # batch 1: hour 0, ids 0..49; batch 2: hour 10, ids 100..149
    # (watermark after batch 2 = 08:00 -> hour-0 state evictable);
    # batch 3: hour 20, ids 200..249 PLUS a re-arrival of id 0.
    spark.createDataFrame(mk(0, range(n_ids)), schema).coalesce(1).write.parquet(
        str(tmp_path / "f1")
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(tmp_path / "f*")
    )
    deduped = dedup_within_watermark(stream)
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("evict_out")
        .start()
    )
    q.processAllAvailable()
    spark.createDataFrame(mk(10, range(100, 100 + n_ids)), schema).coalesce(
        1
    ).write.parquet(str(tmp_path / "f2"))
    q.processAllAvailable()
    rows3 = mk(20, range(200, 200 + n_ids)) + mk(20, [0])
    spark.createDataFrame(rows3, schema).coalesce(1).write.parquet(
        str(tmp_path / "f3")
    )
    q.processAllAvailable()
    state_rows = [
        op["numRowsTotal"]
        for pr in q.recentProgress
        for op in (pr["stateOperators"] or [])
        if op["numRowsTotal"] > 0
    ]
    q.stop()
    # 151 distinct arrivals (the re-arrived id 0 counts twice in output)
    out = spark.sql("SELECT event_id FROM evict_out").collect()
    assert len(out) == 3 * n_ids + 1, len(out)
    assert sorted(r["event_id"] for r in out).count(0) == 2, (
        "an id re-arriving AFTER its state was evicted must re-emit"
    )
    # state never holds all seen ids at once: the max resident rows
    # must stay below the 151 distinct arrivals (hour-0 ids evicted
    # once the watermark passed 02:00).
    assert state_rows and max(state_rows) < 3 * n_ids + 1, state_rows


def test_foreachbatch_incremental_dedup_against_static_history(
    spark, oracle_sf_dir, tmp_path
):
    """The daily-ingest loop as a STREAM: document micro-batches arrive
    via readStream and every batch is deduped against the STATIC
    history signature corpus inside foreachBatch (the production
    pattern for batch-operator reuse on a stream — stream-static work
    per micro-batch, no streaming-state rewrite of the operator). The
    union of per-batch annotations must equal the one-shot batch
    operator on the full increment: micro-batch boundaries cannot
    change what is a duplicate of HISTORY."""
    from git_log_to_sqlite_spark.operators import incremental_minhash_dedup
    from git_log_to_sqlite_spark.plans.registry import table as t

    docs = t(spark, oracle_sf_dir, "documents").select("doc_id", "text")
    history = docs.filter(F.col("doc_id") % 5 != 0)
    increment = docs.filter(F.col("doc_id") % 5 == 0)

    # Two parquet files -> two micro-batches (maxFilesPerTrigger=1).
    inc_dir = str(tmp_path / "inc")
    increment.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        inc_dir + "/f0"
    )
    increment.filter(F.col("doc_id") % 2 != 0).coalesce(1).write.parquet(
        inc_dir + "/f1"
    )

    seen: list = []

    def _dedupe_batch(batch_df, batch_id):
        seen.append(
            (batch_id,
             incremental_minhash_dedup(history, batch_df, "doc_id", "text")
             .collect())
        )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(inc_dir)
    )
    q = stream.writeStream.foreachBatch(_dedupe_batch).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)

    assert len(seen) >= 2, "expected one micro-batch per file"
    got = {r["doc_id"]: (r["dup_of"], r["is_new"]) for _, rows in seen for r in rows}
    want = {
        r["doc_id"]: (r["dup_of"], r["is_new"])
        for r in incremental_minhash_dedup(
            history, increment, "doc_id", "text"
        ).collect()
    }
    assert got == want


def test_stream_static_join_equals_batch(spark, oracle_sf_dir, replay_dir):
    """Stream-static join: the replayed events stream enriched against
    a STATIC dimension (user segment) — the standard streaming
    enrichment shape. The static side needs no watermark and is
    re-planned per micro-batch (broadcastable when small); the result
    must equal the batch twin exactly."""
    from git_log_to_sqlite_spark.plans.registry import table as t
    from git_log_to_sqlite_spark.streaming.replay import read_events_stream

    events = t(spark, oracle_sf_dir, "events")
    segments = (
        events.select("user_id").distinct()
        .withColumn("segment", F.concat(F.lit("seg"), F.col("user_id") % 3))
    )

    def enrich(df):
        return (
            df.join(F.broadcast(segments), "user_id")
            .groupBy("segment")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("total"),
            )
        )

    batch = enrich(events)
    stream = enrich(read_events_stream(spark, replay_dir))
    run_to_memory(stream, "out_stream_static", output_mode="complete")
    got = _rows(spark.sql("SELECT * FROM out_stream_static"))
    assert got == _rows(batch)


def test_ivf_index_streaming_append(spark, oracle_sf_dir, tmp_path):
    """The persisted ANN index's daily-ingest loop (IvfIndex.append):
    build on the day-0 corpus, stream three daily embedding batches
    through foreachBatch append, and the grown index must probe
    IDENTICALLY to the in-memory operator over the full corpus under
    the build-time quantizer — append never refits mid-stream, every
    appended row lands in its deterministic cell, and cell_sizes
    accounts for the whole corpus."""
    import os
    import time

    from git_log_to_sqlite_spark.operators import IvfIndex, ivf_ann_topk

    emb = spark.read.parquet(f"{oracle_sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    day0 = emb.filter(F.col("vec_id") % 4 == 0)
    idx = IvfIndex(spark, str(tmp_path / "ivf_stream"))
    idx.build(day0, k=4, max_iter=10, fit_sample_size=64)
    cents = idx.centroids()

    inc_dir = str(tmp_path / "ivf_days")
    for d in (1, 2, 3):
        p = os.path.join(inc_dir, f"day{d}")
        emb.filter(F.col("vec_id") % 4 == d).coalesce(1).write.parquet(p)
        stamp = time.time() - 300 + d * 60
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (stamp, stamp))

    q = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(inc_dir)
        .writeStream.foreachBatch(lambda batch_df, _id: idx.append(batch_df))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    assert idx.centroids() == cents  # the stream never refit the quantizer
    queries = emb.filter(F.col("vec_id") < 10)
    got = {tuple(r) for r in idx.probe(queries, n_probe=2, k=5).collect()}
    want = {
        tuple(r)
        for r in ivf_ann_topk(
            queries, emb, "vec_id", "embedding", cents, n_probe=2, k=5
        ).collect()
    }
    assert got == want and len(got) > 0
    sizes = {r["cell"]: r["n_vectors"] for r in idx.cell_sizes().collect()}
    assert sum(sizes.values()) == emb.count()


