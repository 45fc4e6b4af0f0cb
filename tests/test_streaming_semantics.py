"""Streaming semantics tests (SURVEY.md §5.2): watermark drops late
rows, dropDuplicatesWithinWatermark dedups, windowed aggregation over a
file stream matches the batch equivalent."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType, TimestampType)

SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
])


def write_jsonl(path: str, name: str, rows: list[dict]):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_stream(spark, in_dir, ckpt, build, query_name):
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).json(in_dir))
    q = (build(stream).writeStream.format("memory").queryName(query_name)
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving 2 h behind the watermark is dropped from the
    windowed aggregate; the reference instead silently lost ALL data
    across restarts (consumer/consumer.go:64) — here loss is bounded
    and declared by the watermark."""
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")

    def build(stream):
        return (stream.withWatermark("ts", "30 minutes")
                .groupBy(F.window("ts", "1 hour"))
                .agg(F.count("*").alias("n")))

    # pass 1: advance event time to 12:00 (watermark -> 11:30, persisted
    # in the checkpoint commit log)
    write_jsonl(in_dir, "a.jsonl", [
        {"event_id": 1, "ts": "2024-01-01T10:30:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T12:00:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0},
    ])
    out_dir = str(tmp_path / "out")

    def run_pass():
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).json(in_dir))
        q = (build(stream)
             .select(F.col("window.start").cast("string").alias("w"), "n")
             .writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_pass()
    # pass 2 (restart from checkpoint): a 10:00 straggler behind the
    # watermark, plus a 13:00 row that advances it further
    write_jsonl(in_dir, "b.jsonl", [
        {"event_id": 3, "ts": "2024-01-01T10:00:00Z", "user_id": 2,
         "event_type": "click", "value": 1.0},  # late beyond 30 min watermark
        {"event_id": 4, "ts": "2024-01-01T13:00:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0},
    ])
    run_pass()
    emitted = [(r["w"], r["n"]) for r in spark.read.parquet(out_dir).collect()]
    # the 10:00 window is finalized exactly once, with only event 1 —
    # the late event 3 neither inflates nor re-emits it
    tens = [n for w, n in emitted if w == "2024-01-01 10:00:00"]
    assert tens == [1]


def test_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a replayed event_id within the
    watermark window is emitted exactly once."""
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    row = {"event_id": 1, "ts": "2024-01-01T10:00:00Z", "user_id": 1,
           "event_type": "click", "value": 1.0}
    write_jsonl(in_dir, "a.jsonl", [row, row])
    write_jsonl(in_dir, "b.jsonl", [row,
        {"event_id": 2, "ts": "2024-01-01T10:05:00Z", "user_id": 1,
         "event_type": "click", "value": 2.0}])

    def build(stream):
        return (stream.withWatermark("ts", "1 hour")
                .dropDuplicatesWithinWatermark(["event_id"]))

    _run_stream(spark, in_dir, ckpt, build, "dedup_wm")
    ids = [r["event_id"] for r in spark.sql("select * from dedup_wm").collect()]
    assert sorted(ids) == [1, 2]


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream interval join: purchases within 1 h
    after each view, per user — the streaming result equals the batch
    interval_join over the same rows (same operator, same code path).
    This is the join the reference's cascade could not express (the
    hard-coded-3500 amount loss, consumer/consumer.go:195-198)."""
    from event_streaming_bnpl_demo_spark.operators.interval import interval_join

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    t = "2026-01-01T{:02d}:{:02d}:00.000Z"
    rows = [
        {"event_id": 1, "ts": t.format(10, 0), "user_id": 7,
         "event_type": "view", "value": 1.0},
        {"event_id": 2, "ts": t.format(10, 30), "user_id": 7,
         "event_type": "purchase", "value": 99.0},   # within 1 h of view 1
        {"event_id": 3, "ts": t.format(12, 0), "user_id": 7,
         "event_type": "purchase", "value": 5.0},    # outside the hour
        {"event_id": 4, "ts": t.format(10, 15), "user_id": 8,
         "event_type": "purchase", "value": 3.0},    # other user
    ]
    write_jsonl(in_dir, "a.jsonl", rows)

    def split(df):
        views = df.filter(F.col("event_type") == "view").select(
            "user_id", F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"))
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("event_id").alias("p_id"),
            F.col("ts").alias("p_ts"), F.col("value").alias("p_value"))
        return views, purchases

    def joined(views, purchases):
        return interval_join(views, purchases, "user_id",
                             "v_ts", "p_ts", "1 HOUR")

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).json(in_dir))
    v, p = split(stream)
    q = (joined(v.withWatermark("v_ts", "2 hours"),
                p.withWatermark("p_ts", "2 hours"))
         .writeStream.format("memory").queryName("ssj")
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = sorted(
        (r["view_id"], r["p_id"], r["p_value"])
        for r in spark.sql("select * from ssj").collect())

    bv, bp = split(spark.read.schema(SCHEMA).json(in_dir))
    batch = sorted((r["view_id"], r["p_id"], r["p_value"])
                   for r in joined(bv, bp).collect())
    assert streamed == batch == [(1, 2, 99.0)]


def test_stream_stream_outer_join(spark, tmp_path):
    """Watermarked stream-stream LEFT OUTER interval join: a view with
    no purchase inside the hour emits a null-extended row once the
    watermark passes its join bound — state is closed, not retained
    forever. A late sentinel file advances the watermark so the outer
    result can actually emit under availableNow."""
    from event_streaming_bnpl_demo_spark.operators.interval import (
        interval_join)

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    t = "2026-01-01T{:02d}:{:02d}:00.000Z"
    rows = [
        {"event_id": 1, "ts": t.format(10, 0), "user_id": 7,
         "event_type": "view", "value": 1.0},
        {"event_id": 2, "ts": t.format(10, 30), "user_id": 7,
         "event_type": "purchase", "value": 99.0},   # matches view 1
        {"event_id": 3, "ts": t.format(10, 5), "user_id": 8,
         "event_type": "view", "value": 1.0},        # never matched
    ]
    write_jsonl(in_dir, "a.jsonl", rows)
    # Sentinels far in the future, on BOTH sides: the global watermark
    # is the MIN of the two input watermarks, so a one-sided sentinel
    # would never advance it. Two sentinel files because outer results
    # emit in the batch AFTER the watermark passes their bound.
    #
    # The sentinels must NOT be filtered inside the query: a filter on
    # left-side columns pushes below the left-outer join — and below
    # the watermark operator — so filtered sentinel views would never
    # advance the view-side watermark. They are dropped post-collect.
    for name, day, vid, pid in (("b.jsonl", 2, 98, 99),
                                ("c.jsonl", 3, 100, 101)):
        write_jsonl(in_dir, name, [
            {"event_id": vid, "ts": f"2026-01-0{day}T12:00:00.000Z",
             "user_id": 0, "event_type": "view", "value": 0.0},
            {"event_id": pid, "ts": f"2026-01-0{day}T12:05:00.000Z",
             "user_id": 0, "event_type": "purchase", "value": 0.0}])
    # the file source admits oldest-mtime first: pin mtimes so the real
    # data is batch 0 and the sentinel batches follow (maxFilesPerTrigger=1)
    now = time.time()
    for i, name in enumerate(["a.jsonl", "b.jsonl", "c.jsonl"]):
        os.utime(os.path.join(in_dir, name),
                 (now - 60 + i * 20, now - 60 + i * 20))

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).json(in_dir))
    v = stream.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"))
    p = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"), F.col("value").alias("p_value"))
    q = (interval_join(v.withWatermark("v_ts", "10 minutes"),
                       p.withWatermark("p_ts", "10 minutes"),
                       "user_id", "v_ts", "p_ts", "1 HOUR", how="left")
         .select("view_id", "p_id", "p_value")
         .writeStream.format("memory").queryName("ssoj")
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = sorted(
        (r["view_id"], r["p_id"], r["p_value"])
        for r in spark.sql("select * from ssoj").collect()
        if r["view_id"] < 90)  # drop watermark sentinels
    assert streamed == [(1, 2, 99.0), (3, None, None)]


def test_stream_window_matches_batch(spark, tmp_path):
    """The tumbling-window aggregate under readStream equals the batch
    groupBy on the same data — one transform library, two run modes."""
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    rows = [
        {"event_id": i, "ts": f"2024-01-01T10:{i:02d}:00Z", "user_id": i % 3,
         "event_type": "click", "value": float(i)}
        for i in range(30)
    ]
    write_jsonl(in_dir, "a.jsonl", rows[:15])
    write_jsonl(in_dir, "b.jsonl", rows[15:])

    def agg(df):
        return (df.groupBy(F.window("ts", "10 minutes").alias("w"))
                .agg(F.count("*").alias("n"),
                     F.sum("value").cast("double").alias("s")))

    _run_stream(spark, in_dir, ckpt,
                lambda s: agg(s.withWatermark("ts", "0 seconds")),
                "win_stream")
    # append mode only emits closed windows; compare those against batch
    batch = {str(r["w"]["start"]): (r["n"], r["s"])
             for r in agg(spark.read.schema(SCHEMA).json(in_dir)).collect()}
    streamed = {str(r["w"]["start"]): (r["n"], r["s"])
                for r in spark.sql("select * from win_stream").collect()}
    assert streamed  # at least the first windows closed
    for k, v in streamed.items():
        assert batch[k] == v


def test_python_datasource_stream(spark, tmp_path):
    """The custom Python DataSource's streaming reader: micro-batches
    serve consecutive index ranges, so the memory sink holds an exact
    deterministic prefix of the generator — and readBetweenOffsets
    regenerates any committed range (replay = exactly-once by
    determinism)."""
    from event_streaming_bnpl_demo_spark.sources.pydatasource import (
        _row, register_datasource)

    register_datasource(spark)
    q = (spark.readStream.format("bnpl_synthetic")
         .option("rowsPerBatch", 50).load()
         .writeStream.format("memory").queryName("pyds")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="0 seconds").start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.sql("select count(*) c from pyds").collect()[0]["c"]
            if n >= 100:
                break
            time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination()
    rows = sorted((r["event_id"], r["user_id"], r["event_type"], r["amount"])
                  for r in spark.sql("select * from pyds").collect())
    assert len(rows) >= 100
    assert rows == [_row(i) for i in range(len(rows))]


def test_python_datasource_batch_writer(spark, tmp_path):
    """The custom DataSource's batch writer: per-task temp files, one
    driver-side rename commit — reading the committed output back
    yields exactly the written rows, and no temp files survive."""
    from event_streaming_bnpl_demo_spark.sources.pydatasource import (
        SCHEMA as PYDS_SCHEMA, _row, register_datasource)

    register_datasource(spark)
    out = str(tmp_path / "out")
    (spark.read.format("bnpl_synthetic").option("rows", 500).load()
     .write.format("bnpl_synthetic").option("path", out)
     .mode("append").save())
    files = os.listdir(out)
    assert files and all(f.startswith("part-") for f in files)
    back = sorted(
        (r["event_id"], r["user_id"], r["event_type"], r["amount"])
        for r in spark.read.schema(PYDS_SCHEMA).json(out).collect())
    assert back == [_row(i) for i in range(500)]


def test_python_datasource_stream_writer(spark, tmp_path):
    """The custom DataSource's streaming writer commits one directory
    per epoch; the union of all epochs is an exact prefix of the
    generator (no loss, no duplication across micro-batches)."""
    from event_streaming_bnpl_demo_spark.sources.pydatasource import (
        SCHEMA as PYDS_SCHEMA, _row, register_datasource)

    register_datasource(spark)
    out = str(tmp_path / "out")
    q = (spark.readStream.format("bnpl_synthetic")
         .option("rowsPerBatch", 40).load()
         .writeStream.format("bnpl_synthetic").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="0 seconds").start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            epochs = [d for d in os.listdir(out)
                      if d.startswith("epoch=")] if os.path.isdir(out) else []
            if len(epochs) >= 2:
                break
            time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination()
    back = sorted(
        (r["event_id"], r["user_id"], r["event_type"], r["amount"])
        for r in spark.read.schema(PYDS_SCHEMA)
        .json(os.path.join(out, "epoch=*")).collect())
    assert len(back) >= 80
    assert back == [_row(i) for i in range(len(back))]


def test_two_hop_streaming_dag(spark, tmp_path):
    """The reference's multi-stage dataflow (derived events re-enter
    the stream, SURVEY §3.2) as an explicit two-hop streaming DAG: hop
    A's parquet sink is hop B's file-stream source, each hop
    independently checkpointed. The engine's default flattens the
    cascade into one micro-batch (BnplPipeline), but the faithful
    multi-query topology must also work — sinks are valid sources.

    Hop A: raw events -> typed parquet log.
    Hop B: log -> per-type running counts.
    """
    in_dir = str(tmp_path / "in")
    mid = str(tmp_path / "mid")        # hop A sink = hop B source
    rows = [
        {"event_id": i, "ts": f"2026-01-01T10:00:{i:02d}.000Z",
         "user_id": i % 3, "event_type": t, "value": float(i)}
        for i, t in enumerate(["view", "view", "purchase", "view",
                               "purchase", "refund"])
    ]
    write_jsonl(in_dir, "a.jsonl", rows)

    qa = (spark.readStream.schema(SCHEMA).json(in_dir)
          .writeStream.format("parquet")
          .option("path", mid)
          .option("checkpointLocation", str(tmp_path / "ck_a"))
          .trigger(availableNow=True).start())
    qa.awaitTermination()

    qb = (spark.readStream.schema(SCHEMA).parquet(mid)
          .groupBy("event_type")
          .agg(F.count(F.lit(1)).alias("n"))
          .writeStream.format("memory").queryName("hop_b")
          .outputMode("complete")
          .option("checkpointLocation", str(tmp_path / "ck_b"))
          .trigger(availableNow=True).start())
    qb.awaitTermination()

    got = {r["event_type"]: r["n"]
           for r in spark.sql("select * from hop_b").collect()}
    assert got == {"view": 3, "purchase": 2, "refund": 1}

    # late second wave: BOTH hops resume from their checkpoints and
    # the downstream aggregate sees exactly the new rows once
    write_jsonl(in_dir, "b.jsonl", [
        {"event_id": 9, "ts": "2026-01-01T10:01:00.000Z", "user_id": 0,
         "event_type": "view", "value": 9.0}])
    for name, fn in (("a2", lambda: spark.readStream.schema(SCHEMA)
                      .json(in_dir).writeStream.format("parquet")
                      .option("path", mid)
                      .option("checkpointLocation", str(tmp_path / "ck_a"))
                      .trigger(availableNow=True).start()),):
        q = fn(); q.awaitTermination()
    qb2 = (spark.readStream.schema(SCHEMA).parquet(mid)
           .groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"))
           .writeStream.format("memory").queryName("hop_b2")
           .outputMode("complete")
           .option("checkpointLocation", str(tmp_path / "ck_b"))
           .trigger(availableNow=True).start())
    qb2.awaitTermination()
    got2 = {r["event_type"]: r["n"]
            for r in spark.sql("select * from hop_b2").collect()}
    assert got2 == {"view": 4, "purchase": 2, "refund": 1}


import pytest


_TWS_SKIP = pytest.mark.skipif(
    __import__("tests.test_bnpl_pipeline", fromlist=["_has_protobuf"])
    ._has_protobuf() is False,
    reason="transformWithState needs google.protobuf (or the shim)")


@pytest.mark.parametrize("api", [
    "group_state",
    "bucketed",
    pytest.param("transform_with_state", marks=_TWS_SKIP),
    pytest.param("tws_bucketed", marks=_TWS_SKIP),
])
def test_stream_asof_corrects_out_of_order_arrival(spark, tmp_path, api):
    """The stateful as-of operator's defining property, on all FOUR
    folds (per-user applyInPandasWithState, the bucketed flagship fold,
    and both on Spark 4 transformWithStateInPandas/ListState): a view
    arriving a micro-batch AFTER its purchase retroactively upgrades
    the match. Batch 1 delivers the purchase (and an older view);
    batch 2 delivers a better (later, still-prior) view; the fixpoint
    must match the batch-2 view."""
    import contextlib
    import os
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from event_streaming_bnpl_demo_spark.streaming.asof_state import (
        ASOF_BUCKETS, ASOF_OUTPUT_SCHEMA, ASOF_STATE_SCHEMA,
        BUCKETED_STATE_SCHEMA, NO_TIMEOUT, AsofProcessor,
        BucketedAsofProcessor, asof_update, asof_update_bucketed)
    from event_streaming_bnpl_demo_spark.streaming.state import \
        rocksdb_state_store

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    os.makedirs(in_dir)
    cols = ["user_id", "event_id", "event_type", "ts_us"]
    b1 = [(1, 100, "purchase", 1_000_000_000),
          (1, 10, "view", 100_000_000)]
    b2 = [(1, 20, "view", 900_000_000),    # later prior view -> must win
          (1, 30, "view", 2_000_000_000)]  # AFTER the purchase -> ignored
    spark.createDataFrame(b1, cols).coalesce(1).write.parquet(in_dir + "/f1")
    spark.createDataFrame(b2, cols).coalesce(1).write.parquet(in_dir + "/f2")
    # file-source batches order by modification time: force f1 first
    now = time.time()
    for sub, mt in (("f1", now - 60), ("f2", now)):
        d = os.path.join(in_dir, sub)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (mt, mt))

    stream = (spark.readStream
              .schema("user_id long, event_id long, event_type string, "
                      "ts_us long")
              .option("maxFilesPerTrigger", "1")
              .parquet(in_dir + "/f*"))
    grouped = stream.groupBy("user_id")
    if api == "group_state":
        matched = grouped.applyInPandasWithState(
            asof_update, outputStructType=ASOF_OUTPUT_SCHEMA,
            stateStructType=ASOF_STATE_SCHEMA, outputMode="update",
            timeoutConf=NO_TIMEOUT)
        provider = contextlib.nullcontext()
    elif api == "bucketed":
        matched = (stream
                   .withColumn("bucket", F.pmod(F.col("user_id"),
                                                F.lit(ASOF_BUCKETS)))
                   .groupBy("bucket")
                   .applyInPandasWithState(
                       asof_update_bucketed,
                       outputStructType=ASOF_OUTPUT_SCHEMA,
                       stateStructType=BUCKETED_STATE_SCHEMA,
                       outputMode="update", timeoutConf=NO_TIMEOUT))
        provider = contextlib.nullcontext()
    elif api == "tws_bucketed":
        matched = (stream
                   .withColumn("bucket", F.pmod(F.col("user_id"),
                                                F.lit(ASOF_BUCKETS)))
                   .groupBy("bucket")
                   .transformWithStateInPandas(
                       BucketedAsofProcessor(),
                       outputStructType=ASOF_OUTPUT_SCHEMA,
                       outputMode="update", timeMode="none"))
        provider = rocksdb_state_store(spark)
    else:
        matched = grouped.transformWithStateInPandas(
            AsofProcessor(), outputStructType=ASOF_OUTPUT_SCHEMA,
            outputMode="update", timeMode="none")
        provider = rocksdb_state_store(spark)
    with provider:
        q = (matched
             .writeStream.format("memory").queryName(f"sasof_ooo_{api}")
             .outputMode("update").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
    q.awaitTermination()

    emitted = spark.table(f"sasof_ooo_{api}")
    assert emitted.count() >= 2, "expected one emission per batch"
    w = Window.partitionBy("purchase_id").orderBy(F.desc("version"))
    final = (emitted.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == 1).collect())
    assert len(final) == 1
    assert final[0]["purchase_id"] == 100
    assert final[0]["view_id"] == 20          # upgraded by batch 2
    assert final[0]["seconds_since_view"] == 100   # 1000 s - 900 s
    # and the batch-1 emission really did carry the stale match
    first = (emitted.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("purchase_id").orderBy(F.asc("version"))))
        .filter(F.col("rn") == 1).collect())
    assert first[0]["view_id"] == 10


def test_stream_asof_bucketed_ties_and_cobucket(spark, tmp_path):
    """Adversarial edges of the bucketed fold, the exact places a
    grouped merge_asof could diverge from the per-user searchsorted
    reference: (a) two views with IDENTICAL timestamps — the larger
    event_id must win (the oracle's ORDER BY ts DESC, event_id DESC);
    (b) a view at exactly the purchase timestamp — inclusive match;
    (c) two users in the SAME bucket (ids ≡ mod ASOF_BUCKETS) with
    interleaved timestamps — no cross-user leakage; (d) a view in a
    later batch retro-upgrading only the affected user's purchase
    while the co-bucketed user's match must NOT be re-emitted. The
    fixpoint is asserted against the per-user fold run on the same
    two-batch input."""
    import os
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from event_streaming_bnpl_demo_spark.streaming.asof_state import (
        ASOF_BUCKETS, ASOF_OUTPUT_SCHEMA, ASOF_STATE_SCHEMA,
        BUCKETED_STATE_SCHEMA, NO_TIMEOUT, asof_update,
        asof_update_bucketed)

    u1, u2 = 7, 7 + ASOF_BUCKETS          # same bucket by construction
    cols = ["user_id", "event_id", "event_type", "ts_us"]
    b1 = [
        # (a) duplicate-ts views: ids 5 and 9 at ts=100 -> 9 must win
        (u1, 5, "view", 100), (u1, 9, "view", 100),
        # (b) purchase exactly AT the tie ts -> inclusive match to 9
        (u1, 100, "purchase", 100),
        # (c) co-bucketed user, interleaved ts
        (u2, 11, "view", 90), (u2, 200, "purchase", 150),
        # purchase before ANY view for u2's second purchase
        (u2, 201, "purchase", 50),
    ]
    b2 = [
        # (d) retro view for u2's early purchase; u1 untouched
        (u2, 12, "view", 40),
    ]
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(b1, cols).coalesce(1).write.parquet(in_dir + "/f1")
    spark.createDataFrame(b2, cols).coalesce(1).write.parquet(in_dir + "/f2")
    now = time.time()
    for sub, mt in (("f1", now - 60), ("f2", now)):
        d = os.path.join(in_dir, sub)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (mt, mt))

    def run(mode: str):
        stream = (spark.readStream
                  .schema("user_id long, event_id long, "
                          "event_type string, ts_us long")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(in_dir + "/f*"))
        if mode == "bucketed":
            matched = (stream
                       .withColumn("bucket",
                                   F.pmod(F.col("user_id"),
                                          F.lit(ASOF_BUCKETS)))
                       .groupBy("bucket")
                       .applyInPandasWithState(
                           asof_update_bucketed,
                           outputStructType=ASOF_OUTPUT_SCHEMA,
                           stateStructType=BUCKETED_STATE_SCHEMA,
                           outputMode="update", timeoutConf=NO_TIMEOUT))
        else:
            matched = stream.groupBy("user_id").applyInPandasWithState(
                asof_update, outputStructType=ASOF_OUTPUT_SCHEMA,
                stateStructType=ASOF_STATE_SCHEMA, outputMode="update",
                timeoutConf=NO_TIMEOUT)
        name = f"sasof_ties_{mode}"
        q = (matched.writeStream.format("memory").queryName(name)
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / f"ck_{mode}"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        emitted = spark.table(name)
        w = Window.partitionBy("purchase_id").orderBy(F.desc("version"))
        fix = (emitted.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1)
               .select("user_id", "purchase_id", "view_id",
                       "seconds_since_view"))
        return emitted, {r["purchase_id"]: (r["user_id"], r["view_id"],
                                            r["seconds_since_view"])
                         for r in fix.collect()}

    emitted_b, fix_b = run("bucketed")
    _, fix_u = run("per_user")
    expected = {
        100: (u1, 9, 0),      # tie -> larger id, inclusive, 0 seconds
        200: (u2, 11, 0),     # 150us and 90us are the same second
        201: (u2, 12, 0),     # retro-matched by batch 2
    }
    assert fix_b == expected
    assert fix_u == expected
    # (d) emit-on-change: batch 2 touches only purchase 201 — exactly
    # one emission may carry the final bucket version
    per_purchase = {r["purchase_id"]: r["cnt"] for r in
                    emitted_b.groupBy("purchase_id")
                    .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert per_purchase == {100: 1, 200: 1, 201: 2}, per_purchase


def test_stream_asof_bucketed_equals_per_user_randomized(spark, tmp_path):
    """Seeded randomized cross-fold law: on 300 events over 12 users
    (four co-bucketed pairs), timestamps drawn from a tiny range so
    duplicate-ts ties are COMMON, scrambled into 3 arrival batches —
    the bucketed fold's fixpoint must equal the per-user reference
    fold's, purchase for purchase. This is the fuzzing complement to
    the crafted-edge test above: ties, co-bucket interleave, and
    retro-correction all occur many times at random positions."""
    import os
    import random
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from event_streaming_bnpl_demo_spark.streaming.asof_state import (
        ASOF_BUCKETS, ASOF_OUTPUT_SCHEMA, ASOF_STATE_SCHEMA,
        BUCKETED_STATE_SCHEMA, NO_TIMEOUT, BucketedAsofProcessor,
        asof_update, asof_update_bucketed)
    from event_streaming_bnpl_demo_spark.streaming.state import \
        rocksdb_state_store

    rng = random.Random(42)
    users = [1, 2, 3, 4, 1 + ASOF_BUCKETS, 2 + ASOF_BUCKETS,
             3 + ASOF_BUCKETS, 4 + ASOF_BUCKETS,
             1 + 2 * ASOF_BUCKETS, 5, 6, 7]
    rows = []
    for eid in range(300):
        rows.append((rng.choice(users), eid,
                     "view" if rng.random() < 0.7 else "purchase",
                     rng.randrange(0, 40) * 1_000_000))  # heavy ts ties
    rng.shuffle(rows)
    batches = [rows[0:100], rows[100:200], rows[200:300]]
    in_dir = str(tmp_path / "in")
    cols = ["user_id", "event_id", "event_type", "ts_us"]
    now = time.time()
    for i, b in enumerate(batches):
        sub = f"{in_dir}/f{i}"
        spark.createDataFrame(b, cols).coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            os.utime(os.path.join(sub, f), (now - 60 + i, now - 60 + i))

    def fixpoint(mode: str) -> dict:
        import contextlib

        stream = (spark.readStream
                  .schema("user_id long, event_id long, "
                          "event_type string, ts_us long")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(in_dir + "/f*"))
        provider = contextlib.nullcontext()
        if mode == "bucketed":
            matched = (stream
                       .withColumn("bucket",
                                   F.pmod(F.col("user_id"),
                                          F.lit(ASOF_BUCKETS)))
                       .groupBy("bucket")
                       .applyInPandasWithState(
                           asof_update_bucketed,
                           outputStructType=ASOF_OUTPUT_SCHEMA,
                           stateStructType=BUCKETED_STATE_SCHEMA,
                           outputMode="update", timeoutConf=NO_TIMEOUT))
        elif mode == "tws_bucketed":
            matched = (stream
                       .withColumn("bucket",
                                   F.pmod(F.col("user_id"),
                                          F.lit(ASOF_BUCKETS)))
                       .groupBy("bucket")
                       .transformWithStateInPandas(
                           BucketedAsofProcessor(),
                           outputStructType=ASOF_OUTPUT_SCHEMA,
                           outputMode="update", timeMode="none"))
            provider = rocksdb_state_store(spark)
        else:
            matched = stream.groupBy("user_id").applyInPandasWithState(
                asof_update, outputStructType=ASOF_OUTPUT_SCHEMA,
                stateStructType=ASOF_STATE_SCHEMA, outputMode="update",
                timeoutConf=NO_TIMEOUT)
        name = f"sasof_rand_{mode}"
        with provider:
            q = (matched.writeStream.format("memory").queryName(name)
                 .outputMode("update")
                 .option("checkpointLocation", str(tmp_path / f"ck_{mode}"))
                 .trigger(availableNow=True).start())
        q.awaitTermination()
        w = Window.partitionBy("purchase_id").orderBy(F.desc("version"))
        return {r["purchase_id"]: (r["user_id"], r["view_id"],
                                   r["seconds_since_view"])
                for r in (spark.table(name)
                          .withColumn("rn", F.row_number().over(w))
                          .filter(F.col("rn") == 1).collect())}

    fb, fu = fixpoint("bucketed"), fixpoint("per_user")
    n_purchases = sum(1 for r in rows if r[2] == "purchase")
    assert len(fu) == n_purchases
    assert fb == fu
    from .test_bnpl_pipeline import _has_protobuf
    if _has_protobuf():
        # the Spark 4 typed-state port must land on the SAME fixpoint
        assert fixpoint("tws_bucketed") == fu


def test_bucket_match_exact_above_2_53():
    """_bucket_match must keep ids/timestamps exact across the FULL
    int64 domain: merge_asof emits missing values for unmatched rows,
    and a float64 round-trip would silently round any value >= 2^53
    (e.g. snowflake-style event ids). Values here are chosen so the
    nearest float64 differs from the exact int."""
    import numpy as np

    from event_streaming_bnpl_demo_spark.streaming.asof_state import \
        _bucket_match

    big_id = (1 << 60) + 1          # not representable in float64
    big_ts = (1 << 57) + 3          # ditto
    u_v = np.array([7, 7], dtype=np.int64)
    v_ts = np.array([big_ts, 10], dtype=np.int64)
    v_id = np.array([big_id, 42], dtype=np.int64)
    # purchase 1: after big_ts -> matches the huge view exactly;
    # purchase 2 (user 8): no view -> -1/0 sentinel path still works
    u_p = np.array([7, 8], dtype=np.int64)
    p_ts = np.array([big_ts + 5, 100], dtype=np.int64)
    vid, vts = _bucket_match(u_v, v_ts, v_id, u_p, p_ts)
    assert vid.tolist() == [big_id, -1]
    assert vts.tolist() == [big_ts, 0]
    assert vid.dtype == np.int64 and vts.dtype == np.int64


def test_stream_asof_ttl_bounds_correction(spark, tmp_path):
    """The bounded-state trade-off, demonstrated: with a watermark +
    event-time TTL, a view arriving after other traffic has pushed the
    watermark far past the purchase can no longer upgrade the match —
    the purchase keeps its stale (null) match, while the unbounded
    variant (test above) would have corrected it. State eviction is
    the price of bounded memory, and it is OBSERVABLE, not silent."""
    import os
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from event_streaming_bnpl_demo_spark.streaming.asof_state import (
        ASOF_OUTPUT_SCHEMA, ASOF_STATE_SCHEMA, EVENT_TIME_TIMEOUT,
        asof_update_ttl)

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    os.makedirs(in_dir)
    cols = ["user_id", "event_id", "event_type", "ts_us"]
    hour_us = 3_600_000_000
    # b1: user 1's purchase at t=1h (no view yet)
    b1 = [(1, 100, "purchase", 1 * hour_us)]
    # b2: user 2 traffic two days later -> watermark passes 1h + TTL
    b2 = [(2, 200, "view", 48 * hour_us)]
    # b3: user 1's view from t=0.5h arrives late -> state already
    # evicted AND the row is behind the watermark: no correction
    b3 = [(1, 10, "view", hour_us // 2)]
    for i, rows in enumerate([b1, b2, b3], 1):
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(
            f"{in_dir}/f{i}")
    now = time.time()
    for i in (1, 2, 3):
        d = f"{in_dir}/f{i}"
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now - 60 + i, now - 60 + i))

    stream = (spark.readStream
              .schema("user_id long, event_id long, event_type string, "
                      "ts_us long")
              .option("maxFilesPerTrigger", "1")
              .parquet(in_dir + "/f*")
              .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
              .withWatermark("ts", "1 hour"))
    q = (stream.groupBy("user_id")
         .applyInPandasWithState(
             asof_update_ttl(ttl_s=3600),
             outputStructType=ASOF_OUTPUT_SCHEMA,
             stateStructType=ASOF_STATE_SCHEMA, outputMode="update",
             timeoutConf=EVENT_TIME_TIMEOUT)
         .writeStream.format("memory").queryName("sasof_ttl")
         .outputMode("update").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    emitted = spark.table("sasof_ttl")
    w = Window.partitionBy("purchase_id").orderBy(F.desc("version"))
    final = {r["purchase_id"]: r for r in
             (emitted.filter(F.col("purchase_id").isNotNull())
              .withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1).collect())}
    # the purchase exists but its match was NEVER corrected
    assert 100 in final
    assert final[100]["view_id"] is None


@_TWS_SKIP
def test_stream_asof_tws_ttl_bounds_correction(spark, tmp_path):
    """The same bounded-state trade on the transformWithState twin
    (BucketedAsofProcessorTTL): watermark-driven event-time timers
    evict the bucket's buffers, and a view arriving behind the
    watermark is dropped by the processor — so the stale (null) match
    survives exactly as in the GroupState member. Exercises BOTH
    eviction paths: handleExpiredTimer (timer fired when other
    traffic pushed the watermark past the horizon) and the
    late-row drop."""
    import os
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from event_streaming_bnpl_demo_spark.streaming.asof_state import (
        ASOF_BUCKETS, ASOF_OUTPUT_SCHEMA, BucketedAsofProcessorTTL)
    from event_streaming_bnpl_demo_spark.streaming.state import \
        rocksdb_state_store

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    os.makedirs(in_dir)
    cols = ["user_id", "event_id", "event_type", "ts_us"]
    hour_us = 3_600_000_000
    b1 = [(1, 100, "purchase", 1 * hour_us)]
    b2 = [(2, 200, "view", 48 * hour_us)]       # other-bucket traffic
    b3 = [(1, 10, "view", hour_us // 2)]        # late, would upgrade
    for i, rows in enumerate([b1, b2, b3], 1):
        spark.createDataFrame(rows, cols).coalesce(1).write.parquet(
            f"{in_dir}/f{i}")
    now = time.time()
    for i in (1, 2, 3):
        d = f"{in_dir}/f{i}"
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now - 60 + i, now - 60 + i))

    stream = (spark.readStream
              .schema("user_id long, event_id long, event_type string, "
                      "ts_us long")
              .option("maxFilesPerTrigger", "1")
              .parquet(in_dir + "/f*")
              .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
              .withWatermark("ts", "1 hour")
              .withColumn("bucket", F.pmod(F.col("user_id"),
                                           F.lit(ASOF_BUCKETS))))
    with rocksdb_state_store(spark):
        q = (stream.groupBy("bucket")
             .transformWithStateInPandas(
                 BucketedAsofProcessorTTL(ttl_s=3600),
                 outputStructType=ASOF_OUTPUT_SCHEMA,
                 outputMode="update", timeMode="eventTime")
             .writeStream.format("memory").queryName("sasof_tws_ttl")
             .outputMode("update").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    emitted = spark.table("sasof_tws_ttl")
    w = Window.partitionBy("purchase_id").orderBy(F.desc("version"))
    final = {r["purchase_id"]: r for r in
             (emitted.filter(F.col("purchase_id").isNotNull())
              .withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1).collect())}
    assert 100 in final
    assert final[100]["view_id"] is None


def test_stream_asof_ttl_equals_unbounded_within_horizon(spark, tmp_path):
    """The other half of the TTL law: while every arrival stays INSIDE
    the retention horizon (no state evicted, nothing behind the
    watermark), the bounded fold must land on EXACTLY the unbounded
    fold's fixpoint — the TTL knob only trades away correction depth
    beyond the horizon (the test above), it never perturbs semantics
    within it. Input includes the hard cases: out-of-order arrival, a
    retroactive upgrade, ts ties, and a never-matched purchase."""
    import os
    import random
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from event_streaming_bnpl_demo_spark.streaming.asof_state import (
        ASOF_OUTPUT_SCHEMA, ASOF_STATE_SCHEMA, EVENT_TIME_TIMEOUT,
        NO_TIMEOUT, asof_update, asof_update_ttl)

    # 200 events over 8 users inside a 30-minute event-time span:
    # a 1 h watermark delay + 24 h TTL means nothing is ever late and
    # no state can expire — the bounded path must be exact.
    rng = random.Random(99)
    rows = []
    for eid in range(200):
        rows.append((rng.randrange(1, 9), eid,
                     "view" if rng.random() < 0.7 else "purchase",
                     rng.randrange(0, 1800) * 1_000_000))  # ties common
    rng.shuffle(rows)
    batches = [rows[0:70], rows[70:140], rows[140:200]]
    in_dir = str(tmp_path / "in")
    cols = ["user_id", "event_id", "event_type", "ts_us"]
    now = time.time()
    for i, b in enumerate(batches):
        sub = f"{in_dir}/f{i}"
        spark.createDataFrame(b, cols).coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            os.utime(os.path.join(sub, f), (now - 60 + i, now - 60 + i))

    def fixpoint(mode: str) -> dict:
        import contextlib

        from event_streaming_bnpl_demo_spark.streaming.asof_state import (
            ASOF_BUCKETS, BucketedAsofProcessorTTL)
        from event_streaming_bnpl_demo_spark.streaming.state import \
            rocksdb_state_store

        stream = (spark.readStream
                  .schema("user_id long, event_id long, "
                          "event_type string, ts_us long")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(in_dir + "/f*"))
        provider = contextlib.nullcontext()
        if mode == "ttl":
            matched = (stream
                       .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
                       .withWatermark("ts", "1 hour")
                       .groupBy("user_id")
                       .applyInPandasWithState(
                           asof_update_ttl(ttl_s=24 * 3600),
                           outputStructType=ASOF_OUTPUT_SCHEMA,
                           stateStructType=ASOF_STATE_SCHEMA,
                           outputMode="update",
                           timeoutConf=EVENT_TIME_TIMEOUT))
        elif mode == "tws_ttl":
            matched = (stream
                       .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
                       .withWatermark("ts", "1 hour")
                       .withColumn("bucket", F.pmod(F.col("user_id"),
                                                    F.lit(ASOF_BUCKETS)))
                       .groupBy("bucket")
                       .transformWithStateInPandas(
                           BucketedAsofProcessorTTL(ttl_s=24 * 3600),
                           outputStructType=ASOF_OUTPUT_SCHEMA,
                           outputMode="update",
                           timeMode="eventTime"))
            provider = rocksdb_state_store(spark)
        else:
            matched = stream.groupBy("user_id").applyInPandasWithState(
                asof_update, outputStructType=ASOF_OUTPUT_SCHEMA,
                stateStructType=ASOF_STATE_SCHEMA, outputMode="update",
                timeoutConf=NO_TIMEOUT)
        name = f"sasof_hz_{mode}"
        with provider:
            q = (matched.writeStream.format("memory").queryName(name)
                 .outputMode("update")
                 .option("checkpointLocation", str(tmp_path / f"ck_{mode}"))
                 .trigger(availableNow=True).start())
        q.awaitTermination()
        w = Window.partitionBy("purchase_id").orderBy(F.desc("version"))
        return {r["purchase_id"]: (r["user_id"], r["view_id"],
                                   r["seconds_since_view"])
                for r in (spark.table(name)
                          .filter(F.col("purchase_id").isNotNull())
                          .withColumn("rn", F.row_number().over(w))
                          .filter(F.col("rn") == 1).collect())}

    ft, fu = fixpoint("ttl"), fixpoint("unbounded")
    n_purchases = sum(1 for r in rows if r[2] == "purchase")
    assert len(fu) == n_purchases
    assert ft == fu
    # the tws event-time-TTL twin (BucketedAsofProcessorTTL) must land
    # on the same fixpoint — the bounded production path on the
    # non-deprecated API, exact while every arrival is inside the
    # horizon
    from tests.test_bnpl_pipeline import _has_protobuf
    if _has_protobuf():
        assert fixpoint("tws_ttl") == fu


def test_mv_stream_refresh_resumes_exactly_once(spark, tmp_path):
    """The streaming JOIN+AGG view refresh must be exactly-once across
    restarts: drain two input files, stop, add two more, construct a
    FRESH streaming query on the SAME checkpoint — the resumed query
    must process only the new files (no partial duplicated, none
    lost), and the folded view must equal the one-shot batch join+agg
    over all four files. This is the property that lets a 100 TB
    refresh loop crash mid-day and restart without rebuilding the
    view."""
    import os

    from pyspark.sql import functions as F

    from event_streaming_bnpl_demo_spark.sources import load_table

    from .conftest import SF_SMOKE

    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    dim = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_nationkey")
    in_dir = str(tmp_path / "in")
    state_dir = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    parts = o.randomSplit([0.25, 0.25, 0.25, 0.25], seed=7)

    def write_file(i: int) -> None:
        parts[i].coalesce(1).write.mode("append").parquet(in_dir)

    from event_streaming_bnpl_demo_spark.plans.queries_mv import \
        nation_fold_batch

    fold_batch = nation_fold_batch(dim, state_dir)

    def drain() -> None:
        q = (spark.readStream
             .schema("o_orderkey long, o_custkey long, o_totalprice double")
             .option("maxFilesPerTrigger", "1")
             .parquet(in_dir)
             .writeStream.foreachBatch(fold_batch)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    write_file(0); write_file(1)
    drain()
    n_batches_first = len(os.listdir(state_dir))
    write_file(2); write_file(3)
    drain()                      # fresh query, same checkpoint
    batches = sorted(os.listdir(state_dir))
    # resumed query continued the batch-id sequence: only NEW partials
    # were added, none of the first run's were reprocessed/overwritten
    assert len(batches) == n_batches_first + 2, batches

    partials = spark.read.option("basePath", state_dir).parquet(
        f"{state_dir}/batch=*")
    folded = (partials.groupBy("c_nationkey")
              .agg(F.sum("pn").alias("n_orders"),
                   F.sum("psum").alias("rev")))
    batch = (o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey)
             .groupBy("c_nationkey")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
                  .alias("rev")))
    got = {r["c_nationkey"]: (r["n_orders"], r["rev"])
           for r in folded.collect()}
    want = {r["c_nationkey"]: (r["n_orders"], r["rev"])
            for r in batch.collect()}
    assert got == want


def test_overdue_timer_fires_on_watermark_not_arrival(spark, tmp_path):
    """Event-time timers (transformWithState, timeMode='eventTime'):
    an unpaid bill emits OVERDUE when the WATERMARK passes
    issue+grace — detecting the ABSENCE of a payment event, which no
    arrival-driven operator can do — while a paid bill's timer
    expires silently. Two runs over one checkpoint also prove timers
    survive a restart: the deadline registered in run 1 fires in run
    2 after an unrelated event advances the watermark."""
    import json
    import os

    from event_streaming_bnpl_demo_spark.sources.events import (
        read_event_stream,
    )
    from event_streaming_bnpl_demo_spark.streaming.state import (
        overdue_bill_stream, rocksdb_state_store,
    )

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    os.makedirs(in_dir)

    def bill(bid, ts):
        return {"event_type": "MemberBillCreatedEvent", "bill_id": bid,
                "promise_id": f"pr-{bid}", "user_id": "u1", "amount": 100,
                "issued_date": "2026-01-01", "ingest_ts": ts}

    def pay(bid, ts):
        return {"event_type": "PaymentCompletedEvent", "bill_id": bid,
                "user_id": "u1", "amount": 100, "paid_date": "2026-01-01",
                "ingest_ts": ts}

    def run_once():
        stream = read_event_stream(spark, in_dir, max_files_per_trigger=1)

        def sink(batch, _):
            batch.write.mode("append").parquet(out_dir)

        with rocksdb_state_store(spark):
            q = (overdue_bill_stream(stream, grace_seconds=3600)
                 .writeStream.foreachBatch(sink)
                 .outputMode("update")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()

    # run 1: two bills issued 09:00 (deadline 10:00); b2 paid at 09:30.
    # watermark ends at 09:30 -> no timer fires yet.
    with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
        for e in (bill("b1", "2026-01-01T09:00:00.000Z"),
                  bill("b2", "2026-01-01T09:00:00.000Z"),
                  pay("b2", "2026-01-01T09:30:00.000Z")):
            f.write(json.dumps(e) + "\n")
    run_once()
    rows = spark.read.parquet(out_dir).collect()
    assert not [r for r in rows if r["kind"] == "OVERDUE"]

    # run 2 (fresh query, same checkpoint): an unrelated 11:00 bill
    # advances the watermark past 10:00 -> b1's restored timer fires;
    # paid b2 stays silent.
    with open(os.path.join(in_dir, "b2.jsonl"), "w") as f:
        f.write(json.dumps(bill("b3", "2026-01-01T11:00:00.000Z")) + "\n")
    run_once()
    overdue = {r["bill_id"]: r["status"]
               for r in spark.read.parquet(out_dir).collect()
               if r["kind"] == "OVERDUE"}
    assert overdue == {"b1": "unpaid"}, overdue

    # run 3: a LATE payment for b1 — its lifecycle timer already fired
    # and GC'd the row, so this resurrects state for a closed bill.
    # The resurrected paid row must arm a GC timer (without one it
    # lives forever: the r11 leak), and must not emit a new OVERDUE.
    with open(os.path.join(in_dir, "b3.jsonl"), "w") as f:
        f.write(json.dumps(pay("b1", "2026-01-01T09:40:00.000Z")) + "\n")
    run_once()
    # run 4: advance the watermark past (run-3 watermark + grace) so
    # the GC timer fires; paid rows fire silently.
    with open(os.path.join(in_dir, "b4.jsonl"), "w") as f:
        f.write(json.dumps(bill("b4", "2026-01-01T14:00:00.000Z")) + "\n")
    run_once()
    # b3 (issued 11:00, never paid) legitimately fires here; the
    # resurrected b1 must NOT re-emit
    overdue2 = sorted(r["bill_id"]
                      for r in spark.read.parquet(out_dir).collect()
                      if r["kind"] == "OVERDUE")
    assert overdue2 == ["b1", "b3"], \
        f"late payment resurrected a closed bill into OVERDUE: {overdue2}"
    # the resurrected row is GONE from the store (state data source
    # reader over the same checkpoint): only the live b4 row remains
    state = (spark.read.format("statestore")
             .option("stateVarName", "bill")
             .load(ckpt))
    keys = sorted(r["key"]["bill_id"] for r in state.collect())
    assert keys == ["b4"], \
        f"resurrected paid row leaked in the state store: {keys}"

    # runs 5-8: the r12 GC-horizon knob (r11 advice on state.py) —
    # the payment-before-create correction window is gc_grace_ms
    # (default 4x grace), SEPARATE from the business deadline. A
    # payment-first key (c1 paid at 14:30) parks as a paid row for
    # 4 h of watermark time; its create arriving ~3 h later in
    # watermark terms (run 7, after wm passed 17:00) — which under
    # the old grace-wide horizon would hit an already-GC'd key and
    # re-emit a SPURIOUS OVERDUE — still sees 'paid' and stays
    # silent. run 8 pushes the watermark past the GC deadline
    # (18:00) and past b5's real deadline: the paid c1 GCs silently,
    # b5 fires for real.
    with open(os.path.join(in_dir, "b5.jsonl"), "w") as f:
        f.write(json.dumps(pay("c1", "2026-01-01T14:30:00.000Z")) + "\n")
    run_once()
    with open(os.path.join(in_dir, "b6.jsonl"), "w") as f:
        f.write(json.dumps(bill("b5", "2026-01-01T17:00:00.000Z")) + "\n")
    run_once()
    with open(os.path.join(in_dir, "b7.jsonl"), "w") as f:
        f.write(json.dumps(bill("c1", "2026-01-01T17:30:00.000Z")) + "\n")
    run_once()
    with open(os.path.join(in_dir, "b8.jsonl"), "w") as f:
        f.write(json.dumps(bill("b6", "2026-01-01T21:00:00.000Z")) + "\n")
    run_once()
    final = spark.read.parquet(out_dir).collect()
    plain = sorted(set(r["bill_id"] for r in final
                       if r["kind"] == "OVERDUE"))
    assert "c1" not in plain, \
        f"paid-then-late-create re-emitted a spurious OVERDUE: {plain}"
    assert plain == ["b1", "b3", "b4", "b5"], plain
    # paid c1 GC'd at wm+4h; only the live b6 row remains
    state2 = (spark.read.format("statestore")
              .option("stateVarName", "bill")
              .load(ckpt))
    keys2 = sorted(r["key"]["bill_id"] for r in state2.collect())
    assert keys2 == ["b6"], \
        f"GC-horizon row leaked or over-collected: {keys2}"


def test_list_and_map_state_bound_per_user_profiles(spark, tmp_path):
    """ListState + MapState (the remaining transformWithState
    primitives): the per-user recent-purchase list is TRIMMED to the
    newest N entries across micro-batches (bounded state on an
    unbounded stream) and the per-type MapState counters accumulate
    across a checkpointed second run."""
    from event_streaming_bnpl_demo_spark.streaming.state import (
        ACTIVITY_RECENT_N, rocksdb_state_store, user_activity_stream,
    )

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")

    def ev(i, uid, etype, val, ts):
        return {"event_id": i, "ts": ts, "user_id": uid,
                "event_type": etype, "value": float(val)}

    def run_once():
        stream = (spark.readStream.schema(SCHEMA).json(in_dir))

        def sink(batch, _):
            batch.write.mode("append").parquet(out_dir)

        with rocksdb_state_store(spark):
            q = (user_activity_stream(stream)
                 .writeStream.foreachBatch(sink)
                 .outputMode("update")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()

    # run 1: u1 makes 4 purchases (one more than the bound) + a view
    write_jsonl(in_dir, "b1.jsonl", [
        ev(1, 1, "purchase", 10, "2026-01-01T00:00:01"),
        ev(2, 1, "purchase", 20, "2026-01-01T00:00:02"),
        ev(3, 1, "purchase", 30, "2026-01-01T00:00:03"),
        ev(4, 1, "purchase", 40, "2026-01-01T00:00:04"),
        ev(5, 1, "view", 0, "2026-01-01T00:00:05"),
        ev(6, 2, "view", 0, "2026-01-01T00:00:06"),
    ])
    run_once()
    rows = {r["user_id"]: r.asDict()
            for r in spark.read.parquet(out_dir).collect()}
    assert rows[1]["n_events"] == 5 and rows[1]["n_types"] == 2
    # list bounded: oldest purchase (10) evicted, newest 3 kept in order
    assert rows[1]["recent_values"] == "20,30,40"
    assert len(rows[1]["recent_values"].split(",")) == ACTIVITY_RECENT_N
    assert rows[2]["n_events"] == 1 and rows[2]["recent_values"] == ""

    # run 2 (same checkpoint): one more purchase rolls the window and
    # the map counters keep accumulating
    write_jsonl(in_dir, "b2.jsonl", [
        ev(7, 1, "purchase", 50, "2026-01-01T00:00:07"),
    ])
    run_once()
    latest = sorted((r for r in spark.read.parquet(out_dir).collect()
                     if r["user_id"] == 1),
                    key=lambda r: r["n_events"])[-1]
    assert latest["n_events"] == 6
    assert latest["recent_values"] == "30,40,50"


def test_dynamic_gap_session_stream_matches_batch(spark, tmp_path):
    """Dynamic-gap session windows under readStream equal the batch
    groupBy on the same data — and the per-event gap actually changes
    the sessionization: a click (10 min gap) 15 minutes after a click
    starts a NEW session, while a purchase (30 min gap) 15 minutes
    after a purchase extends the session."""
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    rows = [
        # user 0: clicks 15 min apart -> two sessions (gap 10 min)
        {"event_id": 1, "ts": "2024-01-01T10:00:00Z", "user_id": 0,
         "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T10:15:00Z", "user_id": 0,
         "event_type": "click", "value": 1.0},
        # user 1: purchases 15 min apart -> one session (gap 30 min)
        {"event_id": 3, "ts": "2024-01-01T10:00:00Z", "user_id": 1,
         "event_type": "purchase", "value": 1.0},
        {"event_id": 4, "ts": "2024-01-01T10:15:00Z", "user_id": 1,
         "event_type": "purchase", "value": 1.0},
        # watermark pusher so the sessions above close in append mode
        {"event_id": 5, "ts": "2024-01-01T13:00:00Z", "user_id": 9,
         "event_type": "click", "value": 0.0},
    ]
    write_jsonl(in_dir, "a.jsonl", rows)
    gap = (F.when(F.col("event_type").isin("view", "click"), "10 minutes")
           .otherwise("30 minutes"))

    def agg(df):
        return (df.groupBy(F.session_window("ts", gap).alias("w"),
                           "user_id")
                .agg(F.count("*").alias("n")))

    _run_stream(spark, in_dir, ckpt,
                lambda s: agg(s.withWatermark("ts", "0 seconds")),
                "dyn_session_stream")
    streamed = {(r["user_id"], str(r["w"]["start"])): r["n"]
                for r in spark.sql(
                    "select * from dyn_session_stream").collect()}
    batch = {(r["user_id"], str(r["w"]["start"])): r["n"]
             for r in agg(spark.read.schema(SCHEMA).json(in_dir)).collect()}
    # the gap semantics: user 0 split into two 1-event sessions,
    # user 1 merged into one 2-event session
    u0 = [n for (u, _), n in batch.items() if u == 0]
    u1 = [n for (u, _), n in batch.items() if u == 1]
    assert sorted(u0) == [1, 1], f"clicks should split: {batch}"
    assert u1 == [2], f"purchases should merge: {batch}"
    # closed streamed sessions match batch exactly
    assert streamed
    for k, v in streamed.items():
        assert batch[k] == v


def test_kafka_source_contract_no_broker(spark, tmp_path):
    """SURVEY §2.2 'Kafka source' regression guard (no broker in this
    environment): pins (a) the constructed reader options — earliest
    offsets + checkpoint is what fixes the reference's Latest-iterator
    restart loss (consumer/consumer.go:64), maxOffsetsPerTrigger is the
    backpressure bound it lacked (consumer/consumer.go:76-78) — and
    (b) that the Kafka post-load stage produces a post-parse schema
    byte-identical to the tested file path's, by feeding it a batch
    DataFrame with Kafka's wire schema. If the Kafka branch ever drifts
    from the file branch (different parse, dropped column, changed
    nullability), this fails without needing a broker."""
    from pyspark.sql import functions as F

    from event_streaming_bnpl_demo_spark.sources.events import (
        kafka_records_to_envelope, kafka_source_options, read_event_batch)

    # (a) reader options contract
    opts = kafka_source_options("broker1:9092,broker2:9092", "bnpl-events")
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "bnpl-events",
        "startingOffsets": "earliest",
    }
    opts = kafka_source_options("b:9092", "t", starting_offsets="latest",
                                max_offsets_per_trigger=5000)
    assert opts["startingOffsets"] == "latest"
    # string-serialized, as the DataStreamReader option API requires
    assert opts["maxOffsetsPerTrigger"] == "5000"

    # (b) schema handoff: Kafka wire records -> envelope must be
    # byte-identical to the file path's post-parse schema
    payload = json.dumps({
        "event_type": "PurchaseCompletedEvent", "order_id": "o-77",
        "user_id": "u-9", "amount": 1500,
        "ingest_ts": "2026-01-01T00:00:00.000Z"})
    wire = spark.createDataFrame(
        [("k1".encode(), payload.encode(), "bnpl-events", 0, 42)],
        "key binary, value binary, topic string, partition int, offset long",
    ).withColumn("timestamp", F.current_timestamp()) \
     .withColumn("timestampType", F.lit(0))
    via_kafka = kafka_records_to_envelope(wire)

    log = tmp_path / "events.jsonl"
    log.write_text(payload + "\n")
    via_file = read_event_batch(spark, str(log))

    assert via_kafka.schema == via_file.schema, (
        f"kafka branch drifted from file branch:\n"
        f"kafka: {via_kafka.schema}\nfile:  {via_file.schema}")
    krow = via_kafka.select("event_type", "order_id", "user_id",
                            "amount").first()
    frow = via_file.select("event_type", "order_id", "user_id",
                           "amount").first()
    assert krow == frow


def test_asof_maxby_readback_equals_window_readback(spark, tmp_path):
    """r13: stream_asof_join's fixpoint read switched from a
    row_number()-over-(version DESC) window to a max_by hash aggregate
    (guide §2.3 — the partial aggregate collapses superseded emissions
    before the exchange instead of sorting them). Equivalence rests on
    (purchase_id, version) being unique in the emitted table — a
    purchase lives in one bucket and a bucket emits it at most once
    per micro-batch — which the operator guarantees. This pins the two
    readbacks equal on an adversarial emitted table: superseded
    matches, a match that degrades to null, a null that upgrades to a
    match, never-emitted-again rows, a null-match fixpoint, and a
    null-version row beside a real one. max_by skips null versions
    where the window would rank them, so the equivalence also rests on
    the operator never emitting a null version: that is pinned on a
    real two-batch run of the streaming topology."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from event_streaming_bnpl_demo_spark.plans.queries_stream import \
        build_asof_stream

    def readbacks(emitted):
        w = Window.partitionBy("purchase_id").orderBy(F.desc("version"))
        old = (emitted.withColumn("rn", F.row_number().over(w))
               .filter((F.col("rn") == 1) & F.col("view_id").isNotNull())
               .select("purchase_id", "user_id", "view_id",
                       "seconds_since_view"))
        latest = (emitted.groupBy("purchase_id")
                  .agg(F.max_by(F.struct("user_id", "view_id",
                                         "seconds_since_view"),
                                F.col("version")).alias("m")))
        new = (latest.filter(F.col("m.view_id").isNotNull())
               .select("purchase_id", F.col("m.user_id").alias("user_id"),
                       F.col("m.view_id").alias("view_id"),
                       F.col("m.seconds_since_view")
                       .alias("seconds_since_view")))
        return old, new

    rows = [
        # (user_id, purchase_id, view_id, seconds_since_view, version)
        (1, 100, 10, 50, 1),      # superseded at v3
        (1, 100, 20, 5, 3),       # fixpoint: view 20
        (2, 200, None, None, 1),  # null -> upgraded at v2
        (2, 200, 30, 7, 2),
        (3, 300, 40, 9, 2),       # match -> still the fixpoint
        (4, 400, None, None, 5),  # null fixpoint: must be DROPPED
        (5, 500, 50, 1, 1),       # emitted once, never revised
        (6, 600, 60, 4, None),    # null version: both readbacks skip it
        (6, 600, 61, 2, 1),       # fixpoint: view 61
    ]
    emitted = spark.createDataFrame(
        rows, "user_id long, purchase_id long, view_id long, "
              "seconds_since_view long, version long")

    old, new = readbacks(emitted)
    assert sorted(map(tuple, old.collect())) == \
        sorted(map(tuple, new.collect()))
    got = {r["purchase_id"]: r["view_id"] for r in new.collect()}
    assert got == {100: 20, 200: 30, 300: 40, 500: 50, 600: 61}

    # the real operator: two micro-batches, the second upgrading the
    # first's match, and no emitted row without a version
    in_dir = str(tmp_path / "in")
    cols = ["user_id", "event_id", "event_type", "ts_us"]
    spark.createDataFrame(
        [(1, 100, "purchase", 1_000_000_000), (1, 10, "view", 100_000_000),
         (2, 200, "purchase", 500_000_000)], cols,
    ).coalesce(1).write.parquet(in_dir + "/f1")
    spark.createDataFrame(
        [(1, 20, "view", 900_000_000), (2, 30, "view", 400_000_000)], cols,
    ).coalesce(1).write.parquet(in_dir + "/f2")
    q = (build_asof_stream(spark, in_dir + "/f*")
         .writeStream.format("memory").queryName("asof_maxby_pin")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    real = spark.table("asof_maxby_pin")
    assert real.filter(F.col("version").isNull()).count() == 0
    old, new = readbacks(real)
    assert sorted(map(tuple, old.collect())) == \
        sorted(map(tuple, new.collect()))
    assert {r["purchase_id"]: r["view_id"] for r in new.collect()} == \
        {100: 20, 200: 30}
