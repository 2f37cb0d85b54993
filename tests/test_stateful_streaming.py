"""Stateful Structured Streaming capabilities (SURVEY §2.9: 'available for
free if the analytics layer needs them') — watermarked windows, streaming
dedup, and a custom stateful operator via applyInPandasWithState.

The reference has NO event-time semantics (late data is handled as offset
gaps); these tests pin down the capabilities the Spark build adds on top.
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _write_events(path: str) -> None:
    os.makedirs(path, exist_ok=True)
    rows = []
    for i in range(600):
        rows.append(
            {
                "ts": f"2024-05-01 10:{i % 60:02d}:{(i * 7) % 60:02d}",
                "uid": i % 5,
                "kind": ["view", "click", "buy"][i % 3],
            }
        )
    with open(os.path.join(path, "ev.txt"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _typed_stream(spark, src):
    raw = spark.readStream.format("text").load(src)
    parsed = raw.select(
        F.from_json(
            "value", "ts string, uid bigint, kind string"
        ).alias("m")
    ).select(
        F.to_timestamp("m.ts").alias("ts"), F.col("m.uid").alias("uid"), F.col("m.kind").alias("kind")
    )
    return parsed


def test_watermarked_tumbling_window(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_events(src)
    windowed = (
        _typed_stream(spark, src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes"), "kind")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    # batch recomputation of the same aggregate is the oracle
    batch = (
        spark.read.text(src)
        .select(F.from_json("value", "ts string, uid bigint, kind string").alias("m"))
        .select(F.to_timestamp("m.ts").alias("ts"), "m.kind")
        .groupBy(F.window("ts", "15 minutes"), "kind")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {
        (r.window.start.isoformat(), r.kind): r.n
        for r in spark.table("win_agg").collect()
    }
    expected = {
        (r.window.start.isoformat(), r.kind): r.n for r in batch.collect()
    }
    # append mode only emits windows the watermark has closed; every emitted
    # window must match the batch truth, and most windows must have closed
    assert got
    assert all(expected.get(k) == v for k, v in got.items())


def test_streaming_dropduplicates_within_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "d.txt"), "w") as f:
        for i in range(100):
            f.write(json.dumps({"ts": "2024-05-01 10:00:00", "uid": i % 10, "kind": "x"}) + "\n")
    deduped = (
        _typed_stream(spark, src)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["uid", "ts"])
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert spark.table("dedup_stream").count() == 10  # 100 rows → 10 uids


def test_apply_in_pandas_with_state_running_counts(spark, tmp_path):
    """Custom stateful operator: per-key running event count across
    micro-batches via applyInPandasWithState (the §2.10 extension surface
    the reference lacks)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = str(tmp_path / "src")
    _write_events(src)

    out_schema = StructType(
        [
            StructField("uid", LongType()),
            StructField("total", LongType()),
        ]
    )
    state_schema = StructType([StructField("n", LongType())])

    def update(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"uid": [key[0]], "total": [n]})

    counted = (
        _typed_stream(spark, src)
        .groupBy("uid")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    q = (
        counted.writeStream.format("memory")
        .queryName("stateful_counts")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    # last update per uid must equal the true total (600 events, 5 uids)
    rows = spark.table("stateful_counts").collect()
    latest = {}
    for r in rows:
        latest[r.uid] = r.total  # memory sink appends updates in order
    assert set(latest) == {0, 1, 2, 3, 4}
    assert all(v == 120 for v in latest.values())


def test_groupstate_streaming_dedup_across_batches(spark, tmp_path):
    """First-occurrence-wins dedup with explicit state must collapse
    duplicates that arrive in DIFFERENT micro-batches."""
    from clickhouse_sinker_nali_spark.streaming.analytics import (
        streaming_dedup_exact,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    for n, (fname, base) in enumerate([("a.txt", 0), ("b.txt", 50)]):
        path = os.path.join(src, fname)
        with open(path, "w") as f:
            for i in range(100):
                f.write(json.dumps({"doc_id": base + i, "text": f"doc number {i % 20}"}) + "\n")
        # file-source batch order follows modification time: a.txt first
        t = 1_700_000_000 + n * 1000
        os.utime(path, (t, t))
    raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src)
    docs = raw.select(
        F.from_json("value", "doc_id bigint, text string").alias("m")
    ).select("m.doc_id", "m.text")
    q = (
        streaming_dedup_exact(docs)
        .writeStream.format("memory")
        .queryName("gs_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)
    rows = spark.table("gs_dedup").collect()
    assert len(rows) == 20  # 200 rows, 20 distinct texts, state spans batches
    assert len({r.text_hash for r in rows}) == 20
    # each survivor is the first batch's smallest doc_id for its text; the
    # second batch repeats every text and emits nothing
    assert {r.doc_id for r in rows} == set(range(20))
    assert all(r.n_batch_copies == 5 for r in rows)
    texts = spark.createDataFrame(
        [(f"doc number {i}",) for i in range(20)], "text string"
    ).select(F.sha2("text", 256).alias("h"))
    assert {r.text_hash for r in rows} == {r.h for r in texts.collect()}


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join with watermarks + an event-time interval
    condition (click within 10 min after its impression) — the canonical
    two-stream correlation the reference cannot express at all.  State on
    both sides is bounded by the watermark + interval, so this runs
    indefinitely at scale; the batch join over the same files is the oracle.
    """
    imp_src = str(tmp_path / "imp")
    clk_src = str(tmp_path / "clk")
    os.makedirs(imp_src)
    os.makedirs(clk_src)
    with open(os.path.join(imp_src, "i.txt"), "w") as f:
        for i in range(200):
            f.write(json.dumps({"ts": f"2024-05-01 10:{i % 50:02d}:00", "uid": i % 20, "kind": "imp"}) + "\n")
    with open(os.path.join(clk_src, "c.txt"), "w") as f:
        for i in range(60):
            f.write(json.dumps({"ts": f"2024-05-01 10:{(i % 50) + 5:02d}:30", "uid": i % 20, "kind": "clk"}) + "\n")

    imp = (
        _typed_stream(spark, imp_src)
        .select(F.col("ts").alias("imp_ts"), F.col("uid").alias("imp_uid"))
        .withWatermark("imp_ts", "30 minutes")
    )
    clk = (
        _typed_stream(spark, clk_src)
        .select(F.col("ts").alias("clk_ts"), F.col("uid").alias("clk_uid"))
        .withWatermark("clk_ts", "30 minutes")
    )
    cond = (
        (F.col("imp_uid") == F.col("clk_uid"))
        & (F.col("clk_ts") >= F.col("imp_ts"))
        & (F.col("clk_ts") <= F.col("imp_ts") + F.expr("interval 10 minutes"))
    )
    q = (
        imp.join(clk, cond)
        .writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .start()
    )
    q.awaitTermination(180)

    def _batch(src, ts_name, uid_name):
        return (
            spark.read.text(src)
            .select(F.from_json("value", "ts string, uid bigint, kind string").alias("m"))
            .select(F.to_timestamp("m.ts").alias(ts_name), F.col("m.uid").alias(uid_name))
        )

    expected = (
        _batch(imp_src, "imp_ts", "imp_uid")
        .join(_batch(clk_src, "clk_ts", "clk_uid"), cond)
        .count()
    )
    got = spark.table("ss_join").count()
    assert got == expected and got > 0
