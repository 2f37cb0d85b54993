"""Sustained streaming-ingest proof (VERDICT r4 task #3).

The bench measures BATCH ingest throughput; the reference's headline is a
long-running STREAM (142 K rows/s sustained on 11 cpus,
docs/dev/introduction.md:72).  This test runs the full streaming pipeline
— kafkasim source (Kafka's exact 7-column contract) → parse + coerce +
virtual ``__kafka*`` columns → ParquetSink — against a LIVE producer
appending at a fixed rate for ~90 s, and asserts the steady-state
properties that define "sustained":

1. keeps up: steady-state micro-batch duration stays under the trigger
   interval (median, p75 — the host is time-shared, so the tail is noise);
2. no backlog growth: per-batch input stays bounded near rate×trigger
   instead of climbing (a climbing series means the query is falling
   behind and every epoch reads a longer catch-up slice);
3. no state growth: the pipeline is stateless by design — progress must
   show zero stateOperators rows and the observed counters must equal the
   row count exactly (counters grow linearly with input, nothing else
   accumulates across epochs);
4. exactly-once: every produced (partition, offset) lands in the sink
   exactly once, including across the final drain.

The source is the kafkasim reader (one read task per Kafka partition,
decode OFF the driver, the real Kafka source's execution shape).  Peak
engine throughput is still the bench's JVM-side parse figure (~1 M
rows/s parse, ~560 K rows/s parse→sink); this test is about holding a
steady offered rate indefinitely, not peak.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from clickhouse_sinker_nali_spark.sources.datasources import register_all
from clickhouse_sinker_nali_spark.streaming.pipeline import (
    TaskConfig,
    build_kafka_source,
    start_pipeline,
)
from clickhouse_sinker_nali_spark.streaming.sinks import ParquetSink
from clickhouse_sinker_nali_spark.streaming.statistics import MetricsListener

TOPIC = "sustained_topic"
PARTS = 4
RATE = 40_000  # rows/s offered, all partitions combined
TRIGGER_S = 3
RUN_S = 90

DIMS = [
    {"name": "time", "type": "DateTime"},
    {"name": "name", "type": "String"},
    {"name": "value", "type": "Float64"},
    {"name": "status", "type": "Int64"},
    {"name": "__kafka_partition", "type": "Int64"},
    {"name": "__kafka_offset", "type": "Int64"},
]


class _Producer(threading.Thread):
    """Appends pre-rendered jsonl lines to the partition logs at a fixed
    aggregate rate (ticks of 0.5 s), mimicking a steady Kafka producer."""

    def __init__(self, topic_dir: str, rate: int, parts: int) -> None:
        super().__init__(daemon=True)
        self.dir = topic_dir
        self.rate = rate
        self.parts = parts
        self.stop_evt = threading.Event()
        self.produced = 0
        # pre-render a pool so the producer thread never JSON-encodes on
        # the clock; offsets are line positions, so reuse is fine
        self.pool = [
            json.dumps(
                {
                    "value": json.dumps(
                        {
                            "time": f"2024-03-01 10:{(i // 60) % 60:02d}:{i % 60:02d}",
                            "name": f"m{i % 997}",
                            "value": (i % 4096) * 0.5,
                            "status": i % 7,
                        }
                    )
                }
            )
            + "\n"
            for i in range(5000)
        ]

    def run(self) -> None:
        per_tick = self.rate // 2  # 0.5 s ticks
        per_part = per_tick // self.parts
        files = [
            open(os.path.join(self.dir, f"partition-{p}.jsonl"), "a")
            for p in range(self.parts)
        ]
        try:
            i = 0
            while not self.stop_evt.is_set():
                t0 = time.perf_counter()
                for f in files:
                    chunk = [
                        self.pool[(i + j) % len(self.pool)] for j in range(per_part)
                    ]
                    f.writelines(chunk)
                    f.flush()
                    i += per_part
                    self.produced += per_part
                time.sleep(max(0.0, 0.5 - (time.perf_counter() - t0)))
        finally:
            for f in files:
                f.close()


@pytest.mark.slow
def test_sustained_streaming_ingest_steady_state(spark, tmp_path):
    root = str(tmp_path / "logs")
    topic_dir = os.path.join(root, TOPIC)
    os.makedirs(topic_dir)
    for p in range(PARTS):  # logs must exist before the source starts
        open(os.path.join(topic_dir, f"partition-{p}.jsonl"), "w").close()
    register_all(spark)

    listener = MetricsListener()
    spark.streams.addListener(listener)
    cfg = TaskConfig(
        name="sustained_task",
        topic=TOPIC,
        table="t",
        dims=DIMS,
        buffer_size=1 << 19,  # cap far above rate×trigger: no rate limiting
        flush_interval_s=TRIGGER_S,
        kafka_options={"path": root},
    )
    out = str(tmp_path / "sink")
    sink = ParquetSink(path=out, shards=4)
    src = build_kafka_source(spark, cfg, "none:9092", fmt="kafkasim")
    producer = _Producer(topic_dir, RATE, PARTS)
    producer.start()
    query = start_pipeline(
        spark, cfg, src, sink, checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        time.sleep(RUN_S)
        producer.stop_evt.set()
        producer.join(10)
        # drain: wait until two consecutive idle progresses
        idle, deadline = 0, time.time() + 60
        seen_batch = -1
        while idle < 2 and time.time() < deadline:
            time.sleep(TRIGGER_S)
            p = query.lastProgress
            if p is None:
                continue
            if p["batchId"] != seen_batch:
                seen_batch = p["batchId"]
                idle = idle + 1 if int(p["numInputRows"] or 0) == 0 else 0
        progresses = [json.loads(p.json) for p in query.recentProgress]
    finally:
        query.stop()
        spark.streams.removeListener(listener)

    produced = producer.produced
    assert produced >= RATE * RUN_S * 0.8, "producer starved — host too loaded"

    # -- exactly-once delivery across the whole run -----------------------
    sunk = spark.read.parquet(out)
    n = sunk.count()
    assert n == produced, f"sink rows {n} != produced {produced}"
    assert (
        sunk.select("__kafka_partition", "__kafka_offset").distinct().count() == n
    ), "duplicate (partition, offset) in sink"

    # -- steady state: keeps up, no backlog growth -------------------------
    busy = [p for p in progresses if int(p["numInputRows"] or 0) > 0]
    # skip warmup epochs; the tail drain epochs are busy but small, fine
    steady = busy[2:]
    assert len(steady) >= 8, f"only {len(steady)} steady epochs — run too short"
    durations = sorted(p["batchDuration"] for p in steady)
    median = durations[len(durations) // 2]
    p75 = durations[(len(durations) * 3) // 4]
    assert median < TRIGGER_S * 1000, f"median batch {median} ms >= trigger"
    assert p75 < TRIGGER_S * 1000 * 1.5, f"p75 batch {p75} ms — falling behind"
    # Backlog must not GROW UNBOUNDEDLY.  On a time-shared host a slow
    # epoch legitimately produces one or two catch-up bursts, so the guard
    # is on the pattern, not any single burst: bursts must be rare, and
    # the run must end caught-up (the exactly-once check above already
    # proved the final drain consumed everything within its 60 s window).
    per_batch_cap = RATE * TRIGGER_S * 2.5
    oversized = [p["numInputRows"] for p in steady if p["numInputRows"] > per_batch_cap]
    assert len(oversized) <= max(2, len(steady) // 4), (
        f"{len(oversized)}/{len(steady)} batches read catch-up volumes "
        f"{oversized} (> {per_batch_cap}) — backlog is growing, not bursting"
    )

    # -- no state growth: stateless plan, counters linear in input --------
    assert all(not p.get("stateOperators") for p in progresses), (
        "unexpected stateful operator in the ingest plan"
    )
    stats = listener.stats.get("sustained_task")
    assert stats is not None
    assert stats.input_rows == produced
    assert stats.observed["sinker_metrics"]["rows_total"] > 0  # counters flowed

    # headline figure for COVERAGE.md
    wall = sum(p["batchDuration"] for p in busy) / 1000.0
    print(
        f"\nSUSTAINED: {produced} rows in {RUN_S}s offered at {RATE}/s; "
        f"busy-epoch throughput {produced / wall:,.0f} rows/s; "
        f"median batch {median} ms / trigger {TRIGGER_S * 1000} ms"
    )


N_TASKS = 3
TASK_PARTS = 3
TASK_RATE = 14_000  # per task; aggregate 42K rows/s across the session
MULTI_RUN_S = 60


@pytest.mark.slow
def test_concurrent_multi_task_isolation_under_load(spark, tmp_path):
    """Multi-task concurrency proof (r5 VERDICT #6).  The reference daemon
    runs MANY topic→table tasks in one process (reference
    cmd/clickhouse_sinker_nali/main.go:408-421: one goroutine pool shared
    by every task); the Spark engine's equivalent claim is several
    concurrent streaming queries on one session sharing the scheduler.
    Three kafkasim pipelines — distinct topics, sinks, checkpoints — each
    with a live producer, aggregate ≥40K rows/s offered for ~60 s:

    1. per-task exactly-once through the final drain (no loss, no dups,
       no cross-task leakage: every sink row's topic matches its task);
    2. no starvation: EVERY task keeps up (per-task median batch duration
       under the trigger; every task's epoch count shows continuous
       scheduling, not one query hogging the pool).
    """
    root = str(tmp_path / "logs")
    tasks = []
    for t in range(N_TASKS):
        topic = f"multi_topic_{t}"
        topic_dir = os.path.join(root, topic)
        os.makedirs(topic_dir)
        for p in range(TASK_PARTS):
            open(os.path.join(topic_dir, f"partition-{p}.jsonl"), "w").close()
        tasks.append({"topic": topic, "dir": topic_dir})
    register_all(spark)

    queries, producers = [], []
    try:
        for t, task in enumerate(tasks):
            cfg = TaskConfig(
                name=f"multi_task_{t}",
                topic=task["topic"],
                table=f"t{t}",
                dims=DIMS + [{"name": "__kafka_topic", "type": "String"}],
                buffer_size=1 << 19,
                flush_interval_s=TRIGGER_S,
                kafka_options={"path": root},
            )
            task["out"] = str(tmp_path / f"sink_{t}")
            sink = ParquetSink(path=task["out"], shards=2)
            src = build_kafka_source(spark, cfg, "none:9092", fmt="kafkasim")
            producer = _Producer(task["dir"], TASK_RATE, TASK_PARTS)
            producer.start()
            producers.append(producer)
            queries.append(
                start_pipeline(
                    spark, cfg, src, sink,
                    checkpoint_dir=str(tmp_path / f"ckpt_{t}"),
                )
            )
        time.sleep(MULTI_RUN_S)
        for producer in producers:
            producer.stop_evt.set()
        for producer in producers:
            producer.join(10)
        # drain every query: two consecutive idle progresses each
        deadline = time.time() + 90
        idle = [0] * N_TASKS
        seen = [-1] * N_TASKS
        while min(idle) < 2 and time.time() < deadline:
            time.sleep(TRIGGER_S)
            for t, q in enumerate(queries):
                p = q.lastProgress
                if p is None or p["batchId"] == seen[t]:
                    continue
                seen[t] = p["batchId"]
                idle[t] = idle[t] + 1 if int(p["numInputRows"] or 0) == 0 else 0
        all_progress = [
            [json.loads(p.json) for p in q.recentProgress] for q in queries
        ]
    finally:
        for q in queries:
            q.stop()

    for t, task in enumerate(tasks):
        produced = producers[t].produced
        assert produced >= TASK_RATE * MULTI_RUN_S * 0.8, (
            f"task {t} producer starved — host too loaded"
        )
        sunk = spark.read.parquet(task["out"])
        n = sunk.count()
        assert n == produced, f"task {t}: sink rows {n} != produced {produced}"
        assert (
            sunk.select("__kafka_partition", "__kafka_offset").distinct().count()
            == n
        ), f"task {t}: duplicate (partition, offset) in sink"
        # no cross-task leakage: every row came from THIS task's topic
        topics = [r[0] for r in sunk.select("__kafka_topic").distinct().collect()]
        assert topics == [task["topic"]], f"task {t} sank rows from {topics}"
        # no starvation: this task's own epochs kept up with the trigger
        busy = [
            p for p in all_progress[t] if int(p["numInputRows"] or 0) > 0
        ][2:]
        assert len(busy) >= 5, f"task {t}: only {len(busy)} busy epochs"
        durations = sorted(p["batchDuration"] for p in busy)
        median = durations[len(durations) // 2]
        assert median < TRIGGER_S * 1000, (
            f"task {t}: median batch {median} ms >= trigger — starved"
        )

    total = sum(pr.produced for pr in producers)
    print(
        f"\nMULTI-TASK: {N_TASKS} concurrent pipelines, {total} rows in "
        f"{MULTI_RUN_S}s (aggregate offered {N_TASKS * TASK_RATE}/s), "
        "exactly-once per task, no starvation"
    )
