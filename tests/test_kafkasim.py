"""Kafka-source contract tests without a broker.

``KafkaSimDataSource`` emulates Kafka's exact surface — the 7-column
schema (binary key/value, topic, partition, offset, timestamp,
timestampType), ``startingOffsets`` (earliest / latest / per-partition
JSON), and ``maxOffsetsPerTrigger`` rate limiting — so the REAL
``build_kafka_source`` builder and the full TaskConfig pipeline (parse,
coerce, ``__kafka*`` virtual columns per reference model/message.go:183-190)
run end-to-end against a source with Kafka's shape.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from clickhouse_sinker_nali_spark.sources.datasources import (
    KAFKA_SCHEMA,
    register_all,
)
from clickhouse_sinker_nali_spark.streaming.pipeline import (
    TaskConfig,
    build_kafka_source,
    transform,
)

TOPIC = "apache_access_log1"

DIMS = [
    {"name": "time", "type": "DateTime"},
    {"name": "name", "type": "String"},
    {"name": "value", "type": "Float64"},
    {"name": "__kafka_topic", "type": "String"},
    {"name": "__kafka_partition", "type": "Int64"},
    {"name": "__kafka_offset", "type": "Int64"},
]


def _write_topic(root: str, n_per_part: int = 20, parts: int = 2) -> None:
    d = os.path.join(root, TOPIC)
    os.makedirs(d, exist_ok=True)
    for p in range(parts):
        with open(os.path.join(d, f"partition-{p}.jsonl"), "w") as f:
            for off in range(n_per_part):
                msg = {
                    "time": f"2024-03-01 10:00:{off % 60:02d}",
                    "name": f"p{p}m{off}",
                    "value": p * 1000 + off * 0.5,
                }
                f.write(
                    json.dumps(
                        {
                            "key": f"k{p}-{off}",
                            "value": json.dumps(msg),
                            "ts": "2024-03-01T10:00:00",
                        }
                    )
                    + "\n"
                )


def _cfg(**kw) -> TaskConfig:
    base = dict(
        name="kafkasim_task",
        topic=TOPIC,
        table="t",
        dims=DIMS,
        buffer_size=16,  # -> maxOffsetsPerTrigger=16
    )
    base.update(kw)
    return TaskConfig(**base)


def _drain(spark, cfg, root, ckpt, out_epochs):
    """Run availableNow rounds until quiescent.  Each round is one query
    run on the shared checkpoint, so looping both drains the log and
    exercises restart-from-checkpoint round by round."""
    src = build_kafka_source(spark, cfg, "none:9092", fmt="kafkasim")
    typed = transform(src, cfg)

    def sink(df, epoch_id):
        out_epochs.append((epoch_id, df.collect()))

    for _ in range(12):
        before = sum(len(b) for _, b in out_epochs)
        q = (
            typed.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        if sum(len(b) for _, b in out_epochs) == before:
            break


def test_kafkasim_schema_matches_kafka(spark, tmp_path):
    root = str(tmp_path / "logs")
    _write_topic(root)
    register_all(spark)
    cfg = _cfg(kafka_options={"path": root})
    src = build_kafka_source(spark, cfg, "none:9092", fmt="kafkasim")
    assert src.schema.simpleString() == (
        "struct<key:binary,value:binary,topic:string,partition:int,"
        "offset:bigint,timestamp:timestamp,timestampType:int>"
    )
    assert KAFKA_SCHEMA.startswith("key binary, value binary")


def test_kafkasim_starting_offsets_latest_and_json(spark, tmp_path):
    root = str(tmp_path / "logs")
    _write_topic(root, n_per_part=10, parts=2)
    register_all(spark)

    # latest: nothing already in the log is consumed
    epochs: list = []
    cfg = _cfg(earliest=False, kafka_options={"path": root})
    _drain(spark, cfg, root, str(tmp_path / "ckpt_latest"), epochs)
    assert sum(len(b) for _, b in epochs) == 0

    # per-partition JSON start: partition 0 from offset 7, partition 1 from 0
    epochs = []
    cfg = _cfg(
        kafka_options={
            "path": root,
            "startingOffsets": json.dumps({TOPIC: {"0": 7}}),
        }
    )
    _drain(spark, cfg, root, str(tmp_path / "ckpt_json"), epochs)
    rows = [r for _, b in epochs for r in b]
    got = {(r["__kafka_partition"], r["__kafka_offset"]) for r in rows}
    assert got == {(0, o) for o in range(7, 10)} | {(1, o) for o in range(10)}


def test_kafkasim_prometheus_fanout_end_to_end(spark, tmp_path):
    """The reference's flagship composition over the Kafka contract:
    Kafka-shaped source → build_kafka_source → TaskConfig parse/coerce →
    series-id tagging → Prometheus two-table fan-out.  Series repeat
    across partitions and across rate-limited micro-batches, so the
    exactly-once series insert is exercised by the same offset machinery
    a real broker would drive."""
    from clickhouse_sinker_nali_spark.functions import portable_hash64
    from clickhouse_sinker_nali_spark.streaming.sinks import (
        prometheus_fanout_sink,
    )

    root = str(tmp_path / "logs")
    d = os.path.join(root, TOPIC)
    os.makedirs(d)
    # 2 partitions × 24 messages over 6 series (each series in both parts)
    for p in range(2):
        with open(os.path.join(d, f"partition-{p}.jsonl"), "w") as f:
            for off in range(24):
                msg = {
                    "time": f"2024-03-01 10:00:{off % 60:02d}",
                    "name": f"series{off % 6}",
                    "value": p * 100 + off * 0.5,
                }
                f.write(json.dumps({"key": None, "value": json.dumps(msg)}) + "\n")

    register_all(spark)
    cfg = _cfg(kafka_options={"path": root}, buffer_size=16)
    src = build_kafka_source(spark, cfg, "none:9092", fmt="kafkasim")
    typed = transform(src, cfg)
    tagged = typed.select(
        portable_hash64(F.concat(F.lit("###name###"), F.col("name"))).alias(
            "series_id"
        ),
        "time",
        "name",
        "value",
        F.col("__kafka_partition").alias("part"),
        F.col("__kafka_offset").alias("off"),
    )
    metric_path = str(tmp_path / "metrics")
    series_path = str(tmp_path / "series")
    sink = prometheus_fanout_sink(metric_path, series_path, ["name"])
    ckpt = str(tmp_path / "ckpt_prom")
    for _ in range(8):  # rate-limited drains until quiescent
        q = (
            tagged.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        try:
            if spark.read.parquet(metric_path).count() == 48:
                break
        except Exception:
            pass

    metrics = spark.read.parquet(metric_path)
    series = spark.read.parquet(series_path)
    assert metrics.count() == 48  # every message landed exactly once
    assert series.count() == 6  # one row per series across partitions+batches
    assert metrics.join(series, "series_id", "left_anti").count() == 0
    # offsets survived the full path: dense per partition
    offs = {(r.part, r.off) for r in metrics.select("part", "off").collect()}
    assert offs == {(p, o) for p in range(2) for o in range(24)}


def test_kafkasim_restart_resumes_from_checkpoint(spark, tmp_path):
    root = str(tmp_path / "logs")
    _write_topic(root, n_per_part=5, parts=2)
    register_all(spark)
    cfg = _cfg(kafka_options={"path": root})
    ckpt = str(tmp_path / "ckpt_resume")

    epochs: list = []
    _drain(spark, cfg, root, ckpt, epochs)
    assert sum(len(b) for _, b in epochs) == 10

    # append to the partition logs (a producer writing more messages)...
    d = os.path.join(root, TOPIC)
    for p in range(2):
        with open(os.path.join(d, f"partition-{p}.jsonl"), "a") as f:
            msg = {"time": "2024-03-02 00:00:00", "name": f"late{p}", "value": 9.0}
            f.write(json.dumps({"key": None, "value": json.dumps(msg)}) + "\n")

    # ...and restart on the SAME checkpoint: only the 2 new messages arrive
    epochs2: list = []
    _drain(spark, cfg, root, ckpt, epochs2)
    rows2 = [r for _, b in epochs2 for r in b]
    assert {(r["__kafka_partition"], r["__kafka_offset"]) for r in rows2} == {(0, 5), (1, 5)}
    assert {r.name for r in rows2} == {"late0", "late1"}


def test_kafkasim_reader_rows_match_log(spark, tmp_path):
    """The executor-side reader (one read task per Kafka partition, decode
    off the driver) against the partition log files it reads: every
    logged message arrives exactly once with its virtual columns, dense
    per-partition offsets and typed payload; planning emits one slice per
    partition with the right offset ranges."""
    from clickhouse_sinker_nali_spark.sources.datasources import (
        KafkaSimParallelStreamReader,
    )

    root = str(tmp_path / "logs")
    _write_topic(root, n_per_part=20, parts=3)
    register_all(spark)
    cfg = _cfg(
        buffer_size=64,  # no rate limiting: one batch drains everything
        kafka_options={"path": root},
    )
    epochs: list = []
    _drain(spark, cfg, root, str(tmp_path / "ckpt_par"), epochs)
    rows = [r for _, b in epochs for r in b]
    assert len(rows) == 60
    assert all(r["__kafka_topic"] == TOPIC for r in rows)
    # 60 rows, 60 distinct (partition, offset) keys: each logged message
    # exactly once, offsets dense per partition, and the typed payload
    # parsed from the binary value matches the log line it came from
    # (partition p, line off holds message p{p}m{off})
    assert {(r["__kafka_partition"], r["__kafka_offset"], r.name, r.value)
            for r in rows} == {
        (p, off, f"p{p}m{off}", p * 1000 + off * 0.5)
        for p in range(3) for off in range(20)
    }
    m = next(
        r for r in rows if (r["__kafka_partition"], r["__kafka_offset"]) == (1, 3)
    )
    assert m.name == "p1m3" and m.value == pytest.approx(1001.5)
    assert str(m.time).startswith("2024-03-01 10:00:03")

    # planning shape: one slice per partition, [start, end) ranges
    reader = KafkaSimParallelStreamReader(
        {"path": root, "subscribe": TOPIC, "maxOffsetsPerTrigger": "30"}
    )
    start = reader.initialOffset()
    assert start == {"0": 0, "1": 0, "2": 0}
    end = reader.latestOffset()
    assert sum(end[p] - start[p] for p in end) == 30  # apportioned cap
    slices = reader.partitions(start, end)
    assert {(s.part, s.lo, s.hi) for s in slices} == {
        (int(p), 0, end[p]) for p in end
    }


def test_kafkasim_partition_growth_mid_stream(spark, tmp_path):
    """Kafka topics can GROW partitions; the reference daemon absorbs the
    consumer-group rebalance and starts reading the new partition from its
    beginning (input/kafka_sarama.go rebalance path).  The kafkasim
    reader's equivalent: a partition-N.jsonl appearing mid-stream enters
    the end-offset listing on the next trigger, planning defaults its
    start to 0 (absent from the checkpointed offset map), and its rows
    arrive exactly once alongside the existing partitions'."""
    root = str(tmp_path / "logs")
    _write_topic(root, n_per_part=10, parts=2)
    register_all(spark)
    cfg = _cfg(
        buffer_size=1 << 10,
        kafka_options={"path": root},
    )
    ckpt = str(tmp_path / "ckpt_growth")
    epochs: list = []
    _drain(spark, cfg, root, ckpt, epochs)
    assert sum(len(b) for _, b in epochs) == 20

    # the topic grows a THIRD partition (plus fresh rows on an old one)
    d = os.path.join(root, TOPIC)
    with open(os.path.join(d, "partition-2.jsonl"), "w") as f:
        for off in range(7):
            msg = {"time": "2024-03-02 00:00:00", "name": f"p2m{off}",
                   "value": 2000 + off * 0.5}
            f.write(json.dumps({"key": None, "value": json.dumps(msg)}) + "\n")
    with open(os.path.join(d, "partition-0.jsonl"), "a") as f:
        msg = {"time": "2024-03-02 00:00:01", "name": "p0m10", "value": 5.0}
        f.write(json.dumps({"key": None, "value": json.dumps(msg)}) + "\n")

    epochs2: list = []
    _drain(spark, cfg, root, ckpt, epochs2)
    rows2 = [r for _, b in epochs2 for r in b]
    got = {(r["__kafka_partition"], r["__kafka_offset"]) for r in rows2}
    assert got == {(2, o) for o in range(7)} | {(0, 10)}
    assert {r.name for r in rows2 if r["__kafka_partition"] == 2} == {
        f"p2m{o}" for o in range(7)
    }


def test_kafkasim_parallel_uncapped_first_latest_respects_configured_start(
    tmp_path,
):
    """The admission-uncapped first latestOffset must clamp UP to the
    CONFIGURED startingOffsets: a JSON start ahead of the physical log end
    (and any committed offset inheriting that floor) would otherwise be
    regressed past, re-emitting rows the user configured to skip."""
    from clickhouse_sinker_nali_spark.sources.datasources import (
        KafkaSimParallelStreamReader,
    )

    root = str(tmp_path / "logs")
    _write_topic(root, n_per_part=50, parts=1)
    r = KafkaSimParallelStreamReader(
        {
            "path": root,
            "subscribe": TOPIC,
            "startingOffsets": json.dumps({TOPIC: {"0": 100}}),
            "maxOffsetsPerTrigger": "8",
        }
    )
    # Spark 4.1 calls latestOffset BEFORE initialOffset
    end = r.latestOffset()
    assert end == {"0": 100}, f"regressed below configured start: {end}"
    assert r.initialOffset() == {"0": 100}
    assert r.partitions({"0": 100}, end) == []  # nothing to emit yet


def test_kafkasim_parallel_mid_append_partial_line(tmp_path):
    """A producer caught mid-append leaves a trailing line without its
    newline; the incremental end-offset counter must not count it (a read
    task would emit a torn record), and must count it exactly once when
    the newline lands — including when the remainder arrives across two
    polls."""
    from clickhouse_sinker_nali_spark.sources.datasources import (
        KafkaSimParallelStreamReader,
    )

    root = str(tmp_path / "logs")
    d = os.path.join(root, TOPIC)
    os.makedirs(d)
    path = os.path.join(d, "partition-0.jsonl")
    full = json.dumps({"key": None, "value": json.dumps({"name": "a"})}) + "\n"
    torn = json.dumps({"key": None, "value": json.dumps({"name": "b"})})
    with open(path, "w") as f:
        f.write(full + torn[:10])  # one complete line + a torn prefix

    r = KafkaSimParallelStreamReader({"path": root, "subscribe": TOPIC})
    assert r.initialOffset() == {"0": 0}
    assert r.latestOffset() == {"0": 1}  # torn line not counted
    with open(path, "a") as f:
        f.write(torn[10:])  # rest of the record, still no newline
    assert r.latestOffset() == {"0": 1}
    with open(path, "a") as f:
        f.write("\n")  # newline lands: the record is complete
    assert r.latestOffset() == {"0": 2}
    slices = r.partitions({"0": 1}, {"0": 2})
    rows = list(r.read(slices[0]))
    assert len(rows) == 1 and b'"name": "b"' in bytes(rows[0][1])


def test_kafkasim_parallel_clean_restart_no_offset_regression(tmp_path):
    """ADVICE r5 (high): after a CLEAN restart — every batch committed, no
    pending replay — the first latestOffset() of a fresh reader instance
    must never fall below the checkpointed offset.  The old code baselined
    rate limiting from initialOffset() (earliest=0) whenever _progress was
    None, so under maxOffsetsPerTrigger it returned a capped end BELOW the
    committed offset; Spark's offset log regressed and the committed prefix
    re-emitted as duplicates.  Drives the reader per the pyspark
    DataSourceStreamReader protocol (latestOffset -> partitions -> commit)."""
    from clickhouse_sinker_nali_spark.sources.datasources import (
        KafkaSimParallelStreamReader,
    )

    root = str(tmp_path / "logs")
    _write_topic(root, n_per_part=20, parts=1)
    opts = {"path": root, "subscribe": TOPIC, "maxOffsetsPerTrigger": "8"}

    # session 1: fresh start (initialOffset IS called), rate-limited drain
    r1 = KafkaSimParallelStreamReader(opts)
    committed = r1.initialOffset()
    assert committed == {"0": 0}
    batches = 0
    while True:
        end = r1.latestOffset()
        assert all(end[p] - committed[p] <= 8 for p in end)  # cap honored
        if end == committed:
            break
        r1.partitions(committed, end)
        r1.commit(end)
        committed = end
        batches += 1
    assert committed == {"0": 20} and batches == 3  # 8 + 8 + 4

    # session 2: CLEAN restart — Spark calls latestOffset() FIRST (the
    # checkpointed start only reaches partitions()); initialOffset is not
    # called because the checkpoint exists
    r2 = KafkaSimParallelStreamReader(opts)
    end2 = r2.latestOffset()
    assert all(end2[p] >= committed[p] for p in end2), (
        f"offset log regressed: {end2} < committed {committed}"
    )
    assert r2.partitions(committed, end2) == []  # nothing to re-emit

    # producer appends; rate limiting resumes one batch later
    with open(os.path.join(root, TOPIC, "partition-0.jsonl"), "a") as f:
        for off in range(20, 40):
            msg = {"time": "2024-03-01 10:00:59", "name": f"p0m{off}",
                   "value": off * 0.5}
            f.write(json.dumps({"key": None, "value": json.dumps(msg)}) + "\n")
    end3 = r2.latestOffset()
    assert end3 == {"0": 28}  # capped again, from the committed baseline
    slices = r2.partitions(committed, end3)
    assert [(s.part, s.lo, s.hi) for s in slices] == [(0, 20, 28)]


def test_kafkasim_parallel_sidecar_caps_first_restart_batch(tmp_path):
    """ADVICE r6 #3: with a consumer group id, the reader persists its
    high-water PLANNED offsets in a sidecar next to the log, so after a
    clean restart over a deep backlog the FIRST latestOffset is already
    admission-capped — no unbounded catch-up batch — while still never
    falling below the committed offset (the sidecar is written before
    every planned end is returned, so it is >= any committed start)."""
    from clickhouse_sinker_nali_spark.sources.datasources import (
        KafkaSimParallelStreamReader,
    )

    root = str(tmp_path / "logs")
    _write_topic(root, n_per_part=20, parts=1)
    opts = {
        "path": root, "subscribe": TOPIC, "maxOffsetsPerTrigger": "8",
        "groupid": "g1",
    }

    # session 1: rate-limited drain to 20, committing each batch
    r1 = KafkaSimParallelStreamReader(opts)
    committed = r1.initialOffset()
    while True:
        end = r1.latestOffset()
        if end == committed:
            break
        r1.partitions(committed, end)
        r1.commit(end)
        committed = end
    assert committed == {"0": 20}
    assert os.path.exists(os.path.join(root, TOPIC, ".baseline-g1.json"))

    # deep backlog lands while the query is DOWN
    with open(os.path.join(root, TOPIC, "partition-0.jsonl"), "a") as f:
        for off in range(20, 120):
            msg = {"time": "2024-03-01 10:00:59", "name": f"p0m{off}",
                   "value": off * 0.5}
            f.write(json.dumps({"key": None, "value": json.dumps(msg)}) + "\n")

    # session 2: clean restart — first latestOffset is CAPPED (8 past the
    # sidecar high-water) and never below the committed offset
    r2 = KafkaSimParallelStreamReader(opts)
    end2 = r2.latestOffset()
    assert end2 == {"0": 28}
    assert all(end2[p] >= committed[p] for p in end2)
    slices = r2.partitions(committed, end2)
    assert [(s.part, s.lo, s.hi) for s in slices] == [(0, 20, 28)]
    r2.commit(end2)
    # and the remaining backlog keeps draining under the cap
    end3 = r2.latestOffset()
    assert end3 == {"0": 36}

    # a DIFFERENT group gets no baseline: uncapped restart (the documented
    # pre-sidecar behavior, still regression-safe)
    r3 = KafkaSimParallelStreamReader({**opts, "groupid": "g2"})
    assert r3.latestOffset() == {"0": 120}


def test_kafkasim_parallel_rate_limit_and_resume(spark, tmp_path):
    """The kafkasim reader under maxOffsetsPerTrigger: the log drains
    completely, a checkpoint restart resumes without loss or dups, and —
    because Spark's python stream protocol gives latestOffset no start
    offset — only the FIRST batch of a (re)started query is admission-
    uncapped; every batch after the authoritative re-baseline honors the
    cap (the documented restart caveat, safe side of the r5 ADVICE
    offset-regression fix)."""
    root = str(tmp_path / "logs")
    _write_topic(root, n_per_part=20, parts=2)
    register_all(spark)
    cfg = _cfg(kafka_options={"path": root})  # cap 16
    epochs: list = []
    ckpt = str(tmp_path / "ckpt_par_rl")
    _drain(spark, cfg, root, ckpt, epochs)
    rows = [r for _, b in epochs for r in b]
    assert len(rows) == 40  # fresh query: first batch uncapped, drains all
    # append 40 more and resume from the SAME checkpoint: the restart
    # replays the offset-log tail through partitions(), re-baselining the
    # rate limiter, so the backlog drains as capped batches
    d = os.path.join(root, TOPIC)
    for p in range(2):
        with open(os.path.join(d, f"partition-{p}.jsonl"), "a") as f:
            for off in range(20, 40):
                msg = {"time": "2024-03-01 10:00:59", "name": f"p{p}m{off}",
                       "value": p * 1000 + off * 0.5}
                f.write(json.dumps({"key": None, "value": json.dumps(msg)}) + "\n")
    epochs2: list = []
    _drain(spark, cfg, root, ckpt, epochs2)
    rows2 = [r for _, b in epochs2 for r in b]
    assert len(rows2) == 40
    assert all(len(b) <= 16 for _, b in epochs2)  # cap honored post-restart
    assert len(epochs2) >= 3  # 16 + 16 + 8
    got = {(r["__kafka_partition"], r["__kafka_offset"]) for r in rows + rows2}
    assert got == {(p, o) for p in range(2) for o in range(40)}
