"""Real-JDBC integration tests for the sink path (K1/K3/K4 + PR5).

Every prior round exercised the sink through the parquet twin only; these
tests drive the ACTUAL JDBC branch against embedded Apache Derby — the
JDBC database that ships on Spark's own classpath — so the
``JdbcClickHouseSink`` write path, the bad-row-skipping transaction
rewrite (reference output/clickhouse_util.go:32-93), replica
rotation (reference pool/conn.go:75-126), and the ALTER round-trip
(reference output/clickhouse.go:369-460) all execute against a live JDBC
connection.  No ClickHouse server exists in this container; Derby stands
in for the wire protocol, not for ClickHouse semantics (those stay covered
by the DDL/unit twins).

Identifier casing: Derby folds unquoted identifiers to UPPERCASE while
Spark's JDBC writer quotes column names verbatim — tables and DataFrame
columns here are uppercase throughout so both access paths agree.
"""

from __future__ import annotations

import json
import os

import pytest

from clickhouse_sinker_nali_spark.streaming.dynamic import alter_statements
from clickhouse_sinker_nali_spark.streaming.sinks import (
    JdbcClickHouseSink,
    write_rows_skipping_bad,
)

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
# user=APP: Derby derives the default SCHEMA from the JDBC user, and raw
# DriverManager connections (no user) land in APP — without this the sink's
# default user would read/write a different schema than the setup statements
DERBY_PROPS = {"driver": DERBY_DRIVER, "user": "APP"}


def _derby_url(tmp_path, name: str) -> str:
    return f"jdbc:derby:{os.path.join(str(tmp_path), name)};create=true"


def _connect(spark, url: str):
    """Open a REAL java.sql.Connection through the session JVM."""
    jvm = spark._jvm
    jvm.java.lang.Class.forName(DERBY_DRIVER)
    return jvm.java.sql.DriverManager.getConnection(url)


def _exec(conn, sql: str) -> None:
    st = conn.createStatement()
    try:
        st.execute(sql)
    finally:
        st.close()


def _query_rows(conn, sql: str) -> list[tuple]:
    st = conn.createStatement()
    rs = st.executeQuery(sql)
    meta = rs.getMetaData()
    n = meta.getColumnCount()
    out = []
    while rs.next():
        out.append(tuple(rs.getObject(i + 1) for i in range(n)))
    st.close()
    return out


def _persisted(spark) -> set[int]:
    """Ids of the RDDs the session currently keeps cached."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_jdbc_sink_real_write_roundtrip(spark, tmp_path):
    """K1: the JDBC branch of JdbcClickHouseSink writes a micro-batch over
    a live connection and the rows read back through JDBC."""
    url = _derby_url(tmp_path, "k1db")
    conn = _connect(spark, url)
    _exec(conn, "CREATE TABLE EVENTS_K1 (ID BIGINT, NAME VARCHAR(100))")
    conn.close()
    df = spark.createDataFrame(
        [(i, f"name{i}") for i in range(50)], "ID BIGINT, NAME STRING"
    )
    sink = JdbcClickHouseSink(
        urls=[[url]], table="EVENTS_K1", properties=DERBY_PROPS
    )
    sink.write(df, epoch_id=0)

    back = spark.read.jdbc(url, "EVENTS_K1", properties=DERBY_PROPS)
    assert back.count() == 50
    assert sorted(r.ID for r in back.collect()) == list(range(50))


def test_jdbc_replica_failover_rotates_to_good_replica(spark, tmp_path):
    """K3: first replica URL is unreachable (nonexistent database,
    create=false); the retry loop must rotate to the healthy replica and
    complete the write."""
    bad = f"jdbc:derby:{os.path.join(str(tmp_path), 'missing-db')}"  # no create
    good = _derby_url(tmp_path, "k3db")
    conn = _connect(spark, good)
    _exec(conn, "CREATE TABLE EVENTS_K3 (ID BIGINT, NAME VARCHAR(100))")
    conn.close()
    df = spark.createDataFrame([(1, "a"), (2, "b")], "ID BIGINT, NAME STRING")
    sink = JdbcClickHouseSink(
        urls=[[bad, good]], table="EVENTS_K3", retry_times=3,
        properties=DERBY_PROPS,
    )
    sink.write(df, epoch_id=0)
    back = spark.read.jdbc(good, "EVENTS_K3", properties=DERBY_PROPS)
    assert back.count() == 2


def test_jdbc_replicas_all_down_raises(spark, tmp_path):
    bad1 = f"jdbc:derby:{os.path.join(str(tmp_path), 'no1')}"
    bad2 = f"jdbc:derby:{os.path.join(str(tmp_path), 'no2')}"
    df = spark.createDataFrame([(1, "a")], "ID BIGINT, NAME STRING")
    sink = JdbcClickHouseSink(
        urls=[[bad1, bad2]], table="T", retry_times=2, properties=DERBY_PROPS
    )
    with pytest.raises(Exception):
        sink.write(df, epoch_id=0)


def test_write_rows_skipping_bad_real_jdbc(spark, tmp_path):
    """PR5 against a live transaction: a CHECK constraint rejects one row
    mid-batch; the first transaction rolls back entirely and the rewrite
    commits exactly the good rows (reference output/clickhouse_util.go:32-93
    semantics, with Derby's CHECK playing the server-side rejection)."""
    url = _derby_url(tmp_path, "pr5db")
    conn = _connect(spark, url)
    _exec(conn, "CREATE TABLE GUARDED (ID BIGINT, V INT CHECK (V < 100))")
    conn.setAutoCommit(False)

    class DerbyTx:
        def __init__(self):
            self.ps = conn.prepareStatement(
                "INSERT INTO GUARDED (ID, V) VALUES (?, ?)"
            )

        def exec(self, row):
            self.ps.setLong(1, int(row[0]))
            self.ps.setInt(2, int(row[1]))
            self.ps.executeUpdate()

        def commit(self):
            conn.commit()

        def rollback(self):
            conn.rollback()

    rows = [(0, 10), (1, 20), (2, 500), (3, 30), (4, 999)]  # 2 and 4 violate
    stats = write_rows_skipping_bad(rows, DerbyTx)
    assert stats.n_total == 5
    assert stats.n_bad == 2
    assert stats.bad_indices == [2, 4]
    assert stats.first_error is not None

    kept = sorted(int(r[0]) for r in _query_rows(conn, "SELECT ID FROM GUARDED"))
    assert kept == [0, 1, 3]
    conn.commit()  # the verification SELECT opened a fresh transaction
    conn.close()


def test_write_rows_all_good_single_transaction(spark, tmp_path):
    url = _derby_url(tmp_path, "pr5okdb")
    conn = _connect(spark, url)
    _exec(conn, "CREATE TABLE PLAIN (ID BIGINT, V INT)")
    conn.setAutoCommit(False)

    class DerbyTx:
        def __init__(self):
            self.ps = conn.prepareStatement(
                "INSERT INTO PLAIN (ID, V) VALUES (?, ?)"
            )

        def exec(self, row):
            self.ps.setLong(1, int(row[0]))
            self.ps.setInt(2, int(row[1]))
            self.ps.executeUpdate()

        def commit(self):
            conn.commit()

        def rollback(self):
            conn.rollback()

    stats = write_rows_skipping_bad([(i, i) for i in range(10)], DerbyTx)
    assert stats.n_bad == 0
    assert len(_query_rows(conn, "SELECT ID FROM PLAIN")) == 10
    conn.commit()  # the verification SELECT opened a fresh transaction
    conn.close()


def test_alter_roundtrip_real_jdbc(spark, tmp_path):
    """K4: dynamic-schema ALTER executed over a real JDBC Statement, then a
    widened write lands in the new column — the §3.3 DDL path end-to-end."""
    from clickhouse_sinker_nali_spark.schema import InternalType

    url = _derby_url(tmp_path, "k4db")
    conn = _connect(spark, url)
    _exec(conn, "CREATE TABLE EVOLVING (ID BIGINT, NAME VARCHAR(100))")

    # epoch 1: original schema through the real JDBC sink
    sink = JdbcClickHouseSink(urls=[[url]], table="EVOLVING", properties=DERBY_PROPS)
    sink.write(
        spark.createDataFrame([(1, "a")], "ID BIGINT, NAME STRING"), epoch_id=0
    )

    # new keys detected -> ANSI ALTER over the live connection
    stmts = alter_statements(
        "ignored", "EVOLVING",
        {"NEWKEY01": InternalType.INT, "NEWKEY02": InternalType.FLOAT},
        dialect="ansi",
    )
    assert stmts == [
        "ALTER TABLE EVOLVING ADD COLUMN NEWKEY01 BIGINT",
        "ALTER TABLE EVOLVING ADD COLUMN NEWKEY02 DOUBLE",
    ]
    for s in stmts:
        _exec(conn, s)

    # epoch 2: widened schema through the same sink
    sink.write(
        spark.createDataFrame(
            [(2, "b", 7, 1.5)],
            "ID BIGINT, NAME STRING, NEWKEY01 BIGINT, NEWKEY02 DOUBLE",
        ),
        epoch_id=1,
    )
    rows = _query_rows(
        conn, "SELECT ID, NEWKEY01 FROM EVOLVING ORDER BY ID"
    )
    assert [(int(a), b if b is None else int(b)) for a, b in rows] == [
        (1, None),
        (2, 7),
    ]
    conn.close()


@pytest.mark.slow
def test_mid_batch_sink_crash_recovers_exactly_once(spark, tmp_path):
    """§2.9 exactly-once under a MID-BATCH sink crash (r6 VERDICT task 5).

    A sharded epoch dies halfway: shard 0's JDBC transaction COMMITS, then
    shard 1's endpoint is down and the foreachBatch raises after the retry
    budget — exactly the window the reference's ordered group commit
    guards (model/message.go:70-92: offsets only advance once every shard
    flushed).  Spark's checkpoint plays the same role: the failed epoch is
    uncommitted, so a restart replays it identically (deterministic hash
    routing).  End state: the committed shard holds at-least-once
    duplicates — and the keyed read (the ReplacingMergeTree-FINAL
    equivalent of the engine's sink claim, streaming/sinks.py K1 note)
    collapses to exactly the input key set; the recovered shard, whose
    transaction never committed before the crash, holds each row exactly
    once even at the raw level.
    """
    import json as _json

    from pyspark.sql import functions as F

    from clickhouse_sinker_nali_spark.streaming.pipeline import (
        TaskConfig,
        build_file_source,
        start_pipeline,
    )

    n = 2000
    src = str(tmp_path / "msgs")
    os.makedirs(src)
    with open(os.path.join(src, "part-0.txt"), "w") as f:
        for i in range(n):
            f.write(_json.dumps({"id": i, "name": f"name{i % 7}"}) + "\n")

    url_a = _derby_url(tmp_path, "xo_a")
    conn = _connect(spark, url_a)
    _exec(conn, "CREATE TABLE EVENTS_XO (ID BIGINT, NAME VARCHAR(100))")
    conn.close()
    # shard 1's only replica: DB does not exist yet (no ;create=true) ->
    # every write attempt fails until the "server" comes back
    b_path = os.path.join(str(tmp_path), "xo_b")
    url_b = f"jdbc:derby:{b_path}"

    cfg = TaskConfig(
        name="xo_task", topic="file", table="EVENTS_XO",
        dims=[
            {"name": "ID", "type": "Int64", "sourcename": "id"},
            {"name": "NAME", "type": "String", "sourcename": "name"},
        ],
    )
    ckpt = str(tmp_path / "ckpt")

    def make_sink():
        return JdbcClickHouseSink(
            urls=[[url_a], [url_b]], table="EVENTS_XO", retry_times=1,
            sharding_policy="hash", sharding_key="NAME",
            properties=DERBY_PROPS,
        )

    # run 1: shard 0 commits, shard 1 crashes the epoch mid-batch
    cached_before = _persisted(spark)
    q = start_pipeline(
        spark, cfg, build_file_source(spark, src), make_sink(), ckpt,
        available_now=True,
    )
    with pytest.raises(Exception):
        q.awaitTermination(300)
    # the failed batch released its materialized copy on the way out
    assert _persisted(spark) == cached_before
    partial = spark.read.jdbc(url_a, "EVENTS_XO", properties=DERBY_PROPS)
    n_partial = partial.count()
    assert n_partial > 0  # the crash really was mid-batch: shard 0 landed

    # shard 1's database comes back up (with the table), stream restarts
    # from the SAME checkpoint
    conn = _connect(spark, url_b + ";create=true")
    _exec(conn, "CREATE TABLE EVENTS_XO (ID BIGINT, NAME VARCHAR(100))")
    conn.close()
    q2 = start_pipeline(
        spark, cfg, build_file_source(spark, src), make_sink(), ckpt,
        available_now=True,
    )
    q2.awaitTermination(300)

    a = spark.read.jdbc(url_a, "EVENTS_XO", properties=DERBY_PROPS)
    b = spark.read.jdbc(url_b, "EVENTS_XO", properties=DERBY_PROPS)
    # the replayed epoch re-wrote shard 0: raw rows show the at-least-once
    # duplicates of the pre-crash partial commit...
    assert a.count() == 2 * n_partial
    assert b.count() > 0
    # ...and the FINAL-equivalent keyed read collapses to exactly-once
    final = a.unionByName(b).groupBy("ID").agg(F.max("NAME").alias("NAME"))
    assert final.count() == n
    assert sorted(r.ID for r in final.collect()) == list(range(n))
    # deterministic routing: no key ever lands on both shards
    assert (
        a.select("NAME").distinct().join(b.select("NAME").distinct(), "NAME").count()
        == 0
    )
    # the shard whose transaction never committed pre-crash is exactly-once
    # even RAW (per-epoch transactionality, no FINAL needed)
    assert b.count() == b.select("ID").distinct().count()
    assert b.count() + n_partial == n


# -- one evaluation per micro-batch ---------------------------------------

KAFKA_PARTS = 4
N_MESSAGES = 3200
N_FIRST = 800  # the first batch; the rest lands after it as a backlog
MALFORMED_EVERY = 97  # message j is malformed when j % 97 == 13: about 1%
FLOW_DIMS = [
    {"name": "ID", "type": "Int64", "sourcename": "id"},
    {"name": "NAME", "type": "String", "sourcename": "name"},
    {"name": "__kafka_partition", "type": "Int32"},
    {"name": "__kafka_offset", "type": "Int64"},
]
# __kafka* start with "_", which only a quoted identifier allows in Derby
FLOW_DDL = (
    'CREATE TABLE FLOWS (ID BIGINT, NAME VARCHAR(16), '
    '"__kafka_partition" INT, "__kafka_offset" BIGINT)'
)


def _malformed(j: int) -> bool:
    return j % MALFORMED_EVERY == 13


def _append_messages(topic_dir: str, lo: int, hi: int) -> None:
    """Message j goes to partition j % KAFKA_PARTS at offset j // KAFKA_PARTS."""
    chunks: list[list[str]] = [[] for _ in range(KAFKA_PARTS)]
    for j in range(lo, hi):
        if _malformed(j):
            value = "not json" if j % 2 else '{"id": 1, "name": '
        else:
            value = json.dumps({"id": j, "name": f"n{j % 53}"})
        chunks[j % KAFKA_PARTS].append(json.dumps({"value": value}) + "\n")
    for p in range(KAFKA_PARTS):
        with open(os.path.join(topic_dir, f"partition-{p}.jsonl"), "a") as f:
            f.writelines(chunks[p])


class _BatchProbe:
    """Wraps a sink and records, per batch: the ids of the Spark jobs the
    sink ran, the job counter when the sink returned, and the RDDs cached
    while it ran."""

    def __init__(self, inner, spark) -> None:
        self.inner = inner
        self.spark = spark
        self.sched = spark._jsc.sc().dagScheduler()
        self.sink_jobs: dict[int, range] = {}
        self.jobs_at_end: dict[int, int] = {}
        self.cached: dict[int, set[int]] = {}

    def write(self, df, epoch_id: int) -> None:
        self.cached[epoch_id] = _persisted(self.spark)
        j0 = self.sched.numTotalJobs()
        self.inner.write(df, epoch_id)
        j1 = self.sched.numTotalJobs()
        self.sink_jobs[epoch_id] = range(j0, j1)
        self.jobs_at_end[epoch_id] = j1


def _stream_into_derby(spark, tmp_path, shards: int, policy: str):
    """start_pipeline over a 4-partition kafkasim topic into one Derby
    database per shard: a first batch of N_FIRST messages, then the rest
    as a backlog drained in capped batches.  Returns the executed
    batches' progress, the probe, the job counter before the query
    started, the RDDs cached before it, and the rows each shard holds."""
    from clickhouse_sinker_nali_spark.sources.datasources import register_all
    from clickhouse_sinker_nali_spark.streaming.pipeline import (
        TaskConfig,
        build_kafka_source,
        start_pipeline,
    )

    root = str(tmp_path / "topics")
    topic_dir = os.path.join(root, "flows")
    os.makedirs(topic_dir)
    _append_messages(topic_dir, 0, N_FIRST)
    urls = [_derby_url(tmp_path, f"flows{s}") for s in range(shards)]
    for url in urls:
        conn = _connect(spark, url)
        _exec(conn, FLOW_DDL)
        conn.close()
    register_all(spark)
    cfg = TaskConfig(
        name="once_task", topic="flows", table="FLOWS", dims=FLOW_DIMS,
        flush_interval_s=1, buffer_size=512,
        kafka_options={"path": root},
    )
    probe = _BatchProbe(
        JdbcClickHouseSink(
            urls=[[u] for u in urls], table="FLOWS",
            sharding_policy=policy, sharding_key="NAME" if policy else "",
            properties=DERBY_PROPS,
        ),
        spark,
    )
    cached_before = _persisted(spark)
    jobs_before = probe.sched.numTotalJobs()
    q = start_pipeline(
        spark, cfg, build_kafka_source(spark, cfg, "none:9092", fmt="kafkasim"),
        probe, str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        _append_messages(topic_dir, N_FIRST, N_MESSAGES)
        q.processAllAvailable()
        progress = {}
        for p in q.recentProgress:
            d = json.loads(p.json)
            if "addBatch" in d.get("durationMs", {}):
                progress[d["batchId"]] = d
    finally:
        q.stop()
    rows = [
        spark.read.jdbc(u, "FLOWS", properties=DERBY_PROPS).collect() for u in urls
    ]
    batches = [progress[b] for b in sorted(progress)]
    return batches, probe, jobs_before, cached_before, rows


def _batch_messages(batch: dict) -> list[int]:
    """Global message numbers j of one batch, from its source offsets."""
    src = batch["sources"][0]
    start = {int(k): int(v) for k, v in (src["startOffset"] or {}).items()}
    end = {int(k): int(v) for k, v in (src["endOffset"] or {}).items()}
    return [
        o * KAFKA_PARTS + p
        for p in range(KAFKA_PARTS)
        for o in range(start.get(p, 0), end.get(p, 0))
    ]


def _kafka_key(r) -> tuple[int, int]:
    return int(r["__kafka_partition"]), int(r["__kafka_offset"])


@pytest.mark.parametrize("shards", [2, 4])
def test_sharded_batch_evaluated_once(spark, tmp_path, shards):
    """Each micro-batch is evaluated once and each shard gets one INSERT:
    the observed counters and numInputRows count every message once, a
    batch runs at most one job per shard plus the materialization, each
    shard's write is a single task, no batch's cache outlives it, and
    rows land exactly once by (partition, offset) on their hash shard."""
    from pyspark.sql import functions as F

    from clickhouse_sinker_nali_spark.streaming.sinks import shard_expr

    batches, probe, jobs_before, cached_before, rows = _stream_into_derby(
        spark, tmp_path, shards, "hash"
    )
    assert len(batches) >= 3  # the first batch plus a capped backlog
    assert sum(b["numInputRows"] for b in batches) == N_MESSAGES

    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    prev_end = jobs_before
    for b in batches:
        epoch = b["batchId"]
        js = _batch_messages(b)
        assert b["numInputRows"] == len(js)
        observed = b["observedMetrics"]["sinker_metrics"]
        assert int(observed["parse_errors_total"] or 0) == sum(map(_malformed, js))
        assert int(observed["rows_total"]) == len(js)
        # one materialization job plus one write job per shard
        assert probe.jobs_at_end[epoch] - prev_end <= shards + 1
        prev_end = probe.jobs_at_end[epoch]
        assert len(probe.sink_jobs[epoch]) == shards
        for job_id in probe.sink_jobs[epoch]:
            info = tracker.getJobInfo(job_id)
            assert sum(tracker.getStageInfo(s).numTasks for s in info.stageIds) == 1
        # only this batch's own cache is alive while the sink runs
        assert len(probe.cached[epoch] - cached_before) <= 1
    assert _persisted(spark) == cached_before

    keys = [_kafka_key(r) for shard_rows in rows for r in shard_rows]
    valid = {(j % KAFKA_PARTS, j // KAFKA_PARTS) for j in range(N_MESSAGES)
             if not _malformed(j)}
    assert len(keys) == len(valid)
    assert set(keys) == valid
    routed = spark.createDataFrame(
        [(s, r["NAME"]) for s, shard_rows in enumerate(rows) for r in shard_rows],
        "SHARD INT, NAME STRING",
    )
    assert routed.filter(shard_expr("hash", "NAME", shards) != F.col("SHARD")).count() == 0


def test_unsharded_route_whole_batch_to_epoch_shard(spark, tmp_path):
    """Without a sharding policy every batch goes whole to shard
    ``epoch_id % shards`` (the reference's default routing), exactly once."""
    shards = 2
    batches, probe, _, cached_before, rows = _stream_into_derby(
        spark, tmp_path, shards, ""
    )
    assert len(batches) >= 3
    held = [{_kafka_key(r) for r in shard_rows} for shard_rows in rows]
    assert sum(len(r) for r in rows) == sum(len(h) for h in held)  # no dups
    for b in batches:
        want = {(j % KAFKA_PARTS, j // KAFKA_PARTS) for j in _batch_messages(b)
                if not _malformed(j)}
        assert want <= held[b["batchId"] % shards]
        assert not want & held[(b["batchId"] + 1) % shards]
        assert len(probe.sink_jobs[b["batchId"]]) == 1
    assert sum(len(h) for h in held) == N_MESSAGES - sum(
        map(_malformed, range(N_MESSAGES))
    )
    assert _persisted(spark) == cached_before
