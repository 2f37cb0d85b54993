"""netflow_stream: the nali path, streaming from a Kafka-shaped log into
two sharded JDBC databases.

A producer thread in the benchmark writes pmacct-shaped flow messages
into a 4-partition kafkasim topic (``sources.datasources``,
``parallel=true``).  ``streaming.pipeline.start_pipeline`` runs
kafkasim → drop-but-ack of malformed messages → GeoIP ``enrich_ips`` on
both addresses + ``join_service_map``/``normalize_class`` (rewriting the
message before the parse, as the reference does) → parse/coerce →
``JdbcClickHouseSink`` hash-sharded on ``ip_src`` over two embedded
Derby databases, one per shard.

Two phases on one query:

1. catch-up: a backlog appended at once drains in batches capped by
   ``buffer_size`` (the reference's restart case) — per-row cost in
   sources, enrich and sinks.  A fresh kafkasim query's first batch is
   uncapped, so the query first runs one cold batch over a smaller log
   as the warm-up, and the backlog lands after it;
2. steady: an open loop at ``OFFERED_RATE`` rows/s for ``--seconds`` —
   per-batch overhead (planning, the offset WAL, sink jobs) and latency.

A message's latency runs from the producer's ``ts`` stamp, taken when
the message was due, until the batch holding its (partition, offset)
finished writing; batch boundaries come from the query's progress
offsets, batch finish times from the sink.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time
from datetime import datetime, timedelta, timezone

import numpy as np
from pyspark.sql import functions as F

from clickhouse_sinker_nali_spark.enrich import (
    GEO_BASE,
    GEO_BLOCK,
    GEO_BLOCKS,
    GEO_ISPS,
    GEO_LOCS,
    GEO_UNKNOWN,
    build_geo_ranges,
    enrich_ips,
    ipv4_to_long,
    join_service_map,
    load_service_map,
    normalize_class,
)
from clickhouse_sinker_nali_spark.sources.datasources import register_all
from clickhouse_sinker_nali_spark.streaming.pipeline import (
    TaskConfig,
    build_kafka_source,
    start_pipeline,
)
from clickhouse_sinker_nali_spark.streaming.sinks import JdbcClickHouseSink, shard_expr

from .common import Result, percentile

PARTS = 4
SHARDS = 2
TRIGGER_S = 1
BUFFER_SIZE = 1 << 14  # maxOffsetsPerTrigger during catch-up
WARMUP_ROWS = BUFFER_SIZE  # the cold first batch (query start, workers, JIT)
BACKLOG_ROWS = 3 * BUFFER_SIZE  # appended after it, drained in 3 batches
# Fixed open-loop rate, about a third of this pipeline's catch-up rate on
# a quiet 4-core host (~5,000 rows/s), so a contended host still keeps
# up; it must stay the same on both sides of a comparison.
OFFERED_RATE = 1_500
TICK_S = 0.02
SAMPLE_ROWS = 500

# message mix (shares of all messages)
MALFORMED_SHARE = 0.01
OUT_OF_RANGE_IP_SHARE = 0.06
ALT_LAYOUT_SHARE = 0.03

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
# user=APP: Derby's default schema follows the JDBC user
DERBY_PROPS = {"driver": DERBY_DRIVER, "user": "APP"}

DIMS = [
    {"name": "ip_src", "type": "String"},
    {"name": "ip_dst", "type": "String"},
    {"name": "proto", "type": "LowCardinality(String)"},
    {"name": "port_src", "type": "UInt16"},
    {"name": "port_dst", "type": "UInt16"},
    {"name": "flow_class", "type": "String", "sourcename": "class"},
    {"name": "bytes", "type": "UInt64"},
    {"name": "packets", "type": "UInt64"},
    {"name": "stamp_inserted", "type": "DateTime"},
    {"name": "src_loc", "type": "LowCardinality(String)"},
    {"name": "src_isp", "type": "LowCardinality(String)"},
    {"name": "dst_loc", "type": "LowCardinality(String)"},
    {"name": "dst_isp", "type": "LowCardinality(String)"},
    {"name": "__kafka_partition", "type": "Int32"},
    {"name": "__kafka_offset", "type": "Int64"},
]

# Derby folds unquoted identifiers to upper case; Spark's JDBC writer
# matches DataFrame columns to table columns case-insensitively.  The
# __kafka* names start with "_", which only a quoted identifier allows.
TABLE_DDL = """CREATE TABLE {table} (
  IP_SRC VARCHAR(15), IP_DST VARCHAR(15), PROTO VARCHAR(8),
  PORT_SRC INT, PORT_DST INT, FLOW_CLASS VARCHAR(64),
  BYTES BIGINT, PACKETS BIGINT, STAMP_INSERTED TIMESTAMP,
  SRC_LOC VARCHAR(32), SRC_ISP VARCHAR(32), DST_LOC VARCHAR(32), DST_ISP VARCHAR(32),
  "__kafka_partition" INT, "__kafka_offset" BIGINT)"""

FLOW_SCHEMA = (
    "ip_src string, ip_dst string, proto string, port_src bigint, "
    "port_dst bigint, class string, bytes bigint, packets bigint, "
    "stamp_inserted string"
)
_FLOW_FIELDS = [f.split()[0] for f in FLOW_SCHEMA.split(", ")]

_WELL_KNOWN = [22, 53, 80, 123, 443, 3306, 8080, 25, 110, 143, 993, 5432, 6379]
_APPS = ["http", "https", "dns", "quic", "ssh", "ntp", "mysql", "tls"]
_STAMP_BASE = datetime(2024, 3, 1, tzinfo=timezone.utc)


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------


class Flows:
    """Seeded flow messages, indexed by global position ``j``; message
    ``j`` goes to partition ``j % PARTS`` at offset ``j // PARTS``.

    Keeps only the rendered log lines' values plus what the checks need:
    which messages are malformed and each valid message's stamp."""

    def __init__(self, seed: int, salt: str) -> None:
        self.rng = random.Random(f"{seed}:{salt}")
        self.values: list[str] = []  # JSON-escaped message text
        self.malformed: list[bool] = []
        self.stamp: list[int] = []  # epoch seconds, valid messages
        self.unknown_class: list[bool] = []  # class "Unknown/Unknown"

    def _ip(self) -> str:
        r = self.rng
        if r.random() < OUT_OF_RANGE_IP_SHARE:
            return f"203.0.{r.randrange(256)}.{r.randrange(1, 255)}"
        n = GEO_BASE + r.randrange(GEO_BLOCKS * GEO_BLOCK)
        return f"{n >> 24}.{(n >> 16) & 255}.{(n >> 8) & 255}.{n & 255}"

    def _port(self) -> int:
        r = self.rng
        if r.random() < 0.4:
            return r.choice(_WELL_KNOWN)
        return r.randrange(49152, 65536)  # ephemeral: no service-map entry

    def _class(self) -> str:
        r = self.rng.random()
        if r < 0.3:
            return "Unknown/Unknown"
        if r < 0.5:
            a, b = self.rng.sample(_APPS, 2)
            return f"{a}/{b}"
        if r < 0.6:
            a = self.rng.choice(_APPS)
            return f"{a}/{a}"
        return self.rng.choice(_APPS)

    def extend(self, n: int) -> None:
        r = self.rng
        for _ in range(n):
            if r.random() < MALFORMED_SHARE:
                bad = r.choice(['{"ip_src": "10.0.', "42", "[1,2]", "not json"])
                self.values.append(json.dumps(bad))
                self.malformed.append(True)
                self.stamp.append(0)
                self.unknown_class.append(False)
                continue
            secs = r.randrange(30 * 86400)
            dt = _STAMP_BASE + timedelta(seconds=secs)
            layout = (
                "%d/%m/%Y %H:%M:%S"
                if r.random() < ALT_LAYOUT_SHARE
                else "%Y-%m-%d %H:%M:%S"
            )
            msg = {
                "ip_src": self._ip(),
                "ip_dst": self._ip(),
                "proto": r.choice(("tcp", "udp")),
                "port_src": self._port(),
                "port_dst": self._port(),
                "class": self._class(),
                "bytes": r.randrange(40, 1_500_000),
                "packets": r.randrange(1, 1000),
                "stamp_inserted": dt.strftime(layout),
            }
            self.values.append(json.dumps(json.dumps(msg, separators=(",", ":"))))
            self.malformed.append(False)
            self.stamp.append(int(dt.timestamp()))
            self.unknown_class.append(msg["class"] == "Unknown/Unknown")

    def __len__(self) -> int:
        return len(self.values)


def _iso(t: float) -> str:
    return datetime.fromtimestamp(t, timezone.utc).replace(tzinfo=None).isoformat()


def _line(value: str, ts: float) -> str:
    return f'{{"ts":"{_iso(ts)}","value":{value}}}\n'


def write_backlog(topic_dir: str, flows: Flows, lo: int, hi: int) -> None:
    os.makedirs(topic_dir, exist_ok=True)
    now = time.time()
    chunks: list[list[str]] = [[] for _ in range(PARTS)]
    for j in range(lo, hi):
        chunks[j % PARTS].append(_line(flows.values[j], now))
    for p in range(PARTS):
        with open(os.path.join(topic_dir, f"partition-{p}.jsonl"), "a") as f:
            f.writelines(chunks[p])


class Producer(threading.Thread):
    """Open-loop producer: every TICK_S it appends the messages due in
    that tick, stamped with the tick's due time.  It never waits for the
    pipeline, so a stall shows as queueing, not as a slower offer."""

    def __init__(self, topic_dir: str, flows: Flows, lo: int, rate: int, seconds: float):
        super().__init__(name="producer", daemon=True)
        self.dir = topic_dir
        self.flows = flows
        self.lo = lo
        self.per_tick = int(rate * TICK_S)
        self.ticks = int(round(seconds / TICK_S))
        self.t0 = 0.0
        self.late_s: list[float] = []
        self.done_at: list[float] = []  # wall time each tick was flushed

    @property
    def hi(self) -> int:
        return self.lo + self.per_tick * self.ticks

    def due(self, j: np.ndarray) -> np.ndarray:
        return self.t0 + ((j - self.lo) // self.per_tick) * TICK_S

    def run(self) -> None:
        files = [
            open(os.path.join(self.dir, f"partition-{p}.jsonl"), "a")
            for p in range(PARTS)
        ]
        try:
            for k in range(self.ticks):
                due = self.t0 + k * TICK_S
                pause = due - time.time()
                if pause > 0:
                    time.sleep(pause)
                self.late_s.append(max(0.0, time.time() - due))
                base = self.lo + k * self.per_tick
                chunks: list[list[str]] = [[] for _ in range(PARTS)]
                for j in range(base, base + self.per_tick):
                    chunks[j % PARTS].append(_line(self.flows.values[j], due))
                for p, f in enumerate(files):
                    f.writelines(chunks[p])
                    f.flush()
                self.done_at.append(time.time())
        finally:
            for f in files:
                f.close()


# --------------------------------------------------------------------------
# pipeline
# --------------------------------------------------------------------------


def nali_enrich(spark, geo):
    """GeoIP on both addresses + service map + class fix-up, written back
    into the message (the reference rewrites the JSON before parsing)."""

    def enrich(df):
        cols = df.columns
        f = df.withColumn("__flow", F.from_json("value", FLOW_SCHEMA))
        f = f.withColumns(
            {
                "__src_int": ipv4_to_long(F.col("__flow.ip_src")),
                "__dst_int": ipv4_to_long(F.col("__flow.ip_dst")),
                "__proto": F.col("__flow.proto"),
                "__port_src": F.col("__flow.port_src"),
                "__port_dst": F.col("__flow.port_dst"),
            }
        )
        f = enrich_ips(f, geo, "__src_int", out_prefix="src_")
        f = enrich_ips(f, geo, "__dst_int", out_prefix="dst_")
        f = join_service_map(f, spark, "__proto", "__port_src", "__port_dst")
        fields = [
            F.col(f"__flow.{name}").alias(name) for name in _FLOW_FIELDS if name != "class"
        ]
        fields.append(
            normalize_class(
                F.col("__flow.class"), F.col("src_service"), F.col("dst_service")
            ).alias("class")
        )
        fields += [F.col(c) for c in ("src_loc", "src_isp", "dst_loc", "dst_isp")]
        return f.withColumn("value", F.to_json(F.struct(*fields))).select(*cols)

    return enrich


class MetricsCounter:
    """The sink's ops-metrics hook: counts replica rotations (retries)."""

    def __init__(self) -> None:
        self.counts: dict[str, int] = {}

    def inc(self, name: str, labels: dict | None = None) -> None:
        self.counts[name] = self.counts.get(name, 0) + 1


class TimedSink:
    """Wraps the sink under test: records when each batch finished
    writing, how long the write took and how many Spark jobs it ran."""

    def __init__(self, inner, spark, tracer) -> None:
        self.inner = inner
        self.sched = spark._jsc.sc().dagScheduler()
        self.tracer = tracer
        self.finish: dict[int, float] = {}
        self.write_s: dict[int, float] = {}
        self.jobs: dict[int, int] = {}

    def write(self, df, epoch_id: int) -> None:
        j0 = self.sched.numTotalJobs()
        t0 = time.time()
        with self.tracer.span("sinks.write", epoch=epoch_id):
            self.inner.write(df, epoch_id)
        t1 = time.time()
        self.jobs[epoch_id] = self.sched.numTotalJobs() - j0
        self.write_s[epoch_id] = t1 - t0
        self.finish[epoch_id] = t1


class NoopSink:
    def write(self, df, epoch_id: int) -> None:
        df.write.format("noop").mode("overwrite").save()


def derby_url(work: str, shard: int) -> str:
    return f"jdbc:derby:{os.path.join(work, 'derby', f'shard{shard}')};create=true"


def create_tables(spark, urls: list[str], tables: list[str]) -> None:
    jvm = spark._jvm
    jvm.java.lang.Class.forName(DERBY_DRIVER)
    for url in urls:
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            for table in tables:
                st = conn.createStatement()
                try:
                    st.execute(TABLE_DDL.format(table=table))
                finally:
                    st.close()
        finally:
            conn.close()


def make_cfg(name: str, topic: str, root: str) -> TaskConfig:
    return TaskConfig(
        name=name,
        topic=topic,
        table="FLOWS",
        dims=DIMS,
        flush_interval_s=TRIGGER_S,
        buffer_size=BUFFER_SIZE,
        shards=SHARDS,
        sharding_key="ip_src",
        sharding_policy="hash",
        kafka_options={"path": root, "parallel": "true"},
    )


def make_sink(urls: list[str], table: str, counter: MetricsCounter) -> JdbcClickHouseSink:
    return JdbcClickHouseSink(
        urls=[[u] for u in urls],
        table=table,
        sharding_policy="hash",
        sharding_key="ip_src",
        properties=DERBY_PROPS,
        metrics=counter,
        task_name="netflow",
    )


def _progress(query) -> list[dict]:
    """One record per executed batch (idle heartbeats dropped)."""
    out: dict[int, dict] = {}
    for p in query.recentProgress:
        d = json.loads(p.json)
        if "addBatch" in d.get("durationMs", {}):
            out[d["batchId"]] = d
    return [out[k] for k in sorted(out)]


def _offsets(o: dict | None) -> dict[int, int]:
    return {int(k): int(v) for k, v in (o or {}).items()}


def wait_drained(query, target: dict[int, int], timeout: float) -> int:
    """Block until a batch ending at or past ``target`` (per partition)
    has run; return that batch's id."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"query failed: {query.exception()}")
        last = query.lastProgress
        p = json.loads(last.json) if last is not None else None
        if p is not None and p["sources"]:
            end = _offsets(p["sources"][0]["endOffset"])
            if end and all(end.get(k, 0) >= v for k, v in target.items()):
                return int(p["batchId"])
        time.sleep(0.02)
    raise TimeoutError(f"query did not reach offsets {target} in {timeout}s")


def end_offsets(n_rows: int) -> dict[int, int]:
    """Per-partition log end after messages [0, n_rows)."""
    return {p: len(range(p, n_rows, PARTS)) for p in range(PARTS)}


def warm_then_backlog(query, topic_dir: str, flows: Flows) -> float:
    """Wait for the warm-up batch, then append the backlog at once.
    Returns the time the backlog was in the log."""
    wait_drained(query, end_offsets(WARMUP_ROWS), 120)
    write_backlog(topic_dir, flows, WARMUP_ROWS, WARMUP_ROWS + BACKLOG_ROWS)
    return time.time()


def timed_catchup(query, topic_dir: str, flows: Flows) -> float:
    """Seconds from the backlog landing to its last batch, the span the
    untraced run times."""
    t0 = warm_then_backlog(query, topic_dir, flows)
    wait_drained(query, end_offsets(WARMUP_ROWS + BACKLOG_ROWS), 120)
    return time.time() - t0


# --------------------------------------------------------------------------
# run
# --------------------------------------------------------------------------


def run(spark, seed: int, seconds: float, tracer, t_process: float, session_s: float):
    res = Result()
    work = os.getcwd()
    root = os.path.join(work, "topics")
    register_all(spark)
    geo = build_geo_ranges(spark)
    enrich_fn = nali_enrich(spark, geo)
    urls = [derby_url(work, s) for s in range(SHARDS)]
    create_tables(spark, urls, ["FLOWS", "FLOWS_STAGE"])
    counter = MetricsCounter()

    t_inputs = time.time()
    # -- inputs: backlog written up front, steady messages pre-rendered ----
    flows = Flows(seed, "main")
    logged = WARMUP_ROWS + BACKLOG_ROWS
    flows.extend(logged)
    topic_dir = os.path.join(root, "flows")
    write_backlog(topic_dir, flows, 0, WARMUP_ROWS)
    producer = Producer(topic_dir, flows, logged, OFFERED_RATE, seconds)
    flows.extend(producer.hi - logged)
    cfg = make_cfg("netflow", "flows", root)
    sink = TimedSink(make_sink(urls, "FLOWS", counter), spark, tracer)
    source = build_kafka_source(spark, cfg, "none:9092", fmt="kafkasim")

    t_start = time.time()
    with tracer.span("streaming.run"):
        query = start_pipeline(
            spark, cfg, source, sink, os.path.join(work, "ckpt"), enrich_fn=enrich_fn
        )
        try:
            t_backlog = warm_then_backlog(query, topic_dir, flows)
            setup_s = t_backlog - t_process
            # -- timed: catch-up, then the open loop -----------------------
            caught_up = wait_drained(query, end_offsets(logged), 120)
            catchup_s = sink.finish[caught_up] - t_backlog
            producer.t0 = time.time() + TICK_S
            with tracer.span("loadgen.produce"):
                producer.start()
                producer.join(seconds + 60)
            if producer.is_alive():
                raise RuntimeError("producer did not finish")
            wait_drained(query, end_offsets(producer.hi), 120)
            batches = _progress(query)
        finally:
            query.stop()

    latencies = steady_latencies(batches, sink, producer)
    res.put("setup_s", setup_s, "s")
    res.put("ingest_rows_per_s", BACKLOG_ROWS / catchup_s, "rows/s")
    res.put("e2e_latency_p50_ms", float(np.percentile(latencies, 50, method="inverted_cdf")) * 1000, "ms")
    res.put("e2e_latency_p99_ms", float(np.percentile(latencies, 99, method="inverted_cdf")) * 1000, "ms")

    # -- correctness, outside the timed region -----------------------------
    observed_errors = sum(
        int((b.get("observedMetrics") or {}).get("sinker_metrics", {}).get("parse_errors_total") or 0)
        for b in batches
    )
    t_check = time.time()
    stats = check_output(spark, urls, "FLOWS", flows, seed, res, observed_errors)
    res.checks["phase_s"] = {
        "session": round(session_s, 2),
        "prepare": round(t_inputs - t_process - session_s, 2),
        "inputs": round(t_start - t_inputs, 2),
        "warmup_batch": round(t_backlog - t_start, 2),
        "catchup": round(catchup_s, 2),
        "steady_and_drain": round(t_check - t_backlog - catchup_s, 2),
        "checks": round(time.time() - t_check, 2),
    }

    if tracer.enabled:
        res.metrics.clear()
        _per_layer(
            spark, res, tracer, session_s, batches, caught_up, sink, producer, counter,
            stats, observed_errors, catchup_s, flows, urls, root, work, enrich_fn,
        )
    return res


def steady_latencies(batches, sink, producer) -> np.ndarray:
    """Per-message latency (s) of every message the open loop produced:
    finish time of the batch holding (partition, offset) minus due time."""
    lo, hi = producer.lo, producer.hi
    finish = np.full(hi - lo, np.nan)
    for b in batches:
        src = b["sources"][0]
        start, end = _offsets(src["startOffset"]), _offsets(src["endOffset"])
        t = sink.finish.get(b["batchId"])
        if t is None:
            continue
        for p in range(PARTS):
            j = np.arange(start.get(p, 0), end.get(p, 0)) * PARTS + p
            j = j[(j >= lo) & (j < hi)]
            finish[j - lo] = t
    if np.isnan(finish).any():
        raise RuntimeError("steady messages without a finished batch")
    return finish - producer.due(np.arange(lo, hi))


def expected_enrichment(msg: dict, svc: dict[str, str]) -> tuple:
    """loc/isp for both addresses and the normalized class, recomputed in
    Python from the enrich module's constants and the service-map TSV."""

    def geo(ip: str) -> tuple[str, str]:
        a, b, c, d = (int(x) for x in ip.split("."))
        n = (a << 24) | (b << 16) | (c << 8) | d
        if GEO_BASE <= n < GEO_BASE + GEO_BLOCKS * GEO_BLOCK:
            blk = (n - GEO_BASE) // GEO_BLOCK
            return GEO_LOCS[blk % len(GEO_LOCS)], GEO_ISPS[blk % len(GEO_ISPS)]
        return GEO_UNKNOWN, GEO_UNKNOWN

    cls = msg["class"]
    if cls == "Unknown/Unknown":
        for port in (msg["port_src"], msg["port_dst"]):
            hit = svc.get(f"{msg['proto']}:{port}")
            if hit is not None:
                cls = hit
                break
    else:
        parts = cls.split("/")
        if len(parts) == 2 and parts[0] != parts[1]:
            cls = parts[1]
    return (*geo(msg["ip_src"]), *geo(msg["ip_dst"]), cls)


def check_output(spark, urls, table, flows: Flows, seed: int, res: Result, observed_errors: int):
    """Exactly-once by (partition, offset) across both shards, routing,
    the parse-error count, and a seeded sample's values.  Fills
    ``res.attempted``/``res.failed`` and returns output statistics."""
    frames = [
        spark.read.jdbc(u, table, properties=DERBY_PROPS).withColumn("__shard", F.lit(s))
        for s, u in enumerate(urls)
    ]
    out = frames[0].unionByName(frames[1]).cache()
    keys = out.select(
        "__shard", "__kafka_partition", "__kafka_offset", "FLOW_CLASS"
    ).toPandas()
    j = keys["__kafka_offset"].to_numpy() * PARTS + keys["__kafka_partition"].to_numpy()
    n = len(flows)
    malformed = np.array(flows.malformed, dtype=bool)
    valid = ~malformed
    seen = np.bincount(j[(j >= 0) & (j < n)], minlength=n)
    missing = int((seen[valid] == 0).sum())
    duplicated = int(np.clip(seen - 1, 0, None).sum())
    unexpected = int(seen[malformed].sum()) + int(((j < 0) | (j >= n)).sum())
    misrouted = out.filter(
        shard_expr("hash", "IP_SRC", SHARDS) != F.col("__shard")
    ).count()
    expected_errors = int(malformed.sum())

    svc = load_service_map()
    sample = sorted(random.Random(seed).sample(list(np.flatnonzero(valid)), SAMPLE_ROWS))
    rows = out.filter(
        (F.col("__kafka_offset") * PARTS + F.col("__kafka_partition")).isin(
            [int(x) for x in sample]
        )
    ).collect()
    by_j = {r["__kafka_offset"] * PARTS + r["__kafka_partition"]: r for r in rows}
    wrong = 0
    for jj in sample:
        r = by_j.get(int(jj))
        if r is None:
            continue  # already counted as missing
        msg = json.loads(json.loads(flows.values[jj]))
        want = (
            msg["ip_src"], msg["ip_dst"], msg["proto"], msg["port_src"], msg["port_dst"],
            msg["bytes"], msg["packets"], flows.stamp[jj],
            *expected_enrichment(msg, svc),
        )
        got = (
            r.IP_SRC, r.IP_DST, r.PROTO, r.PORT_SRC, r.PORT_DST,
            r.BYTES, r.PACKETS,
            int(r.STAMP_INSERTED.replace(tzinfo=timezone.utc).timestamp()),
            r.SRC_LOC, r.SRC_ISP, r.DST_LOC, r.DST_ISP, r.FLOW_CLASS,
        )
        wrong += got != want

    geo_hits = out.select(
        (F.sum((F.col("SRC_LOC") != GEO_UNKNOWN).cast("int"))
         + F.sum((F.col("DST_LOC") != GEO_UNKNOWN).cast("int"))).alias("hits")
    ).first().hits
    in_range = (j >= 0) & (j < n)
    was_unknown = np.zeros(len(j), dtype=bool)
    was_unknown[in_range] = np.array(flows.unknown_class, dtype=bool)[j[in_range]]
    resolved = (keys["FLOW_CLASS"].to_numpy() != "Unknown/Unknown") & was_unknown
    shard_rows = keys.groupby("__shard").size().reindex(range(SHARDS), fill_value=0)
    out.unpersist()

    res.attempted = n
    res.failed = missing + duplicated + unexpected + misrouted + wrong
    res.checks = {
        "messages": n,
        "malformed": expected_errors,
        "parse_errors_observed": observed_errors,
        # start_pipeline's observed counter is summed over every job the
        # sink runs on a batch, so a multi-job sink over-counts it.  It is
        # a telemetry count, not an output row: reported here and as
        # parsers.error_rows, not folded into the failed rows.
        "parse_error_counter_ok": observed_errors == expected_errors,
        "rows_written": len(keys),
        "missing": missing,
        "duplicated": duplicated,
        "unexpected": unexpected,
        "misrouted": misrouted,
        "sample_checked": len(sample),
        "sample_wrong": wrong,
    }
    return {
        "rows": len(keys),
        "geo_hits": int(geo_hits or 0),
        "service_lookups": int(was_unknown.sum()),
        "service_hits": int(resolved.sum()),
        "shard_rows": [int(x) for x in shard_rows],
    }


def _per_layer(
    spark, res, tracer, session_s, batches, caught_up, sink, producer, counter,
    stats, observed_errors, catchup_s, flows, urls, root, work, enrich_fn,
):
    """Per-layer metrics of the traced run: span/progress figures of the
    run above, then self times from materializing the backlog stage by
    stage — source, +parse, +enrich (to noop), +sink (JDBC) — each
    stage's time minus the previous one's."""
    steady = [b for b in batches if b["batchId"] > caught_up]

    def dur(key: str) -> list[float]:
        return [float(b["durationMs"].get(key, 0)) for b in steady]

    backlog = []
    done_at = np.array(producer.done_at)
    for b in steady:
        t = datetime.fromisoformat(b["timestamp"]).timestamp()
        produced = producer.lo + producer.per_tick * int((done_at <= t).sum())
        backlog.append(produced - sum(_offsets(b["sources"][0]["startOffset"]).values()))

    stage_s = []
    for stage in ("source", "parse", "enrich", "sink"):
        # each stage reads its own copy of the log, warm-up batch first
        stage_dir = os.path.join(root, f"stage_{stage}")
        write_backlog(stage_dir, flows, 0, WARMUP_ROWS)
        cfg = make_cfg(f"stage_{stage}", f"stage_{stage}", root)
        ckpt = os.path.join(work, f"ckpt_stage_{stage}")
        src = build_kafka_source(spark, cfg, "none:9092", fmt="kafkasim")
        with tracer.span(f"stage.{stage}"):
            if stage == "source":
                q = (
                    src.writeStream.foreachBatch(NoopSink().write)
                    .option("checkpointLocation", ckpt)
                    .trigger(processingTime=f"{TRIGGER_S} seconds")
                    .start()
                )
            else:
                stage_sink = (
                    make_sink(urls, "FLOWS_STAGE", MetricsCounter())
                    if stage == "sink"
                    else NoopSink()
                )
                q = start_pipeline(
                    spark, cfg, src, stage_sink, ckpt,
                    enrich_fn=None if stage == "parse" else enrich_fn,
                )
            try:
                stage_s.append(timed_catchup(q, stage_dir, flows))
            finally:
                q.stop()
    src_s, parse_s, enrich_s, sink_s = (
        stage_s[0],
        stage_s[1] - stage_s[0],
        stage_s[2] - stage_s[1],
        stage_s[3] - stage_s[2],
    )
    rows = stats["rows"]
    write_ms = [sink.write_s[b["batchId"]] * 1000 for b in steady if b["batchId"] in sink.write_s]
    jobs = [sink.jobs[b["batchId"]] for b in batches if b["batchId"] in sink.jobs]
    shard_rows = stats["shard_rows"]
    put = res.put
    put("session.start_s", session_s, "s")
    put("sources.read_s", src_s, "s")
    put("sources.latest_offset_ms_p50", percentile(dur("latestOffset"), 50), "ms")
    put("streaming.batches", len(batches), "count")
    put("streaming.batch_ms_p50", percentile(dur("triggerExecution"), 50), "ms")
    put("streaming.batch_ms_p99", percentile(dur("triggerExecution"), 99), "ms")
    put("streaming.planning_ms_p50", percentile(dur("queryPlanning"), 50), "ms")
    put(
        "streaming.offset_commit_ms_p50",
        percentile([a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))], 50),
        "ms",
    )
    put("streaming.backlog_rows_max", max(backlog), "rows")
    put("parsers.self_s", parse_s, "s")
    put("parsers.error_rows", observed_errors, "rows")
    put("enrich.self_s", enrich_s, "s")
    put("enrich.geo_hit_ratio", stats["geo_hits"] / (2 * rows), "ratio")
    put(
        "enrich.service_hit_ratio",
        stats["service_hits"] / max(1, stats["service_lookups"]),
        "ratio",
    )
    put("sinks.write_ms_p50", percentile(write_ms, 50), "ms")
    put("sinks.self_s", sink_s, "s")
    put("sinks.jobs_per_batch", statistics.median(jobs), "count")
    put("sinks.retries", counter.counts.get("clickhouse_reconnect_total", 0), "count")
    put("sinks.rows_written", rows, "rows")
    put("sinks.shard_skew", max(shard_rows) / (sum(shard_rows) / len(shard_rows)), "ratio")
    put("loadgen.late_ms_p99", percentile(producer.late_s, 99) * 1000, "ms")
    put("trace.wall_s", catchup_s, "s")
    put("trace.self_sum_s", stage_s[3], "s")
    put("trace.overhead_s", stage_s[3] - catchup_s, "s")
