"""apache_ingest: closed-loop batch parse of the reference's benchmark message.

N seeded apache-access-log JSON messages (26 dims, two DateTime, ~750 B
each — the kafka_gen_log shape) are materialized in memory first; each
timed pass then runs them through ``streaming.pipeline.transform`` into
Spark's noop sink.  One pass is one batch: every message in it is
submitted when the pass starts and done when the pass ends, so a
message's latency is its pass's wall time.

The source is an in-memory scan and there is no enrichment or real sink,
so ``parsers``/``coerce``/``datetimes`` do nearly all the work: a change
to the source, enrich or sink layers should leave this workload alone.
"""

from __future__ import annotations

import random
import statistics
import time

from pyspark.sql import functions as F

from clickhouse_sinker_nali_spark import faithful, loadgen
from clickhouse_sinker_nali_spark.loadgen import APACHE_LOG_DIMS
from clickhouse_sinker_nali_spark.streaming.pipeline import TaskConfig, transform

from .common import Result, percentile

N_MESSAGES = 40_000
WARMUP_PASSES = 8
MIN_PASSES = 5
SAMPLE_ROWS = 200

# loadgen's value pools, one per dim
_POOLS = {
    "@hostname": loadgen._HOSTNAMES,
    "@ip": loadgen._IPS,
    "clientIp": loadgen._CLIENT_IPS,
    "device_family": loadgen._DEVICE_FAMILIES,
    "httpversion": loadgen._HTTP_VERSIONS,
    "os_family": loadgen._OS_FAMILIES,
    "os_major": loadgen._OS_MAJORS,
    "os_minor": loadgen._OS_MINORS,
    "response": loadgen._RESPONSES,
    "userAgent_family": loadgen._UA_FAMILIES,
    "userAgent_major": loadgen._UA_MAJORS,
    "userAgent_minor": loadgen._UA_MINORS,
    "verb": loadgen._VERBS,
    "xforwardfor": loadgen._CLIENT_IPS,
}


def gen_messages(spark, n: int, seed: int):
    """``loadgen.gen_apache_logs`` with every pick and number salted by
    ``seed``: same shape and size, different values per seed.  Returns
    ``(id, value)`` rows."""
    s = F.lit(str(seed))
    rid = F.col("id")

    def h(salt: str, mod: int):
        return F.pmod(F.xxhash64(s, F.lit(salt), rid), F.lit(mod))

    def pick(name: str, values: list[str]):
        arr = F.array(*[F.lit(v) for v in values])
        return F.element_at(arr, (h(name, len(values)) + 1).cast("int"))

    base = 1709251200 + (seed % 365) * 86400
    sec = h("sec", 86400)
    ts = F.timestamp_seconds(F.lit(base) + sec)
    ts_ms = F.timestamp_millis((F.lit(base) + sec) * 1000 + h("ms", 1000))
    request = F.concat(
        F.lit("/api/v1/resource/"), h("req", 1000).cast("string"),
        F.lit("?page="), h("page", 17).cast("string"),
    )
    nbytes = h("bytes", 90000) + 200
    message = F.concat(
        pick("mip", loadgen._CLIENT_IPS), F.lit(' - - [01/Mar/2024] "'),
        pick("mverb", loadgen._VERBS), F.lit(" "), request, F.lit(" HTTP/"),
        pick("mhv", loadgen._HTTP_VERSIONS), F.lit('" '),
        pick("mresp", loadgen._RESPONSES), F.lit(" "), nbytes.cast("string"),
        F.lit(' "-" "'), F.lit(loadgen._AGENT), F.lit('"'),
    )
    fields = {
        "@collectiontime": F.date_format(ts, "yyyy-MM-dd HH:mm:ss"),
        "@path": F.concat(
            F.lit("/var/log/app/access_"), h("path", 50).cast("string"), F.lit(".log")
        ),
        "@lineno": h("lineno", 100000),
        "@message": message,
        "agent": F.lit(loadgen._AGENT),
        "auth": F.lit("RFC1413身份"),
        "bytes": nbytes,
        "ident": F.lit("-"),
        "referrer": F.lit("-"),
        "request": request,
        "requesttime": h("rt", 5000),
        "timestamp": F.date_format(ts_ms, "yyyy-MM-dd HH:mm:ss.SSS"),
    }
    fields.update({name: pick(name, pool) for name, pool in _POOLS.items()})
    struct = F.struct(
        *[fields[d.get("sourcename", d["name"])].alias(d.get("sourcename", d["name"]))
          for d in APACHE_LOG_DIMS]
    )
    # several partitions per core, so a core slowed by another tenant
    # delays a share of the pass instead of a quarter of it
    parts = 4 * spark.sparkContext.defaultParallelism
    return spark.range(0, n, 1, parts).select(rid, F.to_json(struct).alias("value"))


def _canon(v):
    """Typed value → comparable form (timestamps as epoch seconds)."""
    if hasattr(v, "timestamp"):
        return round(v.timestamp(), 3)
    if isinstance(v, float):
        return round(v, 9)
    return v


def check_sample(spark, msgs, cfg: TaskConfig, seed: int) -> tuple[int, int]:
    """Parse a seeded sample through ``transform`` and compare each typed
    row with ``faithful.parse_message``.  Returns (rows checked, wrong)."""
    ids = random.Random(seed).sample(range(N_MESSAGES), SAMPLE_ROWS)
    raw = [
        r.value
        for r in msgs.filter(F.col("id").isin(ids)).orderBy("id").collect()
    ]
    df = spark.createDataFrame([(v,) for v in raw], "value string").coalesce(1)
    got = transform(df, cfg).collect()
    specs = list(cfg.schema)
    wrong = 0
    for value, row in zip(raw, got):
        want = faithful.parse_message(value, specs)
        if want is None or [_canon(x) for x in want] != [_canon(x) for x in row]:
            wrong += 1
    return len(raw), wrong + abs(len(raw) - len(got))


def _jobs(spark) -> int:
    """Spark jobs submitted so far in this session."""
    return spark._jsc.sc().dagScheduler().numTotalJobs()


def run(spark, seed: int, seconds: float, tracer, t_process: float, session_s: float):
    res = Result()
    cfg = TaskConfig(
        name="apache_ingest", topic="apache", table="apache_logs", dims=APACHE_LOG_DIMS
    )
    msgs = gen_messages(spark, N_MESSAGES, seed).cache()
    n = msgs.count()
    # built once, as a streaming query builds it once; every pass still
    # plans (analysis, optimization, codegen) and executes it
    typed = transform(msgs.select("value"), cfg)

    def full_pass() -> None:
        typed.write.format("noop").mode("overwrite").save()

    for _ in range(WARMUP_PASSES):
        full_pass()
    setup_s = time.time() - t_process

    if tracer.enabled:
        passes = _traced(spark, res, msgs, typed, n, seconds, tracer, session_s, full_pass)
    else:
        # -- timed closed loop ---------------------------------------------
        passes = []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
            t0 = time.perf_counter()
            full_pass()
            passes.append(time.perf_counter() - t0)
        res.put("setup_s", setup_s, "s")
        res.put("ingest_rows_per_s", n / statistics.median(passes), "rows/s")
        # every message of a pass waits exactly the pass: per-message
        # percentiles are the pass-time percentiles
        res.put("e2e_latency_p50_ms", percentile(passes, 50) * 1000, "ms")
        res.put("e2e_latency_p99_ms", percentile(passes, 99) * 1000, "ms")

    # -- correctness, outside the timed region -----------------------------
    out_rows = typed.count()
    checked, wrong = check_sample(spark, msgs, cfg, seed)
    res.attempted = n * len(passes)
    res.failed = abs(out_rows - n) + wrong
    res.checks = {
        "rows_out": out_rows,
        "rows_expected": n,
        "sample_checked": checked,
        "sample_wrong": wrong,
        "pass_s": [round(x, 4) for x in passes],
    }
    msgs.unpersist()
    return res


def _traced(spark, res, msgs, typed, n, seconds, tracer, session_s, full_pass):
    """Per-layer decomposition: each iteration runs one untraced full
    pass, then materializes the source stage and source+parse to noop
    under spans; parse self time is the difference of the two stages."""
    src_s, traced_s, untraced_s, plan_ms, jobs = [], [], [], [], []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(src_s) < MIN_PASSES:
        t0 = time.perf_counter()
        full_pass()
        untraced_s.append(time.perf_counter() - t0)
        with tracer.span("sources.read"):
            t0 = time.perf_counter()
            msgs.select("value").write.format("noop").mode("overwrite").save()
            src_s.append(time.perf_counter() - t0)
        with tracer.span("pass"):
            j0 = _jobs(spark)
            t0 = time.perf_counter()
            full_pass()
            traced_s.append(time.perf_counter() - t0)
            jobs.append(_jobs(spark) - j0)
        # planning alone, outside the pass: a fresh query execution of the
        # same plan through analysis, optimization and physical planning
        with tracer.span("streaming.plan"):
            t0 = time.perf_counter()
            typed.select("*")._jdf.queryExecution().executedPlan()
            plan_ms.append((time.perf_counter() - t0) * 1000)

    sources = sum(src_s)
    parsers = sum(traced_s) - sources
    wall = sum(untraced_s)
    put = res.put
    put("session.start_s", session_s, "s")
    put("sources.read_s", sources, "s")
    put("sources.latest_offset_ms_p50", 0.0, "ms")  # no offsets: in-memory input
    put("streaming.batches", len(traced_s), "count")
    put("streaming.batch_ms_p50", percentile(traced_s, 50) * 1000, "ms")
    put("streaming.batch_ms_p99", percentile(traced_s, 99) * 1000, "ms")
    put("streaming.planning_ms_p50", percentile(plan_ms, 50), "ms")
    put("streaming.offset_commit_ms_p50", 0.0, "ms")  # no offset log
    put("streaming.backlog_rows_max", 0, "rows")  # closed loop: nothing queues
    put("parsers.self_s", parsers, "s")
    put("parsers.error_rows", 0, "rows")  # generator emits no malformed rows
    put("enrich.self_s", 0.0, "s")  # no enrichment stage
    put("enrich.geo_hit_ratio", 0.0, "ratio")
    put("enrich.service_hit_ratio", 0.0, "ratio")
    put("sinks.write_ms_p50", 0.0, "ms")  # noop sink: the stage terminal itself
    put("sinks.self_s", 0.0, "s")
    put("sinks.jobs_per_batch", statistics.median(jobs), "count")
    put("sinks.retries", 0, "count")
    put("sinks.rows_written", n * len(traced_s), "rows")
    put("sinks.shard_skew", 1.0, "ratio")  # one noop shard
    put("loadgen.late_ms_p99", 0.0, "ms")  # closed loop: never behind schedule
    put("trace.wall_s", wall, "s")
    put("trace.self_sum_s", sources + parsers, "s")
    put("trace.overhead_s", sum(traced_s) - wall, "s")
    return traced_s
