"""Streaming pipeline tests: the go.test.sh regime on a file source.

The reference's E2E gate (go.test.sh:1-103) produces 100k JSON messages in
5 regimes (base fields / new int key / float+string+datetime+object keys /
array keys / base again), runs the sinker, and asserts count==100000 plus
the exact dynamic-schema DESC.  No Kafka broker exists in this container,
so the file source stands in — the pipeline from parse to sharded sink is
identical.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from clickhouse_sinker_nali_spark.schema import InternalType, TableSchema
from clickhouse_sinker_nali_spark.streaming.dynamic import (
    DynamicSchemaController,
    NewKeyDetector,
    alter_statements,
)
from clickhouse_sinker_nali_spark.streaming.pipeline import (
    TaskConfig,
    build_file_source,
    start_pipeline,
    transform,
)
from clickhouse_sinker_nali_spark.streaming.sinks import (
    ParquetSink,
    shard_expr,
    with_retries,
)

N_MSGS = 10_000  # scaled-down go.test.sh regime (100k at full size)

DIMS = [
    {"name": "time", "type": "DateTime"},
    {"name": "name", "type": "String"},
    {"name": "value", "type": "Float64"},
    {"name": "price", "type": "Float64"},
]


def _write_messages(path: str, n: int = N_MSGS) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0.txt"), "w") as f:
        for i in range(n):
            msg = {
                "time": f"2024-03-0{i % 9 + 1} 10:11:{i % 60:02d}",
                "name": f"name{i % 7}",
                "value": i * 0.5,
                # every 5th message omits price -> default 0.0
                **({"price": i * 1.25} if i % 5 else {}),
            }
            f.write(json.dumps(msg) + "\n")


def test_file_pipeline_end_to_end(spark, tmp_path):
    src = str(tmp_path / "msgs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_messages(src)

    cfg = TaskConfig(name="t1", topic="file", table="test_fixed_schema", dims=DIMS)
    sink = ParquetSink(path=out, shards=4, sharding_policy="hash", sharding_key="name")
    q = start_pipeline(
        spark, cfg, build_file_source(spark, src), sink, ckpt, available_now=True
    )
    q.awaitTermination(120)

    result = spark.read.parquet(out)
    assert result.count() == N_MSGS
    # lenient defaults: missing price -> 0.0, never null
    assert result.filter(F.col("price").isNull()).count() == 0
    n_defaulted = result.filter(F.col("price") == 0.0).count()
    assert n_defaulted == N_MSGS // 5
    # typed output
    dtypes = dict(result.dtypes)
    assert dtypes["time"] == "timestamp"
    assert dtypes["value"] == "double"
    # hash sharding spread the 7 distinct keys over multiple shards
    shards = {r["__shard"] for r in result.select("__shard").distinct().collect()}
    assert shards <= {0, 1, 2, 3} and len(shards) >= 2
    # 7 names across 4 shards: each name maps to exactly one shard
    name_shards = result.groupBy("name").agg(F.countDistinct("__shard").alias("ns"))
    assert name_shards.filter(F.col("ns") != 1).count() == 0


def test_pipeline_restart_is_idempotent_per_epoch(spark, tmp_path):
    """Replaying from the checkpoint must not duplicate committed epochs."""
    src = str(tmp_path / "msgs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_messages(src, 1000)
    cfg = TaskConfig(name="t2", topic="file", table="t", dims=DIMS)
    sink = ParquetSink(path=out, shards=2)
    q = start_pipeline(
        spark, cfg, build_file_source(spark, src), sink, ckpt, available_now=True
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 1000

    # restart with no new data: checkpoint says everything is committed
    q2 = start_pipeline(
        spark, cfg, build_file_source(spark, src), sink, ckpt, available_now=True
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 1000


def test_transform_batch_mode_matches_reference_semantics(spark):
    df = spark.createDataFrame(
        [
            ('{"time":"2024-01-02 03:04:05","name":"a","value":"7","price":true}',),
            ("not json at all",),
            ('{"name":null,"value":1e3}',),
        ],
        "value string",
    )
    cfg = TaskConfig(name="t", topic="x", table="y", dims=DIMS)
    rows = transform(df, cfg).collect()
    assert len(rows) == 3  # never drop a row
    ok, bad, partial = rows
    # string token "7" for a Float target -> default 0.0 (fastjson
    # Float64() rejects string tokens), and bool for a Float target ->
    # default 0.0 (reference parser/fastjson.go:94-97 maps bool only to Int)
    assert ok.name == "a" and ok.value == 0.0 and ok.price == 0.0
    assert bad.name == "" and bad.value == 0.0  # whole-message defaults
    assert partial.name == "" and partial.value == 1000.0


# -- dynamic schema ---------------------------------------------------------


def test_newkey_detection_and_ddl(spark):
    det = NewKeyDetector(known={"time", "name", "value", "price"})
    df = spark.createDataFrame(
        [
            ('{"time":"t","name":"a","newkey01":7}',),
            ('{"newkey02":1.5,"newkey03":"s","newkey04":"2024-01-02 03:04:05"}',),
            ('{"newkey05":{"a":1},"newkey06":[1,2],"newkey07":[1.5],"newkey08":["x"]}',),
        ],
        "value string",
    )
    found = det.detect(df)
    assert found == {
        "newkey01": InternalType.INT,
        "newkey02": InternalType.FLOAT,
        "newkey03": InternalType.STRING,
        "newkey04": InternalType.DATETIME,
        "newkey05": InternalType.STRING,  # object -> serialized string
        "newkey06": InternalType.INT_ARRAY,
        "newkey07": InternalType.FLOAT_ARRAY,
        "newkey08": InternalType.STRING_ARRAY,
    }
    stmts = alter_statements("db", "tbl", found)
    # go.test.sh asserts this exact dynamic-schema outcome shape; the
    # statement text is the byte-golden chdialect form (double space = the
    # reference's empty ON CLUSTER %s, output/clickhouse.go:425)
    assert stmts[0] == (
        "ALTER TABLE db.tbl  ADD COLUMN IF NOT EXISTS `newkey01` Nullable(Int64)"
    )
    assert any("`newkey08` Array(String)" in s for s in stmts)


def test_newkey_full_scan_finds_keys_past_the_sample(spark):
    """A key first appearing BEYOND the 1024-row driver sample: the sampled
    mode misses it (the scale compromise), full_scan=True finds it through
    the distributed json_object_keys pass — the reference inspects every
    message, and under exactly-once accounting a missed key is silent data
    loss (the batch commits under the old schema)."""
    rows = [('{"time":"t","value":%d}' % i,) for i in range(2000)]
    rows.append(('{"time":"t","late_key":42}',))
    df = spark.createDataFrame(rows, "value string").coalesce(1)
    sampled = NewKeyDetector(known={"time", "value"})
    assert sampled.detect(df) == {}
    full = NewKeyDetector(known={"time", "value"}, full_scan=True)
    assert full.detect(df) == {"late_key": InternalType.INT}
    # filters still apply, invalid JSON rows are ignored
    filtered = NewKeyDetector(
        known={"time", "value"}, black_list="^late_", full_scan=True
    )
    bad = spark.createDataFrame(rows + [("{not json",)], "value string")
    assert filtered.detect(bad) == {}


def test_newkey_white_black_lists():
    det = NewKeyDetector(known=set(), white_list=r"^newkey", black_list=r"05$")
    assert det.admit("newkey01")
    assert not det.admit("other")
    assert not det.admit("newkey05")
    det2 = NewKeyDetector(known={"a", "b"}, max_dims=2)
    assert not det2.admit("c")  # cap reached


def test_dynamic_controller_widens_schema(spark):
    schema = TableSchema.from_dims(DIMS)
    det = NewKeyDetector(known=set(schema.names()))
    executed: list[list[str]] = []
    restarted: list[TableSchema] = []
    ctl = DynamicSchemaController(
        schema=schema,
        detector=det,
        db="db",
        table="tbl",
        on_ddl=executed.append,
        on_restart=restarted.append,
    )
    batch = spark.createDataFrame([('{"time":"t","brand_new":3}',)], "value string")
    assert ctl.check_batch(batch)
    assert executed and "brand_new" in executed[0][0]
    assert restarted and "brand_new" in restarted[0].names()
    # second batch with the same key: no-op
    assert not ctl.check_batch(batch)


# -- sink mechanics ---------------------------------------------------------


def test_with_retries_rotates_replicas():
    calls: list[int] = []

    def flaky(replica: int) -> None:
        calls.append(replica)
        if len(calls) < 3:
            raise RuntimeError("replica down")

    got = with_retries(flaky, replicas=2, retry_times=3, sleep=lambda s: None)
    assert calls == [0, 1, 0]
    assert got == 0


def test_with_retries_exhausts():
    def always_down(replica: int) -> None:
        raise RuntimeError("down")

    with pytest.raises(RuntimeError):
        with_retries(always_down, replicas=2, retry_times=2, sleep=lambda s: None)


def test_shard_expr_policies(spark):
    df = spark.range(100).select(F.col("id").alias("k"))
    stripe = df.select(shard_expr("stripe,10", "k", 4).alias("s")).distinct()
    assert {r.s for r in stripe.collect()} == {0, 1, 2, 3}
    hashed = df.select(shard_expr("hash", "k", 4).alias("s")).distinct()
    assert {r.s for r in hashed.collect()} <= {0, 1, 2, 3}
    with pytest.raises(ValueError):
        shard_expr("bogus", "k", 4)


# -- metrics ----------------------------------------------------------------


def test_observed_metrics_count_parse_errors(spark, tmp_path):
    from clickhouse_sinker_nali_spark.parsers import with_parse_errors
    from clickhouse_sinker_nali_spark.streaming.statistics import (
        MetricsListener,
        observed_metrics,
    )

    src = str(tmp_path / "msgs")
    os.makedirs(src)
    with open(os.path.join(src, "p.txt"), "w") as f:
        for i in range(50):
            f.write('{"time":"2024-01-01 00:00:00","name":"x","value":1}\n')
        for i in range(7):
            f.write("THIS IS NOT JSON\n")

    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        raw = build_file_source(spark, src)
        flagged = observed_metrics(with_parse_errors(raw))
        q = (
            flagged.writeStream.format("noop")
            .queryName("metrics_probe")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)
        import time as _t

        for _ in range(40):  # listener events are async
            s = listener.stats.get("metrics_probe")
            if s and s.observed:
                break
            _t.sleep(0.25)
        s = listener.stats.get("metrics_probe")
        assert s is not None and s.input_rows == 57
        m = s.observed.get("sinker_metrics", {})
        assert m.get("rows_total") == 57
        assert m.get("parse_errors_total") == 7
        assert m.get("flush_rows_total") == 50
    finally:
        spark.streams.removeListener(listener)

    # PR4 drop-but-ack THROUGH the pipeline: the 7 unparseable messages
    # are counted above but must NOT land in the sink as default rows
    from clickhouse_sinker_nali_spark.streaming.pipeline import (
        TaskConfig,
        start_pipeline,
    )
    from clickhouse_sinker_nali_spark.streaming.sinks import ParquetSink

    cfg = TaskConfig(
        name="dropack",
        topic="t",
        table="t",
        dims=[
            {"name": "time", "type": "DateTime"},
            {"name": "name", "type": "String"},
            {"name": "value", "type": "Float64"},
        ],
    )
    out = str(tmp_path / "out")
    q = start_pipeline(
        spark,
        cfg,
        build_file_source(spark, src),
        ParquetSink(path=out),
        str(tmp_path / "ckpt2"),
        available_now=True,
        observe=False,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 50  # bad rows excluded, not defaulted
    assert got.filter(F.col("name") == "").count() == 0


# -- dynamic schema evolution E2E (go.test.sh 5-regime shape) ---------------


def test_schema_evolution_end_to_end(spark, tmp_path):
    """The reference's E2E crown jewel (go.test.sh): messages grow new keys
    mid-stream; the pipeline quiesces, ALTERs, restarts, and every row lands
    exactly once under the widened schema."""
    from clickhouse_sinker_nali_spark.streaming.dynamic import (
        run_with_schema_evolution,
    )

    src = str(tmp_path / "msgs")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    n_per = 2000
    # regime 1: base keys; regime 2: +newkey01 int; regime 3: +newkey02 float
    for regime in range(3):
        with open(os.path.join(src, f"{regime}.txt"), "w") as f:
            for i in range(n_per):
                msg = {
                    "time": f"2024-03-01 10:00:{i % 60:02d}",
                    "name": f"n{i % 5}",
                    "value": i * 0.5,
                }
                if regime >= 1:
                    msg["newkey01"] = i
                if regime >= 2:
                    # never integral-valued: an integral first value would
                    # (correctly) infer Int, the reference's priority rule
                    msg["newkey02"] = i + 0.25
                f.write(json.dumps(msg) + "\n")

    base_dims = [
        {"name": "time", "type": "DateTime"},
        {"name": "name", "type": "String"},
        {"name": "value", "type": "Float64"},
    ]
    cfg = TaskConfig(name="evo", topic="file", table="evo_tbl", dims=base_dims)
    schema = TableSchema.from_dims(base_dims)
    ddl_log: list[list[str]] = []
    ctl = DynamicSchemaController(
        schema=schema,
        detector=NewKeyDetector(known=set(schema.names())),
        db="default",
        table="evo_tbl",
        on_ddl=ddl_log.append,
    )
    sink = ParquetSink(path=out, shards=2)

    restarts = run_with_schema_evolution(
        spark,
        cfg,
        lambda: build_file_source(spark, src, max_files_per_trigger=1),
        sink,
        ckpt,
        ctl,
    )

    assert restarts == 2  # one per regime boundary
    flat_ddl = [s for batch in ddl_log for s in batch]
    assert any("`newkey01` Nullable(Int64)" in s for s in flat_ddl)
    assert any("`newkey02` Nullable(Float64)" in s for s in flat_ddl)

    result = spark.read.option("mergeSchema", "true").parquet(out)
    assert result.count() == 3 * n_per  # exactly once despite 2 replays
    assert set(result.columns) >= {"time", "name", "value", "newkey01", "newkey02"}
    # nullable new keys: NULL before their regime, typed values after
    assert result.filter(F.col("newkey01").isNotNull()).count() == 2 * n_per
    assert result.filter(F.col("newkey02").isNotNull()).count() == n_per
    dtypes = dict(result.dtypes)
    assert dtypes["newkey01"] == "bigint" and dtypes["newkey02"] == "double"


def test_prometheus_fanout_streaming_two_tables(spark, tmp_path):
    """Streaming Prometheus split: metrics append every row; the series
    table receives each distinct label set EXACTLY once even when the same
    series appears in multiple micro-batches."""
    import json as _json

    from clickhouse_sinker_nali_spark.functions import portable_hash64
    from clickhouse_sinker_nali_spark.streaming.sinks import (
        prometheus_fanout_sink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    # 2 batches × 40 rows over 8 series (5 repeats per series per batch)
    for fname, base in (("a.txt", 0), ("b.txt", 100)):
        with open(os.path.join(src, fname), "w") as f:
            for i in range(40):
                f.write(
                    _json.dumps(
                        {"event_id": base + i, "kind": f"k{i % 8}", "value": i * 1.5}
                    )
                    + "\n"
                )
    for i, fname in enumerate(sorted(os.listdir(src))):
        t = 1_700_000_000 + i * 1000
        os.utime(os.path.join(src, fname), (t, t))

    raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(src)
    parsed = raw.select(
        F.from_json("value", "event_id bigint, kind string, value double").alias("m")
    ).select("m.*")
    tagged = parsed.select(
        portable_hash64(F.concat(F.lit("###kind###"), F.col("kind"))).alias("series_id"),
        "event_id",
        "kind",
        "value",
    )
    metric_path = str(tmp_path / "metrics")
    series_path = str(tmp_path / "series")
    q = (
        tagged.writeStream.foreachBatch(
            prometheus_fanout_sink(metric_path, series_path, ["kind"])
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)

    metrics = spark.read.parquet(metric_path)
    series = spark.read.parquet(series_path)
    assert metrics.count() == 80  # every row landed in the metric table
    assert series.count() == 8  # one row per distinct series across batches
    assert series.select("series_id").distinct().count() == 8
    # referential integrity: every metric's series_id exists in series
    assert (
        metrics.join(series, "series_id", "left_anti").count() == 0
    )


def test_prometheus_fanout_unreadable_series_store_raises(spark, tmp_path):
    """A series table that exists but cannot be read is not "first epoch":
    the sink must raise before appending anything, instead of re-appending
    every series and breaking the written-once contract."""
    from clickhouse_sinker_nali_spark.streaming.sinks import (
        prometheus_fanout_sink,
    )

    metric_path = str(tmp_path / "metrics")
    series_path = str(tmp_path / "series")
    os.makedirs(series_path)
    with open(os.path.join(series_path, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    batch = spark.createDataFrame(
        [(1, "k1", 1.0), (2, "k2", 2.0)], "series_id bigint, kind string, value double"
    )
    sink = prometheus_fanout_sink(metric_path, series_path, ["kind"])
    with pytest.raises(Exception) as err:
        sink(batch, 0)
    assert "parquet" in str(err.value).lower()
    assert os.listdir(series_path) == ["part-00000.parquet"]  # nothing appended
    assert not os.path.exists(metric_path)


def test_write_rows_skipping_bad_reference_semantics():
    """PR5: one bad row rolls back the whole tx, then the good rows are
    re-written in a fresh tx (reference output/clickhouse_util.go:32-93)."""
    from clickhouse_sinker_nali_spark.streaming.sinks import (
        write_rows_skipping_bad,
    )

    class FakeTx:
        def __init__(self, log):
            self.log = log
            self.rows = []

        def exec(self, row):
            if row == "bad":
                raise ValueError("invalid content")
            self.rows.append(row)

        def commit(self):
            self.log.append(("commit", list(self.rows)))

        def rollback(self):
            self.log.append(("rollback", list(self.rows)))

    log: list = []
    stats = write_rows_skipping_bad(
        ["a", "bad", "b", "bad", "c"], lambda: FakeTx(log)
    )
    assert (stats.n_total, stats.n_bad, stats.bad_indices) == (5, 2, [1, 3])
    assert isinstance(stats.first_error, ValueError)
    # first tx rolled back with the partial writes, second committed clean
    assert log == [("rollback", ["a", "b", "c"]), ("commit", ["a", "b", "c"])]

    log.clear()
    clean = write_rows_skipping_bad(["a", "b"], lambda: FakeTx(log))
    assert (clean.n_total, clean.n_bad) == (2, 0)
    assert log == [("commit", ["a", "b"])]


def test_write_rows_second_pass_error_is_fatal():
    from clickhouse_sinker_nali_spark.streaming.sinks import (
        write_rows_skipping_bad,
    )

    class DyingTx:
        n_txs = 0

        def __init__(self):
            DyingTx.n_txs += 1
            self.second = DyingTx.n_txs > 1

        def exec(self, row):
            if row == "bad" or (self.second and row == "c"):
                raise ValueError("boom")

        def commit(self):
            raise AssertionError("must not commit")

        def rollback(self):
            pass

    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_rows_skipping_bad(["a", "bad", "c"], DyingTx)


def test_foreachbatch_incremental_agg_state_mv(spark, tmp_path):
    """Incremental materialized-view maintenance: a foreachBatch sink
    merges each micro-batch's aggregate state into a stored state table
    (the AggregatingMergeTree shape).  After the stream drains, the
    finalized view equals a one-shot aggregate over all input —
    regardless of how the rows were split across micro-batches."""
    import shutil

    from clickhouse_sinker_nali_spark.operators import aggstate as AST

    src = str(tmp_path / "src")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    # three "days" of rows arriving as separate files → separate batches
    rows = [
        {"k": ["a", "b", "c"][i % 3], "v": float(i % 17) + 0.25}
        for i in range(300)
    ]
    for b in range(3):
        with open(f"{src}/batch_{b}.json", "w") as f:
            for r in rows[b * 100 : (b + 1) * 100]:
                f.write(json.dumps(r) + "\n")

    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    schema = StructType(
        [StructField("k", StringType()), StructField("v", DoubleType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )

    def merge_batch(batch_df, epoch_id):
        batch_state = AST.build_agg_state(batch_df, ["k"], "v")
        if os.path.isdir(state_dir) and os.listdir(state_dir):
            prior = batch_df.sparkSession.read.parquet(state_dir)
            merged = AST.merge_agg_state([prior, batch_state], ["k"])
        else:
            merged = batch_state
        # write-then-swap: state updates must be atomic per epoch
        tmp_out = state_dir + f".epoch{epoch_id}"
        merged.write.mode("overwrite").parquet(tmp_out)
        if os.path.isdir(state_dir):
            shutil.rmtree(state_dir)
        os.rename(tmp_out, state_dir)

    q = stream.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    final = AST.finalize_agg_state(spark.read.parquet(state_dir), ["k"])
    got = {r.k: (r.n_rows, r.total, r.v_min, r.v_max, r.v_avg, r.v_var) for r in final.collect()}
    batch_df = spark.createDataFrame([(r["k"], r["v"]) for r in rows], schema)
    want_df = AST.finalize_agg_state(AST.build_agg_state(batch_df, ["k"], "v"), ["k"])
    want = {r.k: (r.n_rows, r.total, r.v_min, r.v_max, r.v_avg, r.v_var) for r in want_df.collect()}
    assert got == want
    assert set(got) == {"a", "b", "c"}
