"""The streaming task pipeline: source → parse → enrich → sharded sink.

Re-expresses the reference's whole §3.2 hot path (SURVEY.md) as ONE
declarative Structured Streaming query:

    readStream(kafka) → [geoip/servicemap enrich] → from_json/from_csv +
    coercion → select dims (+ __kafka* virtual cols) →
    foreachBatch{ materialize once → per-shard filter → one INSERT per
    shard } with checkpointing

What the reference does with goroutines/rings/pools, Spark's runtime does
natively (SURVEY.md §2.9 mapping):

- ring-buffer offset reassembly  → per-partition ordering of the source
- batch cut on size/time         → Trigger(processingTime=flush_interval)
    + maxOffsetsPerTrigger ≈ buffer_size × #partitions
- ordered offset commit          → checkpoint WAL (epochs are ordered)
- at-least-once → exactly-once   → checkpoint + idempotent sink (the
    deterministic batch→shard routing makes replays land identically,
    reference docs/dev/design.md:6-13)
- backpressure (ring full blocks)→ maxOffsetsPerTrigger
- graceful drain                 → query.stop() + checkpoint recovery

Config parity: TaskConfig mirrors the reference's task section
(reference config/config.go:105-155); Normallize()'s defaulting rules
(:192-263) are in __post_init__.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..parsers import parse_csv, parse_json
from ..schema import TableSchema


def _roundup_pow2(n: int) -> int:
    """bufferSize is rounded up to 2^n, capped at 2^20 (reference
    config/config.go:257-263, util/common.go:104-108)."""
    n = max(1, min(n, 1 << 20))
    p = 1
    while p < n:
        p <<= 1
    return p


@dataclass
class TaskConfig:
    """One topic → one table pipeline (reference config/config.go:105-155)."""

    name: str
    topic: str
    table: str
    parser: str = "fastjson"  # fastjson | gjson | csv  (json parsers unify)
    dims: list[dict] = field(default_factory=list)
    csv_format: list[str] = field(default_factory=list)
    delimiter: str = ","
    earliest: bool = True
    flush_interval_s: int = 5  # reference default 5s, max 600
    buffer_size: int = 1 << 18  # reference default 2^18, rounded to 2^n
    time_unit: float = 1.0
    shards: int = 1
    sharding_key: str = ""
    sharding_policy: str = ""  # "stripe,<size>" | "hash"
    exclude_columns: list[str] = field(default_factory=list)
    kafka_options: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.flush_interval_s = min(max(self.flush_interval_s, 1), 600)
        self.buffer_size = _roundup_pow2(self.buffer_size)
        if self.parser not in ("fastjson", "gjson", "csv"):
            raise ValueError(f"unknown parser {self.parser!r}")

    @property
    def schema(self) -> TableSchema:
        return TableSchema.from_dims(self.dims)


def build_kafka_source(
    spark: SparkSession, cfg: TaskConfig, brokers: str, fmt: str = "kafka"
) -> DataFrame:
    """Kafka streaming source with the reference's consumption semantics.

    ``kafka_options`` passes through security config (TLS/SASL —
    reference's ``security`` map ≈ ``kafka.security.protocol`` /
    ``kafka.sasl.jaas.config`` options, SURVEY §2.1 S3).

    ``fmt="kafkasim"`` (sources.datasources.KafkaSimDataSource) swaps in
    the broker-free Kafka-shaped source with the SAME option surface and
    output schema, so this builder — startingOffsets, maxOffsetsPerTrigger,
    option passthrough included — is exercised end-to-end in environments
    without a broker (add ``path`` via ``kafka_options``).
    """
    reader = (
        spark.readStream.format(fmt)
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", cfg.topic)
        .option("startingOffsets", "earliest" if cfg.earliest else "latest")
        .option("maxOffsetsPerTrigger", str(cfg.buffer_size))
        .option("failOnDataLoss", "false")
    )
    for k, v in cfg.kafka_options.items():
        reader = reader.option(k, v)
    return reader.load()


def build_file_source(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based message source (one text line = one message ``value``).

    Stands in for Kafka in tests/CI (no broker in this container) and
    doubles as a production bulk-replay source.  Emits the same column
    contract as the Kafka source: value, topic, partition, offset,
    timestamp — so the rest of the pipeline is source-agnostic.
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(path)
    # monotonically_increasing_id is not allowed on streams; a content hash
    # is a serviceable surrogate offset for the file source (the Kafka
    # source provides real offsets).
    return raw.select(
        F.col("value"),
        F.lit("file").alias("topic"),
        F.spark_partition_id().alias("partition"),
        F.abs(F.xxhash64("value")).alias("offset"),
        F.current_timestamp().alias("timestamp"),
    )


def transform(
    df: DataFrame,
    cfg: TaskConfig,
    enrich_fn: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """messages → typed rows: optional enrichment, then parse + coerce.

    Mirrors the reference order: GeoIP enrichment happens on the raw
    message BEFORE parsing in the reference (it rewrites JSON fields); in
    the Spark pipeline enrichment is a column-level step and composes
    either side of the parse.
    """
    value_str = df.withColumn("value", F.col("value").cast("string"))
    if enrich_fn is not None:
        value_str = enrich_fn(value_str)
    if cfg.parser == "csv":
        return parse_csv(
            value_str, cfg.schema, cfg.csv_format, cfg.delimiter, time_unit=cfg.time_unit
        )
    return parse_json(value_str, cfg.schema, time_unit=cfg.time_unit)


def start_pipeline(
    spark: SparkSession,
    cfg: TaskConfig,
    source: DataFrame,
    sink,  # streaming.sinks.BatchSink
    checkpoint_dir: str,
    enrich_fn: Callable[[DataFrame], DataFrame] | None = None,
    available_now: bool = False,
    observe: bool = True,
):
    """Wire source → transform → foreachBatch(sink) and start the query.

    ``available_now=True`` drains everything currently available and stops
    (test/backfill mode); otherwise the processing-time trigger reproduces
    the reference's flushInterval batch cut.

    ``observe=True`` (default) attaches the reference's data-plane
    counters (consume/parse-error/flush totals) to the plan so the
    metrics listener (statistics.py / metrics_http.py) sees them on every
    micro-batch — the reference counts unconditionally
    (statistics/statistics.go), so the twin does too.
    """
    from ..parsers import with_parse_errors
    from .statistics import observed_metrics

    # Kafka's contract delivers value as BINARY; the error probe and the
    # parsers want text.  Cast once here (transform() would also cast, but
    # the probe runs first) — UTF-8, as the reference assumes throughout.
    source = source.withColumn("value", F.col("value").cast("string"))
    # The error probe is parser-aware: the JSON probe (try_parse_json)
    # would flag EVERY valid CSV row.
    if cfg.parser == "csv":
        source = source.withColumn("__parse_error", F.col("value").isNull())
    else:
        source = with_parse_errors(source)
    if observe:
        # observe on the RAW side so the counters see every consumed
        # message, including unparseable drop-but-ack rows; the
        # CollectMetrics node stays in the executed plan when transform
        # builds on top of it (the projection drops the helper column,
        # not the observation).
        source = observed_metrics(source)
    # PR4 drop-but-ack: unparseable messages are COUNTED above but
    # EXCLUDED from the batch (reference task/task.go:280-287) — without
    # this filter they would land in the sink as all-default rows
    source = source.filter(~F.col("__parse_error"))
    typed = transform(source, cfg, enrich_fn)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # Evaluate the batch exactly once, eagerly, before the sink runs:
        # a sink that writes per shard then reads this cache instead of
        # re-running source, parse and enrich per shard (which would also
        # count the observed counters and numInputRows once per job).
        # The noop write is one job; count() would be three under AQE.
        batch_df.persist()
        try:
            batch_df.write.format("noop").mode("overwrite").save()
            sink.write(batch_df, epoch_id)
        finally:
            batch_df.unpersist()

    writer = (
        typed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, cfg.name))
        .queryName(cfg.name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{cfg.flush_interval_s} seconds")
    return writer.start()
