"""Batch sinks for the streaming pipeline: sharded, batched, retrying.

Re-expresses the reference's output layer (SURVEY.md §2.8):

- K1 batched INSERT    → JDBC ``df.write.jdbc`` with ``batchsize`` (or any
                         per-partition writer)
- K2 shard routing     → one ``filter(shard_expr == s)`` per shard over
                         the batch ``start_pipeline`` materialized once,
                         written as one INSERT (one partition) per shard
- K3 replica failover  → per-shard replica list, rotate on failure with
                         bounded retries + backoff (reference
                         pool/conn.go:75-126, output/clickhouse.go:162-194)
- K5 offset commit     → NOT done here: Spark's checkpoint owns offsets

The ClickHouse JDBC driver jar isn't bundled in this container, but the
JDBC branch itself IS exercised end-to-end: tests/test_jdbc_sink.py drives
``JdbcClickHouseSink``, the replica-rotation retry, the bad-row transaction
rewrite, and the ALTER round-trip against embedded Apache Derby (a real
JDBC database on Spark's own classpath).  ``ParquetSink`` remains the
streaming-E2E twin with identical routing semantics.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable, Protocol

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import shard_hash, shard_stripe
from .store import read_store_or_none


class BatchSink(Protocol):
    def write(self, df: DataFrame, epoch_id: int) -> None: ...


def shard_expr(policy: str, key: str, shards: int, faithful: bool = False) -> Column:
    """Shard expression from the reference's policy string syntax:
    ``"stripe,<size>"`` or ``"hash"`` (reference task/sharding.go:51-101).
    Empty policy → offset-stable round-robin is handled by the caller
    (epoch_id % shards), matching the reference's default BatchIdx routing.

    ``faithful=True`` switches hash policy to byte-parity xxhash64 (the Go
    engine's exact shard assignment — for migration/coexistence with a live
    reference deployment); default stays the JVM-side portable hash.
    """
    if policy.startswith("stripe"):
        _, _, size = policy.partition(",")
        return shard_stripe(key, int(size or 1), shards)
    if policy == "hash":
        if faithful:
            from ..functions.xxh64 import shard_hash_faithful

            return shard_hash_faithful(key, shards)
        return shard_hash(F.col(key).cast("string"), shards)
    raise ValueError(f"unknown sharding policy {policy!r}")


def with_retries(
    fn: Callable[[int], None],
    replicas: int,
    retry_times: int = 3,
    backoff_s: float = 0.1,
    sleep: Callable[[float], None] = time.sleep,
    on_rotate: Callable[[], None] | None = None,
    should_rotate: Callable[[Exception], bool] | None = None,
) -> int:
    """Replica-rotating retry loop (K3).

    Calls ``fn(replica_idx)``; on failure rotates to the next replica with
    backoff, up to ``retry_times`` full rotations (retry_times <= 0 →
    infinite, the reference's default).  Returns the replica index that
    succeeded.

    ``should_rotate(exc)`` implements the reference's ``shouldReconnect``
    filter (output/clickhouse_util.go:16-30): a server error that would
    fail identically on every replica (anything but CH codes 242/319/1000)
    re-raises immediately instead of burning the rotation budget — pass
    :func:`..streaming.chdialect.should_reconnect` when the sink speaks
    ClickHouse.  Default: every failure rotates (non-server errors are
    connection-suspect).
    """
    attempt = 0
    while True:
        replica = attempt % replicas
        try:
            fn(replica)
            return replica
        except Exception as e:
            if should_rotate is not None and not should_rotate(e):
                raise
            attempt += 1
            if on_rotate is not None:  # ClickhouseReconnectTotal analog
                on_rotate()
            if retry_times > 0 and attempt >= retry_times * replicas:
                raise
            sleep(backoff_s)


@dataclass
class BadRowStats:
    """Outcome of a bad-row-skipping write (PR5)."""

    n_total: int
    n_bad: int
    bad_indices: list[int]
    first_error: Exception | None = None


def write_rows_skipping_bad(rows, tx_factory) -> BadRowStats:
    """Write rows transactionally, skipping individually-bad rows (PR5).

    Port of the reference's ``writeRows`` (output/clickhouse_util.go:32-93):
    attempt every row in one transaction collecting failing indices in a
    bad-set (the reference uses a roaring bitmap); if any failed, roll the
    whole transaction back and re-write only the good rows — an error on
    the second pass is fatal, exactly as the reference breaks out and
    rolls back.  Returns counts for the ``WriteSeriesSucceed``-style
    metrics surface.

    ``tx_factory() -> tx`` where ``tx.exec(row)``, ``tx.commit()``,
    ``tx.rollback()`` — satisfied by any DB-API connection wrapper.  On
    Spark this runs inside ``foreachPartition`` (one transaction per
    partition per replica attempt); rows arriving here are already
    schema-cast, so the per-row path only fires on server-side rejections
    (constraint violations, over-range Decimals), the same cases the
    reference hits.
    """
    rows = list(rows)
    tx = tx_factory()
    bad: list[int] = []
    first_error: Exception | None = None
    for i, row in enumerate(rows):
        try:
            tx.exec(row)
        except Exception as e:  # noqa: BLE001 — any row-level failure skips
            if first_error is None:
                first_error = e
            bad.append(i)
    if not bad:
        tx.commit()
        return BadRowStats(n_total=len(rows), n_bad=0, bad_indices=[])
    tx.rollback()
    bad_set = set(bad)
    tx = tx_factory()
    try:
        for i, row in enumerate(rows):
            if i not in bad_set:
                tx.exec(row)
    except Exception:
        tx.rollback()
        raise
    tx.commit()
    return BadRowStats(
        n_total=len(rows), n_bad=len(bad), bad_indices=bad, first_error=first_error
    )


@dataclass
class JdbcClickHouseSink:
    """Sharded JDBC writer: one endpoint (with replicas) per shard.

    ``urls[shard] = [replica_url, ...]``.  Each micro-batch is routed by
    the shard expression, then each shard's rows are written with
    ``batchsize`` tuned to the reference's insert-block sizing
    (DSN block_size = 2 × MaxBufferSize, reference pool/conn.go:134-135).

    Each shard gets one INSERT per batch: its rows are filtered out of the
    batch and coalesced to one partition, so the write is one single-task
    Spark job and one JDBC transaction (the reference flushes a batch as
    one INSERT per shard, model/message.go:70-92).  Shards are written one
    after another.  Every shard filter reads the whole batch, so the batch
    must already be materialized — ``start_pipeline`` does this once
    before calling the sink; an unmaterialized frame is re-evaluated once
    per shard, in a single task.  Replays of a failed epoch re-route rows
    identically (deterministic expr), so a ReplacingMergeTree target
    yields exactly-once.
    """

    urls: list[list[str]]
    table: str
    user: str = "default"
    password: str = ""
    batchsize: int = 1 << 19
    retry_times: int = 3
    sharding_policy: str = ""
    sharding_key: str = ""
    properties: dict[str, str] = field(default_factory=dict)
    # optional ops-metrics hook (streaming.metrics_http.SinkerMetricsRegistry):
    # replica rotations count as clickhouse_reconnect_total{task=task_name}
    metrics: object = None
    task_name: str = ""

    def _props(self) -> dict[str, str]:
        return {
            "user": self.user,
            "password": self.password,
            "batchsize": str(self.batchsize),
            "driver": "com.clickhouse.jdbc.ClickHouseDriver",
            **self.properties,
        }

    def write(self, df: DataFrame, epoch_id: int) -> None:
        shards = len(self.urls)
        if self.sharding_policy:
            expr = shard_expr(self.sharding_policy, self.sharding_key, shards)
            parts = [df.filter(expr == F.lit(s)) for s in range(shards)]
        else:
            # reference default: whole batch to one shard, stable by epoch
            parts = [None] * shards
            parts[epoch_id % shards] = df
        from .chdialect import should_reconnect

        for s, part in enumerate(parts):
            if part is None:
                continue
            replicas = self.urls[s]
            on_rotate = None
            if self.metrics is not None:
                on_rotate = lambda: self.metrics.inc(  # noqa: E731
                    "clickhouse_reconnect_total",
                    {"task": self.task_name or self.table},
                )
            # one partition = one JDBC transaction: one INSERT per shard
            one_insert = part.coalesce(1)
            with_retries(
                lambda r: one_insert.write.mode("append").jdbc(
                    replicas[r], self.table, properties=self._props()
                ),
                replicas=len(replicas),
                retry_times=self.retry_times,
                on_rotate=on_rotate,
                # shouldReconnect parity: a non-replica-specific CH server
                # error fails fast instead of rotating replicas
                should_rotate=should_reconnect,
            )


@dataclass
class ParquetSink:
    """Test/backfill sink with the same routing semantics, writing parquet.

    Partitions by ``__shard`` so tests can assert routing; append mode per
    epoch mirrors the idempotent-append contract.
    """

    path: str
    shards: int = 1
    sharding_policy: str = ""
    sharding_key: str = ""
    epochs: list[int] = field(default_factory=list)

    def write(self, df: DataFrame, epoch_id: int) -> None:
        self.epochs.append(epoch_id)
        if self.sharding_policy:
            out = df.withColumn(
                "__shard", shard_expr(self.sharding_policy, self.sharding_key, self.shards)
            )
        else:
            out = df.withColumn("__shard", F.lit(epoch_id % self.shards))
        (
            out.repartition(self.shards, F.col("__shard"))
            .write.mode("append")
            .partitionBy("__shard")
            .parquet(self.path)
        )


def prometheus_fanout_sink(
    metric_path: str,
    series_path: str,
    label_cols: list[str],
    series_id_col: str = "series_id",
) -> Callable[[DataFrame, int], None]:
    """Prometheus-mode two-table fan-out as a ``foreachBatch`` writer
    (reference ``model/message.go:171-212`` + ``output/clickhouse.go:
    110-130,196-221``): every micro-batch appends all rows to the METRIC
    table and left-anti-joins its distinct label sets against the existing
    SERIES table so each series row is written exactly once across the
    stream's lifetime.

    The reference seeds an in-memory roaring bitmap from ClickHouse at
    startup and CheckedAdds every row; here the "bitmap" IS the series
    table itself (reread per batch — it stays tiny relative to metrics by
    construction, exactly why Prometheus schemas split this way).  On a
    1000-executor deployment the anti-join broadcasts the series table;
    restart safety comes from the checkpoint replaying the batch into the
    same append + anti-join (the second write of a replayed series loses
    the anti-join and writes nothing).

    The writer persists the batch itself, because it reads it twice (the
    metric append and the series anti-join) and is handed to
    ``foreachBatch`` directly: it never goes through ``start_pipeline``,
    whose ``write_batch`` materializes the batch for the sinks it calls.
    """

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        # None only when the series table does not exist yet (first
        # epoch); any other read failure raises before this epoch writes
        # anything, because re-appending every series would break the
        # written-once contract
        existing = read_store_or_none(batch_df.sparkSession, series_path)
        batch_df.persist()
        try:
            batch_df.write.mode("append").parquet(metric_path)
            new_series = (
                batch_df.select(series_id_col, *label_cols)
                .dropDuplicates([series_id_col])
            )
            if existing is not None:
                new_series = new_series.join(
                    F.broadcast(existing.select(series_id_col)),
                    series_id_col,
                    "left_anti",
                )
            new_series.write.mode("append").parquet(series_path)
        finally:
            batch_df.unpersist()

    return write
