"""SparkSession factory tuned for this engine.

Local defaults are sized from the host (``local[<usable CPUs>]``, a
quarter of RAM for the driver heap; ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM`` override both), and every knob is the one you
would also set on a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting)
- lenient (non-ANSI) SQL semantics: the reference engine never drops a row
  for a bad field (docs/dev/introduction.md:40-56 in the reference); Spark 4
  turns ANSI on by default which would instead raise on overflow/bad cast.
- UTC session timezone: the reference converts every parsed timestamp to
  UTC (reference parser/parser.go:166).
- Arrow enabled for the few pandas-UDF paths (similarity / multimodal).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> str:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _host_driver_mem() -> str:
    """A quarter of MemTotal, at least 2 GiB: the heap is the whole
    engine's memory in local mode, and the rest of RAM is left to the
    JVM's off-heap, the Python workers and the OS."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{max(2048, total_kb // 4 // 1024)}m"


DEFAULT_SHUFFLE_PARTITIONS = int(_cpus())


def get_spark(
    app_name: str = "clickhouse_sinker_nali_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster leave ``master`` unset and submit with spark-submit;
    locally this defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Wide coercion projections (30+ column dynamic schemas) can exceed
        # the default 64KB generated-method budget; Spark then abandons
        # whole-stage codegen for the WHOLE projection and interpreted
        # variant/regex evaluation is ~10-20× slower (measured on the
        # ingest bench).  A JIT-unfriendly huge method still beats that.
        .config("spark.sql.codegen.hugeMethodLimit", str(8 * 65535))
        # local[N] runs every task thread inside the driver JVM — size the
        # heap for N concurrent tasks or GC storms make wall times bimodal
        # (measured 0.4s..55s for the same job at 8g with 32 threads).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_mem(),
        )
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseG1GC -XX:G1HeapRegionSize=16m",
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


import threading as _threading

_PERSIST_LOCK = _threading.Lock()  # one lock guards every registry


def registered_persist(df, registry: list, level=None):
    """Persist ``df`` after releasing every frame in ``registry`` — the
    one policy behind per-call persisted intermediates (dedup shingles,
    warehouse twice-read aggregates).  The queries() contract returns an
    unexecuted plan, so there is no post-action unpersist hook; releasing
    the PREVIOUS call's frames on re-entry bounds a bench loop or oracle
    sweep to one live cache per registry instead of one per invocation.

    Contract (r6 ADVICE #4): only the MOST RECENTLY CONSTRUCTED query
    keeps its cache.  Building query B before executing query A's plan
    unpersists A's intermediates — A still returns CORRECT results (an
    unpersisted frame recomputes from lineage), it just re-derives the
    shared work; callers that interleave construction and execution
    (capped/uncapped comparisons, concurrent sweeps) should execute each
    plan before building the next, or pass their own private registry.
    Registry mutation is serialized under a module lock so plans built
    from multiple threads can't corrupt the list or double-unpersist —
    the cache-eviction policy itself remains last-writer-wins.
    """
    # Order matters: victims are released BEFORE the new persist.  A repeat
    # invocation of the same query produces the same canonicalized plan; if
    # the old entry were still registered, the new persist() would be a
    # CacheManager no-op ("already cached") and the victim's unpersist
    # would then evict that shared entry — leaving the returned frame
    # permanently uncached (found by the r7 self-review).
    with _PERSIST_LOCK:
        victims, registry[:] = list(registry), []
    for v in victims:
        try:
            v.unpersist()
        except Exception:
            pass
    out = df.persist(level) if level is not None else df.persist()
    with _PERSIST_LOCK:
        registry.append(out)
    return out


def sql_on_views(spark: SparkSession, sf_dir: str, tables: list, sql: str):
    """Register the named driver tables as temp views and run a SQL string
    — the shared SQL-surface entry used by the relational/warehouse query
    families (one definition; the per-module copies kept drifting)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(sql)


# Tables whose downstream operators are CPU-heavy PER ROW (shingle
# explode + md5, higher-order-function folds, Arrow mapInPandas scoring,
# binary decode): for these, scan-stage parallelism is the throughput
# ceiling, so load_table repairs their layout when the file's physical
# split count is below the cluster parallelism (see _scan_splits).
#
# r6: the repair is a ONE-TIME materialized multi-file copy per
# (source signature, target), not a per-query repartition — r5's blanket
# runtime exchange won on scan-bound queries but cost 1.5-2x on every
# light-per-row document query (full-text round-robin shuffle vs. no
# scan-stage CPU to win back; measured in VERDICT r5).  A materialized
# copy is paid once (~0.1s for the local fixtures), every consumer gets a
# parallel scan with ZERO added exchange, and the on-disk shape (one file
# per core) is exactly what a real 100 TB input looks like — where the
# split-count condition is false and none of this runs.
_REBALANCE_TABLES = {"documents", "embeddings"}
_SPLITS_CACHE: dict[tuple, int] = {}
_LAYOUT_CACHE: dict[tuple, str] = {}


def _scan_splits(path: str) -> int:
    """Upper bound on scan parallelism for a local parquet path.

    Spark plans file splits by BYTES (maxPartitionBytes), but a parquet
    row group is the smallest independently readable unit — a byte-split
    that contains no row-group midpoint reads zero rows.  The driver's
    generated tables are single-row-group files, so every scan stage
    (and everything fused into it: explode, md5, HOF folds, mapInPandas)
    runs on ONE core no matter how many cores the cluster has.  Counting
    row groups from footer metadata (a ~KB driver-side read) gives the
    true ceiling.  Returns a large number on any failure (remote FS,
    non-parquet layout) so the caller treats the input as already
    parallel — at 100 TB real inputs carry ~10^6 row groups and the
    rebalance below is a no-op by construction.
    """
    # keyed on (path, freshness signature): a regenerated source with a
    # different physical split count must not serve the stale probe (the
    # same staleness rule as the layout and SCD2 caches)
    key = (path, source_signature(path))
    cached = _SPLITS_CACHE.get(key)
    if cached is not None:
        return cached
    try:
        files = _parquet_files(path)
        import pyarrow.parquet as pq

        splits = sum(pq.ParquetFile(f).num_row_groups for f in files)
    except Exception:
        splits = 1 << 30
    _SPLITS_CACHE[key] = splits
    return splits


def _parquet_files(path: str) -> list[str]:
    import glob as _glob

    files = (
        [path]
        if os.path.isfile(path)
        else sorted(_glob.glob(os.path.join(path, "*.parquet")))
    )
    if not files:
        raise FileNotFoundError(path)
    return files


def source_signature(path: str) -> tuple:
    """Cheap freshness signature for a local parquet file/dir: (basename,
    mtime, size) per file.  THE one definition — the layout cache here and
    the materialized-dimension caches (operators/warehouse.py) must agree
    on invalidation granularity.  Empty on any failure, so callers degrade
    to path-only keying."""
    try:
        return tuple(
            (os.path.basename(f), os.path.getmtime(f), os.path.getsize(f))
            for f in _parquet_files(path)
        )
    except Exception:
        return ()


def _parallel_layout(path: str, target: int) -> str:
    """One-time multi-FILE rewrite of an under-split local parquet input.

    Returns a cached directory holding the same rows as ``path`` split
    into ``target`` parquet files.  Spark's file-split packing
    (openCostInBytes weighting) then plans one scan partition per file —
    full cluster-width parallelism for everything fused into the scan
    stage, with NO per-query exchange (the r5 runtime repartition taxed
    every light-per-row consumer; this costs ~0.1s once per source).

    Cache key = (per-file mtime+size signature, target), so a
    regenerated source at the same path gets a fresh copy.  The write is
    atomic (tmp dir + rename) — concurrent sessions race benignly.
    Falls back to the original path on any failure (read-only tmp,
    exotic source layout): the caller then just runs under-parallel,
    matching the input's true shape.
    """
    try:
        files = _parquet_files(path)
        # the rewrite reads the source into driver memory (pyarrow) — fine
        # for the under-split LOCAL fixtures this repairs, but a genuinely
        # large single-split file is better left alone than OOMing the
        # driver; at that size the scan is long enough that Spark's own
        # byte-splitting across its (necessarily multiple) row groups works
        if sum(os.path.getsize(f) for f in files) > int(
            os.environ.get("SPARK_GRAFT_MAT_MAX_BYTES", str(2 << 30))
        ):
            return path
        sig = source_signature(path)
        key = (path, sig, target)
        hit = _LAYOUT_CACHE.get(key)
        # another session's GC (regenerated source) may have removed a
        # cached copy out from under us — validate before serving, or
        # every later read of this table dangles
        if hit is not None and os.path.isdir(hit):
            return hit
        import hashlib
        import tempfile

        import pyarrow.parquet as pq

        digest = hashlib.md5(repr(key).encode()).hexdigest()[:16]
        # the name is prefixed with a hash of (path, target) so the GC
        # sweep below is scoped to superseded SIGNATURES of this exact
        # (source, parallelism) pair — it can never touch another
        # source's copies, nor a different-parallelism copy of this one
        # that a sibling session in the same process is still reading
        src_tag = hashlib.md5(f"{path}@{target}".encode()).hexdigest()[:10]
        cache_root = os.environ.get("SPARK_GRAFT_CACHE_DIR") or os.path.join(
            tempfile.gettempdir(), "spark_graft_scan_cache"
        )
        out = os.path.join(cache_root, f"{src_tag}-{digest}.parquet")
        if not os.path.isdir(out):
            tbl = pq.read_table(path)
            if tbl.num_rows == 0:
                # zero part files would materialize an unreadable empty
                # dir (and cache it); an empty source needs no repair
                return path
            per = max(1, -(-tbl.num_rows // target))
            tmp = f"{out}.tmp.{os.getpid()}"
            os.makedirs(tmp, exist_ok=True)
            for i, lo in enumerate(range(0, tbl.num_rows, per)):
                pq.write_table(
                    tbl.slice(lo, per), os.path.join(tmp, f"part-{i:05d}.parquet")
                )
            try:
                os.rename(tmp, out)
            except OSError:
                # another session won the race; its copy is identical
                import shutil

                shutil.rmtree(tmp, ignore_errors=True)
            # GC superseded copies of THIS (source, target) — older
            # signatures from before a regeneration, crashed tmp dirs:
            # without this, every regeneration leaks one full copy.
            # MARK-THEN-SWEEP with a grace window (r6 ADVICE #1, repaired
            # by the r7 self-review): an in-flight DataFrame in this or a
            # sibling process may still hold a plan bound to the old
            # copy's file list — deleting it mid-action fails that job
            # with a missing-path error.  The directory's own mtime is its
            # CREATION time, so age-gating on it deletes any long-lived
            # copy instantly at supersession; instead, the first sweep
            # that sees a superseded copy stamps a marker inside it
            # (supersession time), and only a sweep a full grace window
            # AFTER the stamp deletes — so every copy survives at least
            # SPARK_GRAFT_LAYOUT_GC_S seconds past losing currency,
            # whatever its age.
            import shutil
            import time as _time

            grace_s = float(os.environ.get("SPARK_GRAFT_LAYOUT_GC_S", "600"))
            now = _time.time()
            for name in os.listdir(cache_root):
                if (
                    name.startswith(f"{src_tag}-")
                    and name != os.path.basename(out)
                ):
                    victim = os.path.join(cache_root, name)
                    marker = os.path.join(victim, ".superseded")
                    try:
                        if os.path.isdir(victim) and not os.path.exists(
                            marker
                        ):
                            # first sighting: stamp supersession time (a
                            # dotfile — Spark/pyarrow scans ignore it)
                            with open(marker, "w"):
                                pass
                            continue
                        if now - os.path.getmtime(marker) < grace_s:
                            continue
                    except OSError:
                        pass  # vanished/not-a-dir: fall through to sweep
                    shutil.rmtree(victim, ignore_errors=True)
        _LAYOUT_CACHE[key] = out
        return out
    except Exception:
        return path


def load_table(spark: SparkSession, sf_dir: str, name: str, rebalance: bool = True):
    """Read one of the driver's parquet tables.

    The ``events`` table is written with nanosecond timestamps, which the
    Spark parquet reader rejects by default (PARQUET_TYPE_ILLEGAL).  We read
    nanos as long (``spark.sql.legacy.parquet.nanosAsLong``) and convert to
    microsecond TimestampType JVM-side — truncation toward zero matches how
    DuckDB/pyarrow narrow ns → µs.  Conversion is a pure projection: no
    shuffle, fully codegen'd, negligible at 100 TB.

    ``documents``/``embeddings`` are additionally served from a ONE-TIME
    materialized multi-file copy when the parquet physical split count is
    below the cluster's default parallelism: their operators (dedup,
    text, ANN, multimodal) do heavy per-row work INSIDE the scan stage,
    and a single-row-group file would otherwise pin that work to one
    core.  The copy is an on-disk layout fix, not a plan change — no
    exchange is added, pushdown and pruning hit the scan exactly as on
    the original — and on a real many-split 100 TB input the condition
    is false and the original path is read directly.
    """
    from pyspark.sql import functions as F

    # Load-bearing session confs, (re)applied defensively because the
    # driver's verify harness may hand us a session we didn't build:
    # non-ANSI (lenient casts are the engine's coercion contract) and UTC
    # (timestamps must collect as the same wall time DuckDB reports).
    # All three are runtime-settable.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        if rebalance and name in _REBALANCE_TABLES:
            target = spark.sparkContext.defaultParallelism
            if _scan_splits(path) < target:
                path = _parallel_layout(path, target)
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        # integer `div`, not `/`: float division would round ns/1000 up at
        # 1e18 magnitudes (doubles have 53-bit mantissas) instead of
        # truncating like pyarrow/DuckDB do.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
