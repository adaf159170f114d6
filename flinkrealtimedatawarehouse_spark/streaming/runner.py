"""Stream staging + run-to-completion helpers (T9/T10).

``stage_stream_dir`` turns a bounded table into a multi-file stream input
whose files partition the event-time axis (repartitionByRange on the ts
column). With ``maxFilesPerTrigger=1`` the file source then replays the
data as an ordered sequence of micro-batches, so watermarks advance
monotonically and no row is late-dropped — the streaming query's output
becomes a deterministic function of the data and the watermark delay.

``run_to_memory`` executes any streaming DataFrame to completion with
``trigger(availableNow=True)`` and returns the accumulated sink contents
as a batch DF. Both run paths give each query its own checkpoint under
``.scratch/``, but only ``run_foreach_batch`` is served by it: its
sinks commit exactly once per batch id the checkpoint records, and a
``foreachBatch`` query restarted on the same location resumes from it
(the reference comments its checkpointing out —
rt/app/dwd/BaseLogApp.java:28-34). A ``run_to_memory`` query cannot
resume: Spark's memory sink refuses to restart from a checkpoint
(``AnalysisException``).
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch")

_counter = itertools.count()
_made: list[str] = []  # this process's scratch dirs, removed at exit

# recentProgress of the last completed run_to_memory query — lets tests
# assert on state-store metrics (e.g. numRowsTotal for eviction checks)
# without threading the StreamingQuery handle through every helper.
LAST_PROGRESS: list = []

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state(spark: SparkSession, enable: bool = True) -> None:
    """Switch the state store for subsequently-started streaming queries.

    The default HDFS-backed provider keeps every state row on the JVM
    heap — fine for the test-scale corpora here, fatal at 100 TB where
    keyed state (dedup keys, open sessions, join buffers) exceeds
    executor memory. RocksDB keeps state off-heap/on-disk with block
    cache + bloom filters, and changelog checkpointing uploads only each
    batch's delta instead of re-snapshotting the full store — the
    standard production configuration for large-state Structured
    Streaming. Results are provider-invariant (asserted in
    test_streaming.py); only the memory/checkpoint profile changes.

    Session-level conf: applies to queries started AFTER the call; running
    queries keep the provider they started with (provider is pinned in the
    checkpoint, so a restarted query also keeps its original choice).
    """
    if enable:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    else:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        )


def scratch_dir(tag: str, fresh: bool = True) -> str:
    """Per-run scratch path (checkpoints, staged inputs, sink outputs).

    The directory lives until this process exits, then it is removed."""
    path = os.path.join(SCRATCH, f"{tag}_{os.getpid()}_{next(_counter)}")
    if fresh and os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    _made.append(path)
    return path


def _remove_scratch(pid: int = os.getpid()) -> None:
    # a forked child inherits this handler but not the directories
    if os.getpid() == pid:
        for path in _made:
            shutil.rmtree(path, ignore_errors=True)


atexit.register(_remove_scratch)


def stage_stream_dir(
    df: DataFrame,
    order_col: str,
    n_files: int,
    tag: str,
) -> str:
    """Write ``df`` as ``n_files`` parquet files range-partitioned on
    ``order_col`` so file k holds an earlier time slice than file k+1.
    Returns the directory to point ``readStream`` at."""
    out = scratch_dir(f"in_{tag}")
    (
        df.repartitionByRange(n_files, F.col(order_col))
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .parquet(out)
    )
    # FileStreamSource schedules by (modification time, listing order) and
    # the writer stamps every part file with the same mtime — stamp strictly
    # increasing mtimes in part order (range partition k = time slice k) so
    # the replay is time-ordered and the watermark rises monotonically.
    import glob as _glob
    import time as _time

    # mtimes sit in the recent PAST: the file source's availableNow snapshot
    # only admits files already "available", so future-dated files would be
    # skipped (this also keeps room below for a later sentinel file).
    base = _time.time() - 3600
    for i, part in enumerate(sorted(_glob.glob(os.path.join(out, "part-*.parquet")))):
        os.utime(part, (base + i, base + i))
    return out


def make_sentinel(df: DataFrame, ts_col: str, pad: str, marker: dict) -> DataFrame:
    """One schema-compatible row at ``max(ts_col) + pad`` (an interval
    literal like ``'400 seconds'``); other columns from ``marker`` or NULL.
    Route it to a marker key so it joins/aggregates with nothing real."""
    cols = []
    for field in df.schema.fields:
        if field.name == ts_col:
            cols.append((F.col("_mx") + F.expr(f"INTERVAL {pad}")).alias(ts_col))
        else:
            cols.append(F.lit(marker.get(field.name)).cast(field.dataType).alias(field.name))
    return df.agg(F.max(F.col(ts_col)).alias("_mx")).select(*cols)


def append_sentinel_file(
    in_dir: str, sentinel: DataFrame, tag: str, name: str = "zzz-sentinel.parquet"
) -> None:
    """Append a one-row 'watermark sentinel' as the final stream file.

    Under ``availableNow`` the run stops when the staged files are drained,
    so event-time timeouts whose firing watermark is only reached *after*
    the last real batch never fire (they would in a long-running stream).
    A sentinel row beyond ``max(ts) + gap + delay``, staged as its own
    final batch, advances the watermark to ``real_max - delay`` while that
    batch runs — firing every pending timeout with exactly the watermark a
    continuous stream would have reached. The file sorts last by both
    mtime and name, so the file source schedules it after the real data.
    """
    import glob
    import time as _time

    tmp = scratch_dir(f"sent_{tag}_{name}")
    sentinel.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dst = os.path.join(in_dir, name)
    shutil.copyfile(part, dst)
    # newest mtime among the staged files, but still in the past — a
    # future-dated file is invisible to the availableNow snapshot
    newest = max(
        os.path.getmtime(os.path.join(in_dir, f))
        for f in os.listdir(in_dir)
        if f.endswith(".parquet") and f != name
    )
    os.utime(dst, (newest + 10, newest + 10))


def parquet_stream(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """S1-analog file-stream source (the container has no Kafka broker;
    the file source exercises identical source semantics: schema'd rows,
    incremental batches, replay from checkpoint)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


class scoped_conf:
    """Scope session-conf overrides to one replay run: set before the
    stream starts (Spark consults streaming confs at start), restored to
    their previous values after termination — so a query that needs a
    non-default policy (e.g. the T7→A1 chain's multipleWatermarkPolicy)
    never leaks it into later queries on the shared session."""

    def __init__(self, spark: SparkSession, overrides: dict | None):
        self.spark, self.overrides = spark, overrides or {}

    def __enter__(self):
        # get(k, None): an override key with no session default must not
        # raise before the stream starts; None marks "was unset" so exit
        # unsets it instead of set(k, None)
        self.prev = {k: self.spark.conf.get(k, None) for k in self.overrides}
        for k, v in self.overrides.items():
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, v in self.prev.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)


def _stream_confs(spark: SparkSession, overrides: dict | None = None) -> dict:
    """The session confs a replay run starts its query under: one wave of
    state tasks per micro-batch. A stateful batch runs one state-store
    task (and one checkpoint commit) per shuffle partition, so the count
    is the live session's cores, capped at 8 (the count the replay runs
    were tuned with, so a box with >= 8 cores runs as tuned). A restarted
    query keeps the count pinned in its checkpoint's offset log.
    ``overrides`` win over it."""
    n = min(8, spark.sparkContext.defaultParallelism)
    return {"spark.sql.shuffle.partitions": str(n), **(overrides or {})}


def run_to_memory(
    sdf: DataFrame,
    tag: str,
    output_mode: str = "append",
    conf_overrides: dict | None = None,
) -> DataFrame:
    """Run a streaming DF to completion into a memory sink; return the
    sink table as a batch DataFrame. Checkpointing on (T9). The query
    starts under ``_stream_confs``: min(8, cores) shuffle and state
    partitions, then ``conf_overrides``."""
    name = f"sink_{tag}_{os.getpid()}_{next(_counter)}"
    spark = sdf.sparkSession
    with scoped_conf(spark, _stream_confs(spark, conf_overrides)):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", scratch_dir(f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _capture_progress(q)
    return spark.table(name)


def _capture_progress(q) -> None:
    """Record the completed query's progress into LAST_PROGRESS (shared by
    both run paths so observed()/state assertions behave identically)."""
    global LAST_PROGRESS
    import json as _json

    LAST_PROGRESS = [
        _json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress
    ]


def observe_metrics(sdf: DataFrame, name: str, **aggs) -> DataFrame:
    """Attach named per-micro-batch metrics to a streaming DataFrame
    (``df.observe``): each aggregate is computed on the rows the batch
    actually processed and surfaces in the query progress
    (``observedMetrics`` — readable from LAST_PROGRESS after a
    run_to_memory / run_foreach_batch run).

    This is the monitoring surface the reference lacks entirely (its only
    observability is ``.print()`` sinks, K5): row counts, sums, and
    null-rate expectations ride along with ZERO extra passes — the
    observation is a streaming-safe accumulator inside the existing plan,
    not a second aggregation.
    """
    exprs = [col.alias(alias) for alias, col in aggs.items()]
    return sdf.observe(name, *exprs)


def observed(name: str) -> list[dict]:
    """The observed-metrics rows named ``name`` from the last completed
    run, one dict per micro-batch that carried data."""
    out = []
    for p in LAST_PROGRESS:
        m = (p.get("observedMetrics") or {}).get(name)
        if m:
            out.append(m)
    return out


def run_foreach_batch(sdf: DataFrame, batch_fn, tag: str) -> None:
    """Run a streaming DF to completion through a foreachBatch writer
    (the K2/K3/K4 sink shapes). Checkpointing on; the query starts under
    ``_stream_confs`` (min(8, cores) shuffle partitions), which the batch
    function's own shuffles inherit."""
    with scoped_conf(sdf.sparkSession, _stream_confs(sdf.sparkSession)):
        q = (
            sdf.writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", scratch_dir(f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _capture_progress(q)
