"""foreachBatch sink shapes (SURVEY.md §2.2 K1-K5).

The reference's sinks are per-row JDBC/Kafka producers; the Spark-native
equivalents are micro-batch writers:

- K2 dynamic-destination fan-out (rt/utils/MyKafkaUtil.java:30-41,
  BaseDBApp.java:126-133): the destination is a *row field* (sinkTable);
  each micro-batch partitions by it and appends each slice to its own
  destination. Kafka's sink does this natively via a ``topic`` column;
  on the file/table backend it's ``partitionBy(sink_col)`` so each
  destination is one directory — same dynamic routing, zero per-row code.
- K3 dim MERGE upsert (rt/app/function/DimSinkFunction.java:44-75): each
  micro-batch merges into a keyed snapshot, newest version wins
  (operators/merge.upsert_latest). On Delta this is MERGE INTO; the
  parquet container keeps versioned snapshot dirs (v0, v1, ...) with the
  same semantics — the final snapshot is batching-invariant because the
  winner is chosen by the data's version column, not arrival order.
- K4 gold append (rt/utils/ClickHouseUtil.java:22-75): plain append of
  each micro-batch to the gold table path.
- K1/K5: fixed-topic Kafka producer / console — builders below.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrealtimedatawarehouse_spark.operators.merge import upsert_latest
from flinkrealtimedatawarehouse_spark.streaming.partstore import (
    PartitionedSnapshotStore,
    group_latest,
)
from flinkrealtimedatawarehouse_spark.streaming.runner import run_foreach_batch
from flinkrealtimedatawarehouse_spark.streaming.snapshots import VersionedSnapshotSink


def write_bid_slice(df: DataFrame, batch_id: int, out_dir: str,
                    extra_partitions: tuple[str, ...] = ()) -> None:
    """THE idempotent micro-batch write: stamp ``_bid`` and dynamically
    overwrite exactly this batch's partition directories — a replayed
    batch rewrites its own slice instead of appending duplicates
    (foreachBatch is at-least-once by contract). Every sink that appends
    per-batch output routes through here so the replay contract lives in
    one place. A zero-row slice still writes a schema-bearing empty file
    under its ``_bid`` dir so the destination stays readable before the
    branch ever matches a row."""
    if df.isEmpty():
        # partitionBy with 0 rows writes nothing at all — no schema, and
        # spark.read.parquet(out_dir) would fail; write the empty frame
        # (schema included) directly into the batch's partition dir
        df.write.mode("overwrite").parquet(
            os.path.join(out_dir, *[f"{p}=__empty__" for p in extra_partitions],
                         f"_bid={batch_id}")
        )
        return
    (
        df.withColumn("_bid", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*extra_partitions, "_bid")
        .parquet(out_dir)
    )


def fanout_sink(sdf: DataFrame, sink_col: str, out_dir: str, tag: str,
                exactly_once: bool = True) -> str:
    """K2: run ``sdf`` to completion, writing every micro-batch into
    ``out_dir`` partitioned by the per-row destination column. Returns
    ``out_dir`` (read back with ``spark.read.parquet(out_dir)``; each
    destination is the directory ``{out_dir}/{sink_col}=<dest>``).

    ``exactly_once=True`` sub-partitions by the micro-batch id with
    dynamic partition OVERWRITE, so a batch replayed after a failure
    rewrites exactly its own ``(dest, _bid)`` directories instead of
    appending duplicates — foreachBatch is at-least-once by contract and
    this is the standard idempotence trick (the reference runs producer
    semantic NONE and has neither guarantee, MyKafkaUtil.java:38-40).
    Readers drop the ``_bid`` column."""

    run_foreach_batch(sdf, fanout_batch_writer(sink_col, out_dir, exactly_once), tag)
    return out_dir


def fanout_batch_writer(sink_col: str, out_dir: str, exactly_once: bool = True):
    """The per-micro-batch writer behind ``fanout_sink`` (factored out so
    the idempotence contract is testable with explicit batch ids)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        if exactly_once:
            write_bid_slice(batch, batch_id, out_dir, extra_partitions=(sink_col,))
        else:
            batch.write.mode("append").partitionBy(sink_col).parquet(out_dir)

    return write_batch


class SnapshotMergeSink(VersionedSnapshotSink):
    """K3: versioned-snapshot MERGE upsert (Delta MERGE INTO stand-in).
    Durability/replay from VersionedSnapshotSink (the MERGE itself is
    idempotent per batch — the version column picks the winner — so the
    replay guard only saves the wasted rewrite)."""

    def __init__(self, base_dir: str, pk: str, version_col: str,
                 lineage: str | None = None):
        super().__init__(base_dir, lineage)
        self.pk = pk
        self.version_col = version_col

    def init(self, snapshot: DataFrame) -> None:
        self.snapshot_init(snapshot)

    def write_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.seen(batch_id):  # at-least-once redelivery: no-op
            return
        spark = batch.sparkSession
        merged = upsert_latest(self.current(spark), batch, self.pk, self.version_col)
        self.commit_snapshot(merged, batch_id)


class Scd2HistorySink(PartitionedSnapshotStore):
    """K3 extension: streaming Type-2 dimension history maintenance.

    Where ``SnapshotMergeSink`` keeps only the latest row per key (the
    reference's Phoenix UPSERT contract, DimSinkFunction.java:44-75), this
    sink maintains the full versioned history — every change becomes an
    interval row stamped valid_from/valid_to/is_current
    (operators/merge.scd2_history semantics, incl. delete-closes-interval).

    Incremental maintenance: each micro-batch re-stamps intervals ONLY for
    the keys it touches (left-semi split on the pk), so the window
    recompute is bounded by the touched keys' change counts, not the table
    size. Delete changes are retained internally as tombstone rows (they
    close intervals and must keep closing them on later re-stamps);
    ``history()`` filters them out. Because each re-stamp re-sorts the
    key's full change list by version, the result is invariant to how the
    changes were split across batches AND to cross-batch disorder — a late
    change slots into its correct interval position.

    Scale: the per-batch plan is one semi join + a keyed window over
    touched keys, and — since round 12 — the COMMIT is a delta too: only
    the touched keys' re-stamped interval rows are written
    (PartitionedSnapshotStore with ``group_latest`` merge: a key's newest
    commit replaces its whole interval row-set on read), so the history
    table is never rewritten per batch. Dim schema evolution (the
    reference's config table adds sink_columns over time,
    TableProcessFunction.java:84-111) flows through the store's
    per-version schema: historical rows carry NULL for attributes born
    later. Durability/replay/fence from the shared store contract.
    """

    def __init__(self, base_dir: str, pk: str, version_col: str,
                 type_col: str = "type", lineage: str | None = None,
                 n_partitions: int = 8, read_only: bool = False):
        super().__init__(base_dir, key_cols=[pk],
                         merge_fn=group_latest([pk]),
                         n_partitions=n_partitions, lineage=lineage,
                         read_only=read_only)
        self.pk = pk
        self.version_col = version_col
        self.type_col = type_col

    def _stamp(self, changes: DataFrame) -> DataFrame:
        from flinkrealtimedatawarehouse_spark.operators.merge import stamp_intervals

        return stamp_intervals(changes, self.pk, self.version_col, self.type_col)

    def init(self, empty_changes: DataFrame) -> None:
        self.snapshot_init(self._stamp(empty_changes.limit(0)))

    def write_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.seen(batch_id):  # at-least-once redelivery: no-op
            return
        self._check_fence()  # fail as FENCED, not as a feed gap
        if batch_id != self.version:
            # history(as_of_batch=b) reads version b+1 — only the
            # post-batch-b state when batch ids arrive consecutively from
            # 0 with one committed version each (ClusterUpkeepSink has the
            # same guard); a gapped feed would silently SHIFT every as-of
            # read, so fail loudly instead
            raise ValueError(
                f"non-consecutive batch feed: got batch_id={batch_id}, "
                f"expected {self.version} (as-of reads require one "
                "committed version per consecutive batch id)"
            )
        spark = batch.sparkSession
        affected = batch.select(self.pk).distinct()
        # Semi-join the RAW runs to the touched keys BEFORE the
        # group-latest merge window (round 14, guide §2.3): the previous
        # shape was current() -> semi-join, which shuffled the FULL state
        # through the per-key window every batch — the per-batch
        # O(|state|) exchange class the other partstore sinks already
        # eliminated. The window filter commutes with the key-level semi
        # join (a key's rows are complete either way), so the merged view
        # of the touched keys is identical; the window exchange now
        # carries only the touched keys' interval rows. Deliberately NOT
        # pids_of-pruned (unlike the neardup/cluster sinks): dim-change
        # batches are arbitrary-keyed, so the directory pruning rarely
        # bites while its collect adds an eager extra pass over the batch
        # keys per commit (measured: +9 s on a 5M-key initial load, no
        # sparse-batch win at any state size this sandbox reaches).
        touched_raw = self._read(spark, self.version, merged=False).join(
            affected, self.pk, "left_semi"
        )
        touched_changes = self.merge_fn(touched_raw).drop("_sv").drop(
            "valid_from", "valid_to", "is_current"
        )
        restamped = self._stamp(
            touched_changes.unionByName(batch, allowMissingColumns=True)
        )
        # delta = the touched keys' complete NEW interval row-set; the
        # store's group-latest merge retires their previous rows on read,
        # untouched keys' rows ride along from their own last commit
        self.commit_batch(restamped, batch_id)

    def history(self, spark: SparkSession,
                as_of_batch: int | None = None) -> DataFrame:
        """The public SCD2 table: interval rows, tombstones excluded.
        ``as_of_batch`` time-travels to the history as it stood after
        that batch committed (version 0 is the empty init, so batch b's
        post-state is version b+1 — the package-wide convention)."""
        df = (self.current(spark) if as_of_batch is None
              else self.read_version(spark, as_of_batch + 1))
        return df.filter(F.col(self.type_col) != "delete").drop(self.type_col)


def stage_scd2_input(changes: DataFrame, version_col: str,
                     n_batches: int = 4, tag: str = "scd2") -> str:
    """Stage a change stream's file-source input (untimed test plumbing —
    a real deployment reads the CDC topic)."""
    from flinkrealtimedatawarehouse_spark.streaming import runner

    return runner.stage_stream_dir(changes, version_col, n_batches, tag)


def stream_scd2_upkeep(changes: DataFrame, pk: str, version_col: str,
                       out_dir: str, n_batches: int = 4, tag: str = "scd2",
                       staged_dir: str | None = None) -> Scd2HistorySink:
    """Run a dim-change set through SCD2 history upkeep as a checkpointed
    stream (micro-batched file source standing in for the CDC topic) and
    return the sink — the serving bench's partstore-read-at-depth
    subject (VERDICT r12 task #4)."""
    from flinkrealtimedatawarehouse_spark.streaming import runner

    in_dir = staged_dir or stage_scd2_input(changes, version_col,
                                            n_batches, tag)
    sdf = runner.parquet_stream(changes.sparkSession, in_dir, changes.schema)
    sink = Scd2HistorySink(out_dir, pk, version_col)
    sink.init(changes.limit(0))
    runner.run_foreach_batch(sdf, sink.write_batch, tag)
    return sink


class AdditiveGoldSink(VersionedSnapshotSink):
    """Incremental gold-table maintenance: each micro-batch folds its
    partial aggregates ADDITIVELY into the running table (sum/count per
    key), instead of appending window rows (gold_append_sink) or
    replacing rows (SnapshotMergeSink). This is the running-totals grain
    the reference's ADS queries re-aggregate from ClickHouse on every
    request — maintained incrementally, a request reads one row.

    measures: {out_col: (in_col, fn)} with fn in {sum, count} (the
    associative folds — what can be merged batch-by-batch without
    reprocessing history).

    Replay-safe ACROSS RESTARTS: the (version, last_batch_id) marker is a
    JSON file under base_dir, written only AFTER the snapshot parquet
    lands, and recovered on construction — a re-delivered batch after a
    driver restart is a no-op, and a crash between snapshot write and
    marker write leaves the marker at the previous consistent state (the
    replay simply overwrites the orphaned snapshot). Same contract
    Delta's txn-log gives MERGE, emulated on parquet snapshots.
    Scale: the per-batch partial agg collapses the batch to |keys| rows
    before the merge join; the running table is keyed and small relative
    to the facts.
    """

    def __init__(self, base_dir: str, keys: list[str], measures: dict[str, tuple[str, str]],
                 lineage: str | None = None, read_only: bool = False,
                 retain_versions: int | None = None):
        super().__init__(base_dir, lineage, read_only=read_only,
                         retain_versions=retain_versions)
        self.keys = keys
        self.measures = measures

    def _partial(self, batch: DataFrame) -> DataFrame:
        aggs = []
        for out, (col, fn) in self.measures.items():
            if fn == "sum":
                aggs.append(F.sum(col).cast("double").alias(out))
            elif fn == "count":
                aggs.append(F.count(F.lit(1)).cast("double").alias(out))
            else:
                raise ValueError(f"non-additive fn {fn!r}; use sum/count")
        return batch.groupBy(*self.keys).agg(*aggs)

    def write_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.seen(batch_id):  # replayed batch: already applied
            return
        self._fold_partial(self._partial(batch), batch_id)

    def _fold_partial(self, part: DataFrame, batch_id: int) -> None:
        # (round 15: a write_batch_partial entry point that fed this fold
        # a pre-aggregated LocalRelation row — stats scalars observed on
        # the data-write action — was measured SLOWER than the plain
        # path, 0.51 vs 0.32 s/batch on a 48-batch drive, and removed.)
        cur = self.current(part.sparkSession)
        if cur is None:
            merged = part
        else:
            a, b = cur.alias("a"), part.alias("b")
            cond = [a[k].eqNullSafe(b[k]) for k in self.keys]
            key_cols = [F.coalesce(a[k], b[k]).alias(k) for k in self.keys]
            add_cols = [
                (F.coalesce(a[m], F.lit(0.0)) + F.coalesce(b[m], F.lit(0.0))).alias(m)
                for m in self.measures
            ]
            merged = a.join(b, cond, "full_outer").select(*key_cols, *add_cols)
        self.commit_snapshot(merged, batch_id)

    def backfill(self, corrected: DataFrame, keys_df: DataFrame | None = None) -> None:
        """Repair a slice of the running totals: REPLACE (not add) the
        affected keys' gold rows with aggregates recomputed from
        ``corrected`` — the full corrected fact history for those keys,
        not a delta. The warehouse-operations path the incremental sink
        needs when late corrections land in silver (a bad batch already
        folded in, a restated partner feed): additive folding can absorb
        new facts but can never un-count wrong ones.

        ``keys_df`` selects which gold keys are being repaired; it
        defaults to the distinct keys present in ``corrected``. Pass it
        explicitly to DELETE a key outright (key in ``keys_df``, no rows
        in ``corrected``).

        Scale: one agg over the corrected slice + one anti-join against
        the snapshot on the gold key — cost is O(slice + |gold|), never a
        re-read of unaffected fact history. Versioned like write_batch
        (snapshot first, marker after), so a crash mid-backfill leaves
        the previous consistent state; replay delivery ids are untouched.
        """
        spark = corrected.sparkSession
        if keys_df is None:
            keys_df = corrected.select(*self.keys).distinct()
        else:
            # an explicit key set SCOPES the repair: corrected rows for
            # keys outside it must not be folded in, or an un-repaired
            # key would end up with two gold rows (old + recomputed)
            c, k = corrected.alias("c"), keys_df.alias("k")
            corrected = c.join(
                k, [c[col].eqNullSafe(k[col]) for col in self.keys], "left_semi"
            )
        part = self._partial(corrected)
        cur = self.current(spark)
        if cur is None:
            merged = part
        else:
            a, k = cur.alias("a"), keys_df.alias("k")
            cond = [a[c].eqNullSafe(k[c]) for c in self.keys]
            merged = a.join(k, cond, "left_anti").unionByName(part)
        # keep last_bid unchanged: a backfill is out-of-band repair, not a
        # delivery — replay ids belong to the streaming lineage
        self.commit_snapshot(merged, self.last_bid)


class LateQuarantineSink(VersionedSnapshotSink):
    """T8 upgraded: capture late data instead of silently dropping it.

    The reference drops everything behind the watermark with no side
    output (SURVEY §2.10 T8 — no allowedLateness anywhere), and Spark's
    stateful operators do the same. This foreachBatch sink splits each
    micro-batch BEFORE any stateful operator sees it: rows older than
    ``high_watermark - delay`` go to ``late/``, the rest to ``main/`` —
    so a downstream aggregation over ``main/`` sees exactly what a
    watermarked operator would keep, while the late rows stay queryable
    for monitoring/backfill (AdditiveGoldSink.backfill consumes them).

    The high watermark is the max event time of all PRIOR batches
    (current batch excluded — the same one-batch lag Spark's watermark
    has), persisted in the marker meta so restarts resume it. Writes are
    batch-id-sliced (write_bid_slice) => replay-idempotent.

    Scale: the split is one map-side comparison per row; the only driver
    state is a single timestamp in the marker.
    """

    def __init__(self, base_dir: str, ts_col: str, delay_s: float,
                 lineage: str | None = None):
        super().__init__(base_dir, lineage)
        self.ts_col = ts_col
        self.delay_s = delay_s

    def _hwm(self):
        return self.meta.get("hwm_epoch")

    def write_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.seen(batch_id):
            return
        ts_sec = F.col(self.ts_col).cast("double")
        hwm = self._hwm()
        is_late = (
            F.lit(False) if hwm is None else ts_sec < F.lit(hwm - self.delay_s)
        )
        tagged = batch.withColumn("_late", is_late)
        write_bid_slice(
            tagged.filter(~F.col("_late")).drop("_late"), batch_id,
            os.path.join(self.base_dir, "main"),
        )
        write_bid_slice(
            tagged.filter(F.col("_late")).drop("_late"), batch_id,
            os.path.join(self.base_dir, "late"),
        )
        mx = batch.agg(F.max(ts_sec)).first()[0]
        # explicit None check: an hwm of exactly 0.0 (the epoch) is a real
        # committed watermark, not "absent" — `or` would regress it
        new_hwm = (
            hwm if mx is None else (mx if hwm is None else max(hwm, mx))
        )
        self.last_bid = batch_id
        if new_hwm is not None:
            self.meta["hwm_epoch"] = new_hwm
        self._commit()

    def main(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.base_dir, "main"))

    def late(self, spark: SparkSession) -> DataFrame:
        """Late rows captured so far; empty (with main's schema) if no
        batch has produced any yet."""
        path = os.path.join(self.base_dir, "late")
        try:
            return spark.read.parquet(path)
        except Exception:
            return self.main(spark).limit(0)


def gold_append_sink(sdf: DataFrame, out_dir: str, tag: str) -> str:
    """K4: append each micro-batch to the gold table path."""

    def write_batch(batch: DataFrame, _batch_id: int) -> None:
        batch.write.mode("append").parquet(out_dir)

    run_foreach_batch(sdf, write_batch, tag)
    return out_dir


def kafka_sink_options(brokers: str, checkpoint: str,
                       topic: str | None = None) -> dict[str, str]:
    """The producer options the reference pins (MyKafkaUtil.java:29-41:
    bootstrap servers + fixed destination topic; K2's per-row destination
    has NO topic option — the ``topic`` COLUMN routes each row)."""
    opts = {"kafka.bootstrap.servers": brokers, "checkpointLocation": checkpoint}
    if topic is not None:
        opts["topic"] = topic
    return opts


def kafka_value_projection(df: DataFrame) -> DataFrame:
    """Serialize a DataFrame to the Kafka writer's column contract: a
    string ``value`` column, plus a pass-through ``topic`` column when
    present (K2's per-row destination — it must stay a TOP-LEVEL column
    for the Kafka sink to route on, never be folded into the payload).
    Rows already carrying ``value`` pass through unchanged."""
    if "value" in df.columns:
        return df
    payload = [c for c in df.columns if c != "topic"]
    value = F.to_json(F.struct(*payload)).alias("value")
    if "topic" in df.columns:
        return df.select("topic", value)
    return df.select(value)


def kafka_sink(sdf: DataFrame, brokers: str, topic: str | None, checkpoint: str):
    """K1 (fixed topic) / K2 (dynamic: ``topic`` column already on the DF,
    pass topic=None — MyKafkaUtil.java:30-41's per-row destination is
    native here). Requires the spark-sql-kafka package; builder only in
    this container."""
    return (
        kafka_value_projection(sdf)
        .writeStream.format("kafka")
        .options(**kafka_sink_options(brokers, checkpoint, topic))
    )


def console_sink(sdf: DataFrame, n_rows: int = 20):
    """K5: debug print sink (.print() — e.g. BaseLogApp.java:138-140)."""
    return sdf.writeStream.format("console").option("numRows", str(n_rows)).option("truncate", "false")


def multi_sink(branches: dict[str, "callable"], out_root: str):
    """SURVEY §7.2 item 7 — one foreachBatch serving SEVERAL destinations
    with DIFFERENT schemas (the reference's BaseLogApp side-output pattern:
    P1/P3 write start/page/display + dirty to distinct topics from one
    operator). ``fanout_sink`` handles the same-schema per-row-destination
    case; this handles distinct per-branch transformations.

    ``branches``: {name: fn(batch_df) -> DataFrame}. Per micro-batch the
    input is persisted once, every branch's transform writes into
    ``{out_root}/{name}`` under the batch's own ``_bid`` partition with
    dynamic overwrite (a replayed batch rewrites exactly its own slice in
    EVERY branch — so the multi-destination write is idempotent per batch
    even though parquet gives no cross-directory transaction), then the
    input is unpersisted.

    Scale note: persisting the micro-batch (bounded by trigger size, not
    the stream) is the one cache in the streaming layer that always pays
    for itself — every branch re-reads it instead of re-pulling the
    source N times.
    """

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            for name, fn in branches.items():
                write_bid_slice(fn(batch), batch_id, os.path.join(out_root, name))
        finally:
            batch.unpersist()

    return write_batch
