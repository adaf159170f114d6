"""Automated tiered compaction for batch-partitioned streamed indexes.

The streamed postings (``searchindex.PostingsIndexSink``) and IVF
(``simsearch.IvfIndexSink``) indexes are append-only: every micro-batch
writes its own ``batch=<id>/<part>=<v>/`` parquet partition, which is
what makes the write path replay-safe and O(|batch|). The measured cost
of that layout (SCALE.md round 10): at only 32 batches x 64 buckets the
directory listing alone is 1,922 leaves and ~4.5 s/query; at 100 TB a
micro-batch stream produces THOUSANDS of batch partitions and the
serving read path decays without bound. Round 10 documented manual
``compact_dir`` as the remedy; a manual remedy is not a policy — this
module is the policy, on by default in both sinks.

Design: a two-level LSM tree on raw parquet.

- **Tail** (level 0): the batch-partitioned directories exactly as the
  sink writes them today. Bounded at ``compact_every + keep_recent``
  directories by the minor fold below; the newest ``keep_recent``
  batches always stay as directories, so very recent as-of reads keep
  directory-level pruning and a just-written batch is never rewritten
  immediately.
- **Chunks** (level 1+): when the tail exceeds its bound, the oldest
  ``compact_every`` batches fold into ONE chunk — partitioned by the
  index's part column only (the measured fast layout: 64 leaves instead
  of batches x 64), with ``batch`` demoted to a sorted data column so
  point-in-time reads stay correct via row filtering plus CHUNK-level
  pruning (each chunk records its [lo, hi] batch range in the marker; an
  as-of read skips chunks entirely above the horizon before Spark ever
  lists them). A minor fold reads only the folding batches — never the
  existing chunks — so its cost is O(fold), not O(index).
- **Size-tiered major merge**: when chunks exceed ``max_chunks``, the
  ``max_chunks`` SMALLEST chunks (by folded batch count) merge into one.
  Merging smallest-first keeps chunk sizes geometric, so each row is
  rewritten O(log B) times over the index's lifetime — the standard
  tiering argument — instead of the O(B) rewrites a fold-everything-
  into-one-base policy pays. Read fan-out stays <= max_chunks + tail.

Crash contract (the property the round-10 design demanded): compaction
must stay idempotent against the sinks' replay dedup.

- The marker (``<tail>_compaction.json``) is the single source of truth,
  atomically replaced (tmp + rename) AFTER chunk data lands. A crash
  before the marker commit leaves an unreferenced chunk directory that
  the next fold overwrites (``next_id`` never advanced); a crash after
  the commit but before cleanup leaves folded tail/merged chunk dirs
  that the read path already ignores (tail reads filter
  ``batch > folded_through``; chunk reads list only marker-referenced
  names) and the next ``maybe_compact`` sweeps.
- ``folded_through`` gates the WRITER: a foreachBatch redelivery of a
  batch whose rows already live in a chunk must NOT recreate its tail
  directory (the rows would count twice). The sinks consult
  ``folded_through()`` before writing; their stats folds were committed
  before the batch became foldable, so the whole redelivery is a no-op.
- Only batches at or below the sink's committed stats watermark fold, so
  a half-written batch (crash between data write and stats marker) is
  never captured mid-flight.
- All mutations run under the owning sink's writer fence (the
  ``fence_check`` callback): a fenced straggler raises before touching
  the marker or deleting a byte — same single-writer contract as
  ``snapshots.VersionedSnapshotSink``.

Reader hazard (shared with Delta VACUUM): a query planned over a tail
directory that a concurrent fold deletes mid-read fails and retries;
``keep_recent`` is the grace window. On raw parquet that window is the
best available answer — true snapshot-isolated deletes need a table
format with a transaction log.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkrealtimedatawarehouse_spark.streaming.snapshots import write_json_atomic


class TieredAppendStore:
    """Tiered layout manager for one append-only batch-partitioned
    directory (``tail_dir`` = the sink's existing ``postings``/``corpus``
    dir; chunks live beside it in ``<tail_dir>_chunks``).

    With no marker present, ``read`` degrades to a plain read of the
    tail directory — bit-identical plans to the pre-compaction code, so
    manually compacted layouts (tests swap directories by hand) keep
    working unchanged.
    """

    def __init__(self, tail_dir: str, part_col: str,
                 sort_cols: list[str] | None = None,
                 compact_every: int = 16, keep_recent: int = 4,
                 max_chunks: int = 8, fence_check=None):
        if compact_every < 1 or keep_recent < 1 or max_chunks < 2:
            raise ValueError("compact_every/keep_recent >= 1, max_chunks >= 2")
        self.tail_dir = tail_dir
        self.chunk_root = tail_dir + "_chunks"
        self.marker_path = tail_dir + "_compaction.json"
        self.part_col = part_col
        self.sort_cols = list(sort_cols or [])
        self.compact_every = compact_every
        self.keep_recent = keep_recent
        self.max_chunks = max_chunks
        self.fence_check = fence_check

    # --- state -------------------------------------------------------------

    def _load(self) -> dict:
        if os.path.exists(self.marker_path):
            with open(self.marker_path) as f:
                return json.load(f)
        return {"folded_through": -1, "chunks": [], "next_id": 0}

    def _commit_state(self, st: dict) -> None:
        if self.fence_check is not None:
            self.fence_check()
        write_json_atomic(self.marker_path, st)

    # Max roots for ONE explicit-path spark.read call: safely under
    # spark.sql.sources.parallelPartitionDiscovery.threshold (default
    # 32), above which Spark launches a DISTRIBUTED LISTING JOB per read
    # — for an already-enumerated list of leaf directories that job is
    # pure overhead (measured on the 48-batch indexes: +0.3-1.2 s per
    # read at 40-160 roots, erasing the pruned-listing win). A selection
    # too wide to fit one reader falls back to the generic listed read
    # for that component (splitting into unioned groups was ALSO a
    # measured regression: +0.2-0.5 s of per-group scan overhead).
    _MAX_ROOTS_PER_READ = 24

    def folded_through(self) -> int:
        """Highest batch id whose rows live in a chunk (-1: none).
        The writer's replay gate: a redelivered batch at or below this
        must not recreate its tail directory."""
        return self._load()["folded_through"]

    def _tail_batch_ids(self) -> list[int]:
        if not os.path.isdir(self.tail_dir):
            return []
        out = []
        for name in os.listdir(self.tail_dir):
            if name.startswith("batch="):
                try:
                    out.append(int(name.split("=", 1)[1]))
                except ValueError:
                    pass
        return sorted(out)

    def _has_tail_data(self) -> bool:
        return os.path.isdir(self.tail_dir) and bool(os.listdir(self.tail_dir))

    # --- read path -----------------------------------------------------------

    def read(self, spark: SparkSession, as_of_batch: int | None = None,
             part_vals: list | None = None) -> DataFrame:
        """All index rows (chunks + tail), with ``batch`` present as a
        column either way. ``as_of_batch`` prunes chunks wholly above the
        horizon at the MARKER level (no listing, no plan node) and
        filters the rest on the batch column — row-group min/max carry
        the rest, the measured-faster shape at high batch counts.

        ``part_vals`` (round 15, guide §6): the caller's partition-value
        subset (the search's term buckets / probed IVF cells). The
        returned rows equal ``read(...).filter(part_col isin part_vals)``
        — the partition directories partition rows exactly — but the scan
        is CONSTRUCTED from the explicit ``{part_col}=v`` sub-directories
        (``basePath`` keeps the partition columns), so Spark's
        InMemoryFileIndex lists only those leaves instead of walking the
        full ``batch=N/{part}=M`` tree and pruning afterwards. The
        per-read listing was the measured stream-vs-batch read premium
        (r14: post_stream_single 1.59x its batch twin at sf1); the
        existence probes here are driver-local ``os.path.isdir`` calls —
        the same filesystem the marker lives on."""
        st = self._load()  # fresh: read handles must see new compactions
        ft = st["folded_through"]
        # deduped in order: a repeated value would count its leaves twice
        # towards _MAX_ROOTS_PER_READ and push the read onto the listed one
        sel = None if part_vals is None else list(dict.fromkeys(part_vals))
        parts = []
        for ch in st["chunks"]:
            if as_of_batch is not None and ch["lo"] > as_of_batch:
                continue  # chunk entirely after the horizon: never listed
            cdir = os.path.join(self.chunk_root, ch["name"])
            if sel is None:
                parts.append(spark.read.parquet(cdir))
            else:
                paths = [p for v in sel
                         if os.path.isdir(p := os.path.join(
                             cdir, f"{self.part_col}={v}"))]
                if 0 < len(paths) <= self._MAX_ROOTS_PER_READ:
                    parts.append(
                        spark.read.option("basePath", cdir).parquet(*paths)
                    )
                elif paths:  # too wide for one reader: generic listed read
                    parts.append(spark.read.parquet(cdir))
        if self._has_tail_data():
            if sel is None:
                t = spark.read.parquet(self.tail_dir)
                if ft >= 0:
                    # folded batches may linger as orphan dirs after a crash
                    # between marker commit and cleanup: their rows are in a
                    # chunk already, so the tail contributes only newer ones
                    t = t.filter(F.col("batch") > ft)
                parts.append(t)
            else:
                # explicit live-batch dirs: folded orphans (<= ft) and
                # batches beyond the as-of horizon are excluded by
                # construction instead of by post-listing filters
                bids = [b for b in self._tail_batch_ids()
                        if b > ft and (as_of_batch is None or b <= as_of_batch)]
                paths = [p for b in bids for v in sel
                         if os.path.isdir(p := os.path.join(
                             self.tail_dir, f"batch={b}",
                             f"{self.part_col}={v}"))]
                if 0 < len(paths) <= self._MAX_ROOTS_PER_READ:
                    parts.append(
                        spark.read.option("basePath", self.tail_dir)
                        .parquet(*paths)
                    )
                elif paths:  # too wide for one reader: generic listed read
                    t = spark.read.parquet(self.tail_dir)
                    if ft >= 0:
                        t = t.filter(F.col("batch") > ft)
                    parts.append(t)
        if not parts:
            if sel is not None:
                # no matching partition dir anywhere: fall back to the
                # generic read so schema/raise semantics stay identical
                # (rare — a query whose term buckets hold no postings)
                return self.read(spark, as_of_batch).filter(
                    F.col(self.part_col).isin(sel)
                )
            raise ValueError(f"append index at {self.tail_dir} has no data")
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if as_of_batch is not None:
            df = df.filter(F.col("batch") <= as_of_batch)
        if sel is not None:
            # no-op on the pruned scan (defense in depth): keeps the
            # row-set contract literally read(...).filter(isin) even if a
            # stray non-partition file ever lands under a selected dir
            df = df.filter(F.col(self.part_col).isin(sel))
        return df

    # --- compaction ----------------------------------------------------------

    def maybe_compact(self, spark: SparkSession, committed_bid: int) -> dict:
        """The policy hook the sinks call after every committed batch:
        sweep crash leftovers, minor-fold the tail when it exceeds
        ``compact_every + keep_recent`` directories, size-tiered major
        merge when chunks exceed ``max_chunks``. Only batches
        ``<= committed_bid`` (the sink's stats watermark) fold. Returns
        the resulting marker state."""
        st = self._load()
        self._sweep(st)
        tail = [b for b in self._tail_batch_ids() if b <= committed_bid]
        if len(tail) >= self.compact_every + self.keep_recent:
            fold = tail[:-self.keep_recent]
            st = self._minor(spark, st, fold)
        if len(st["chunks"]) > self.max_chunks:
            st = self._major(spark, st)
        return st

    def _write_chunk(self, df: DataFrame, out: str) -> None:
        # one task per part value -> one file per partition directory
        # (hash repartition on the part column, same shape as
        # operators.layout.compact_dir); batch demoted to a data column,
        # sorted last within each file so its min/max envelopes survive
        df = df.withColumn("batch", F.col("batch").cast("int"))
        df = df.repartition(F.col(self.part_col))
        sort_keys = [self.part_col, *self.sort_cols]
        df = df.sortWithinPartitions(*sort_keys)
        df.write.mode("overwrite").partitionBy(self.part_col).parquet(out)

    def _minor(self, spark: SparkSession, st: dict, fold_ids: list[int]) -> dict:
        name = f"c{st['next_id']:06d}"
        out = os.path.join(self.chunk_root, name)
        df = spark.read.parquet(self.tail_dir).filter(
            F.col("batch").isin([int(b) for b in fold_ids])
        )
        self._write_chunk(df, out)  # data first, marker after
        st["chunks"].append(
            {"name": name, "lo": min(fold_ids), "hi": max(fold_ids),
             "n_batches": len(fold_ids)}
        )
        st["folded_through"] = max(fold_ids)
        st["next_id"] += 1
        self._commit_state(st)  # point of no return
        for b in fold_ids:  # crash here -> orphans; read ignores, sweep collects
            shutil.rmtree(
                os.path.join(self.tail_dir, f"batch={b}"), ignore_errors=True
            )
        return st

    def _major(self, spark: SparkSession, st: dict) -> dict:
        # size-tiered: merge the max_chunks SMALLEST chunks so sizes stay
        # geometric and per-row rewrite count stays O(log B)
        ordered = sorted(st["chunks"], key=lambda c: (c["n_batches"], c["name"]))
        merge, keep = ordered[:self.max_chunks], ordered[self.max_chunks:]
        name = f"c{st['next_id']:06d}"
        out = os.path.join(self.chunk_root, name)
        df = None
        for m in merge:
            p = spark.read.parquet(os.path.join(self.chunk_root, m["name"]))
            df = p if df is None else df.unionByName(p)
        self._write_chunk(df, out)
        st["chunks"] = keep + [
            {"name": name,
             "lo": min(m["lo"] for m in merge),
             "hi": max(m["hi"] for m in merge),
             "n_batches": sum(m["n_batches"] for m in merge)}
        ]
        st["next_id"] += 1
        self._commit_state(st)
        for m in merge:
            shutil.rmtree(os.path.join(self.chunk_root, m["name"]),
                          ignore_errors=True)
        return st

    def _sweep(self, st: dict) -> None:
        """Collect crash leftovers: folded tail dirs the cleanup never
        reached, and chunk dirs the marker no longer (or never) references
        — both invisible to the read path by construction, so deleting
        them is pure GC. Runs under the fence like every mutation."""
        doomed_tail = [b for b in self._tail_batch_ids()
                       if b <= st["folded_through"]]
        live = {c["name"] for c in st["chunks"]}
        doomed_chunks = []
        if os.path.isdir(self.chunk_root):
            doomed_chunks = [n for n in os.listdir(self.chunk_root)
                             if n not in live]
        if not doomed_tail and not doomed_chunks:
            return
        if self.fence_check is not None:
            self.fence_check()
        for b in doomed_tail:
            shutil.rmtree(os.path.join(self.tail_dir, f"batch={b}"),
                          ignore_errors=True)
        for n in doomed_chunks:
            shutil.rmtree(os.path.join(self.chunk_root, n), ignore_errors=True)

    def file_count(self, spark: SparkSession) -> int:
        """Parquet files reachable by a current-state read (the bounded-
        layout assertion material for tests and SCALE.md)."""
        return len(self.read(spark).inputFiles())
