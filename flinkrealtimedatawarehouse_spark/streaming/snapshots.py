"""Shared durability machinery for foreachBatch snapshot sinks.

Every stateful sink in this package maintains a versioned parquet
snapshot; this base class makes the durability contract UNIFORM instead
of five hand-rolled copies drifting apart:

- **write-then-commit**: the new snapshot is written BEFORE the marker
  (version pointer + replay watermark + sink metadata) is atomically
  replaced — a crash in between leaves the previous consistent state and
  the retry overwrites the orphaned directory;
- **restart recovery**: a fresh sink object on the same ``base_dir``
  resumes from the committed marker instead of silently re-initializing;
- **at-least-once replay guard**: foreachBatch redelivers a batch whose
  checkpoint commit didn't land; ``seen(batch_id)`` makes the redelivery
  a no-op so non-idempotent folds (additive counts, top-k unions) never
  double-apply.

Same contract Delta's transaction log gives MERGE, emulated on parquet
(`operators/merge.py` is the MERGE itself; this is the log).

Cost model note: ``commit_snapshot`` writes the FULL table per commit —
right for sinks whose state IS a complete small table rewritten anyway
(per-key stats, SCD2 history, the wide gold aggregate, top-k unions),
where a version is the natural unit and reads want one directory. Sinks
whose state GROWS with the stream (band keys, window hashes, cluster
labels) instead use ``partstore.PartitionedSnapshotStore`` — same
marker/fence/replay contract, O(|delta|) commits via hash-partitioned
runs + merge-on-read + size-tiered folds.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


def write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` via a temp file and ``os.replace``,
    so a reader never sees a torn file."""
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)  # atomic on POSIX


class VersionedSnapshotSink:
    """Base: versioned snapshots under ``base_dir`` with a committed
    marker carrying (version, last_bid, lineage, meta).

    CAVEAT — the replay guard is only sound within ONE streaming-query
    lineage: foreachBatch batch ids restart at 0 under a fresh
    checkpoint, so a sink dir reused across checkpoints would silently
    drop the new query's first ``last_bid+1`` batches. Manage the sink
    dir and the checkpoint as one unit (create/destroy together — the
    harness's per-run scratch dirs do), or pass ``lineage`` (e.g. the
    checkpoint path) so a mismatched reuse fails loudly instead.

    SINGLE-WRITER ENFORCEMENT (Delta's writer fencing, emulated):
    constructing a sink CLAIMS the dir with a fresh writer token; the
    newest claimant owns it (a new object on the same dir IS the
    restarted writer — the recovery contract above). Every commit first
    re-reads the claim, so a writer that lost ownership raises
    ``RuntimeError`` BEFORE touching data instead of silently
    interleaving snapshot versions with the new owner. The claim file
    itself is last-write-wins (atomic rename) — on a non-POSIX or
    eventually-consistent store, swap this class for real Delta.
    """

    def __init__(self, base_dir: str, lineage: str | None = None,
                 read_only: bool = False,
                 retain_versions: int | None = None):
        # retain_versions: auto-vacuum policy — after every commit, keep
        # only the newest N snapshot versions (the as-of horizon becomes a
        # sliding window of N batches). None = retain everything: right
        # for the tiny stats sinks (one row / |cells x dim| rows per
        # version), required for unlimited time travel; a long-running
        # stream folding a LARGE table (the wide gold sink) must bound
        # storage at O(N x table) instead of O(commits x table).
        self.base_dir = base_dir
        self.version = -1
        self.last_bid = -1
        self.min_version = 0  # oldest retained snapshot (raised by vacuum)
        self.retain_versions = retain_versions
        self.lineage = lineage
        self.meta: dict = {}
        self.read_only = read_only
        self._writer_id = uuid.uuid4().hex
        marker = self._marker_path()
        if os.path.exists(marker):  # restart: resume committed state
            with open(marker) as f:
                state = json.load(f)
            committed = state.get("lineage")
            if lineage is not None and committed is not None and committed != lineage:
                raise ValueError(
                    f"snapshot dir {self.base_dir!r} belongs to lineage "
                    f"{committed!r}, not {lineage!r}: batch-id replay guards "
                    "do not transfer across streaming checkpoints — use a "
                    "fresh sink dir for a new query"
                )
            self.version = state["version"]
            self.last_bid = state["last_bid"]
            self.min_version = state.get("min_version", 0)
            self.meta = state.get("meta", {})
        # a READ handle must not claim the dir: claiming fences the live
        # writer (single-writer contract), and serving-side readers — the
        # streamed-index searches, the wide-gold live views — would
        # otherwise kill the upkeep stream they read from. Readers see
        # the last committed marker and never commit.
        if not read_only:
            self._claim()

    def _path(self, v: int) -> str:
        return os.path.join(self.base_dir, f"v{v}")

    def _marker_path(self) -> str:
        return os.path.join(self.base_dir, "_committed.json")

    def _writer_path(self) -> str:
        return os.path.join(self.base_dir, "_writer.json")

    def _claim(self) -> None:
        """Take ownership of the sink dir (fencing token: newest wins).
        The new owner also sweeps stage-dir residue: a hard-crashed
        writer's partially written ``v{n}.stage-*`` can never be adopted
        (its writer id is gone) and no other path deletes it."""
        import shutil

        os.makedirs(self.base_dir, exist_ok=True)
        tmp = f"{self._writer_path()}.{self._writer_id}.tmp"
        with open(tmp, "w") as f:
            json.dump({"writer_id": self._writer_id, "pid": os.getpid()}, f)
        os.replace(tmp, self._writer_path())
        for name in os.listdir(self.base_dir):
            if ".stage-" in name:
                shutil.rmtree(os.path.join(self.base_dir, name), ignore_errors=True)

    def _check_fence(self) -> None:
        """Raise if another writer claimed this dir after us."""
        try:
            with open(self._writer_path()) as f:
                owner = json.load(f).get("writer_id")
        except (FileNotFoundError, json.JSONDecodeError):
            owner = None
        if owner != self._writer_id:
            raise RuntimeError(
                f"snapshot dir {self.base_dir!r} was claimed by another "
                f"writer: this sink instance is fenced and must stop "
                "(single-writer contract; exactly one live sink per dir)"
            )

    def _commit(self) -> None:
        self._check_fence()
        os.makedirs(self.base_dir, exist_ok=True)
        write_json_atomic(
            self._marker_path(),
            {
                "version": self.version,
                "last_bid": self.last_bid,
                "min_version": self.min_version,
                "lineage": self.lineage,
                "meta": self.meta,
            },
        )

    def _write_snapshot(self, df: DataFrame, v: int) -> None:
        """Stage-then-rename snapshot write, fenced on both sides.

        A plain overwrite of the final dir is check-then-write: a writer
        fenced AFTER the check could clobber the new owner's committed
        data. Instead the data lands in a writer-private staging dir, the
        fence is re-checked AFTER the (slow) write, and only then does an
        atomic rename publish it. A rename onto a non-empty existing dir
        fails on POSIX, so a fenced straggler can never replace data the
        new owner already published; an orphaned dir from a crashed or
        fenced writer is removed by the CURRENT owner only (it re-checked
        the fence first, and an orphan above the committed version is
        unreachable by readers by construction)."""
        import shutil

        final = self._path(v)
        stage = f"{final}.stage-{self._writer_id}"
        df.write.mode("overwrite").parquet(stage)
        try:
            self._check_fence()  # post-write: the slow part is behind us
            try:
                os.rename(stage, final)
            except OSError:
                # final exists. Deleting it FIRST would defeat the rename
                # protection (a fenced straggler could rmtree the new
                # owner's data), so re-verify ownership NOW: any writer
                # that published `final` must have claimed first, which
                # would fence us — if we are still the owner, `final` is
                # an orphan from a crashed/fenced writer and safe to
                # replace. (Residual window: a claimant arriving between
                # this check and the rename — no slow I/O in between; the
                # class docstring already yields true multi-writer to
                # real Delta.)
                self._check_fence()
                shutil.rmtree(final)
                os.rename(stage, final)
        except Exception:
            shutil.rmtree(stage, ignore_errors=True)
            raise

    def snapshot_init(self, empty: DataFrame) -> None:
        """Write the v0 snapshot — unless a committed marker was recovered
        in __init__, in which case the existing state stands (a restarted
        job must not clobber its own history)."""
        if self.version >= 0:
            return
        self._check_fence()  # before the data write, same as commit_snapshot
        self.version = 0
        self._write_snapshot(empty, 0)
        self._commit()

    def current(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._path(self.version))

    def versions(self) -> list[int]:
        """Committed snapshot versions available for time travel (every
        retained version up to the committed marker; orphaned post-crash
        dirs above it and vacuumed dirs below ``min_version`` are
        excluded by construction)."""
        if self.version < 0:
            return []
        return list(range(self.min_version, self.version + 1))

    def read_version(self, spark: SparkSession, version: int) -> DataFrame:
        """Time travel: the table as of snapshot ``version`` — the parquet
        container's stand-in for Delta's ``VERSION AS OF`` (each micro-batch
        commit created one version, so this is also *as of batch N*)."""
        if version < self.min_version or version > self.version:
            raise ValueError(
                f"version {version} not available (retained: "
                f"{self.min_version}..{self.version}; older versions may "
                "have been vacuumed)"
            )
        return spark.read.parquet(self._path(version))

    def vacuum(self, keep_last: int) -> list[int]:
        """Delta ``VACUUM`` stand-in: drop all but the newest
        ``keep_last`` snapshot versions, bounding the sink dir's storage
        at O(keep_last x table size) instead of O(commits). The marker's
        ``min_version`` is raised and committed BEFORE the data dirs are
        deleted — a crash mid-vacuum leaves unreferenced dirs (re-vacuum
        collects them), never a referenced-but-deleted version. Fenced:
        only the current owner may delete; the fence is re-checked inside
        ``_commit`` and again immediately before the delete loop, leaving
        only the same check-to-act residual window ``_write_snapshot``
        documents (closable only with OS-level advisory locks). The sweep
        itself is safe even if a new owner claims mid-loop: it deletes
        only versions below the already-committed ``min_version``, which
        the new owner's marker read also excludes. Returns the removed
        versions.
        """
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if self.read_only:
            raise RuntimeError("read-only snapshot handle cannot vacuum")
        self._check_fence()
        new_min = max(self.min_version, self.version - keep_last + 1)
        if new_min != self.min_version:
            self.min_version = new_min
            self._commit()  # re-checks fence; point of no return: marker
            # stops referencing the swept versions
        # sweep EVERYTHING below the (possibly pre-advanced) horizon, not
        # just [old_min, new_min): a crash between a prior vacuum's marker
        # commit and its deletions leaves unreferenced dirs that a
        # range-based sweep would never revisit
        self._check_fence()  # last look before the destructive loop
        removed = []
        for v in range(0, self.min_version):
            p = self._path(v)
            if os.path.exists(p):
                shutil.rmtree(p)
                removed.append(v)
        return removed

    def seen(self, batch_id: int) -> bool:
        """True iff this batch id was already folded in (replay)."""
        return batch_id <= self.last_bid

    def commit_snapshot(self, df: DataFrame, batch_id: int, **meta) -> None:
        """Write ``df`` as the next snapshot, then commit the marker with
        the batch id and any sink metadata (crash between the two leaves
        the previous consistent state)."""
        if self.read_only:
            raise RuntimeError("read-only snapshot handle cannot commit")
        self._check_fence()  # cheap early exit for already-fenced writers
        next_v = self.version + 1
        self._write_snapshot(df, next_v)
        self.version = next_v
        self.last_bid = batch_id
        self.meta.update(meta)
        self._commit()
        if self.retain_versions is not None:
            # bounded-retention policy: vacuum is a no-op (no second
            # marker write) until the window actually slides
            self.vacuum(self.retain_versions)
