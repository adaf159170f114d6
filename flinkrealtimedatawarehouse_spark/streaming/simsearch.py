"""Streaming incremental top-k similarity search (EDBT'20 incremental
top-k framing, re-expressed as a foreachBatch merge).

A fixed probe set watches a growing vector corpus: each micro-batch of
new vectors can only IMPROVE a probe's top-k, never invalidate an old
neighbor — top-k under a static scoring function is monotone. So the
incremental state is exactly the current answer (k rows per probe), and
the per-batch work is: score the batch against the probes, take the
batch-local top-k, merge with the held top-k, keep k. The final state
equals the batch top-k over the full corpus REGARDLESS of how the stream
was split — which is what the driver gate checks (the stream branch of
``dp6_cosine_topk`` hashes against the same DuckDB oracle as the batch
paths).

Scale: state is O(probes × k) — independent of corpus size; per batch
the corpus side is never replicated (probe side broadcasts inside
``cosine_topk``), and the merge re-ranks O(probes × 2k) rows.
Determinism: cosine rounds at 6 dp and ties break on neighbor_id, same
as every batch path.

The module also keeps the persisted IVF index streamed
(``IvfIndexSink``, ``streamed_ivf_topk``): corpus rows append per batch,
and the per-cell centroid sums are the index totals in its one commit
record (``_committed.json`` at the index root, a
``compaction.IndexCommit``), written by the micro-batch writer the
postings index shares (``compaction.StreamedIndexSink``). See the
section comment above ``IvfIndexSink``.
"""

from __future__ import annotations

import os
from itertools import zip_longest

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkrealtimedatawarehouse_spark.datapipeline import similarity
from flinkrealtimedatawarehouse_spark.streaming.compaction import (
    IndexCommit,
    StreamedIndexSink,
    TieredAppendStore,
)
from flinkrealtimedatawarehouse_spark.streaming.snapshots import VersionedSnapshotSink


class IncrementalTopKSink(VersionedSnapshotSink):
    """foreachBatch sink holding the running top-k per probe.

    Durability/replay from VersionedSnapshotSink. Two replay defenses: the
    batch-id guard skips redelivered batches outright, and the merge
    dedups on (probe_id, neighbor_id) — a duplicate neighbor row would
    occupy ranks r AND r+1 and push the true k-th neighbor out (top-k is
    over a SET of neighbors; the duplicate carries identical values, so
    which copy survives is immaterial).
    """

    def __init__(self, base_dir: str, probes: DataFrame, id_col: str,
                 vec_col: str, k: int = 5, lineage: str | None = None):
        super().__init__(base_dir, lineage)
        self.probes = probes
        self.id_col = id_col
        self.vec_col = vec_col
        self.k = k

    def init(self, spark: SparkSession) -> None:
        self.snapshot_init(spark.createDataFrame(
            [], "probe_id long, neighbor_id long, cosine double, rank int"
        ))

    def write_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self.seen(batch_id):  # at-least-once redelivery: no-op
            return
        spark = batch.sparkSession
        batch_topk = similarity.cosine_topk(
            batch, self.probes, self.id_col, self.vec_col, k=self.k
        )
        w = Window.partitionBy("probe_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        merged = (
            self.current(spark)
            .unionByName(batch_topk)
            .dropDuplicates(["probe_id", "neighbor_id"])
            .withColumn("new_rank", F.row_number().over(w))
            .filter(F.col("new_rank") <= self.k)
            .select("probe_id", "neighbor_id", "cosine",
                    F.col("new_rank").alias("rank"))
        )
        self.commit_snapshot(merged, batch_id)


# --- streaming upkeep for the persisted IVF index --------------------------
#
# The persisted index (similarity.build_ivf_index) gets the same
# continuous-maintenance treatment the BM25 postings got (searchindex.py),
# through the same writer (compaction.StreamedIndexSink): vectors arrive
# in micro-batches, the index stays query-able, and the maintained state
# equals a batch rebuild EXACTLY — not approximately — because the shared
# centroid definition (_cell_centroids) is an element-wise INTEGER sum of
# quantized components: integer sums are associative, so adding per-batch
# partial sums reproduces the batch sum bit-for-bit under any stream split.
#
# What's appended vs folded:
# - corpus rows (neighbor_id, cell, qn): append-only — each batch writes
#   its own corpus/batch=<id>/cell=<k>/ partition, replay-safe by
#   overwriting only its own directory. Search prunes by cell exactly as
#   against the batch-built layout (the extra batch partition column
#   rides along and prunes nothing away).
# - per-cell centroid sums: each batch collects _cell_centroids of its
#   own persisted corpus rows (at most cells x dim integers) and adds
#   them element-wise, in exact Python integers, to the previous
#   version's. The index marker (_committed.json at the index root, the
#   same commit record as the postings index) holds them per version
#   beside the layout pin (quant, meta_cols) and the corpus's compaction
#   state. Index directories written before that (with a centsums/
#   directory, or a layout.json and a corpus_compaction.json) do not
#   resume; rebuild them.
#
# Scale: per batch = quantize + one partitioned write + one cells x dim
# aggregate collected to the driver — dimension-bounded, never
# corpus-bounded; the marker grows cells x dim integers per retained
# version (IndexCommit.vacuum trims it). Centroid drift is the documented
# operational caveat of any frozen coarse quantizer: here cells come from
# the assignment column, and the centroids themselves keep moving with
# the data because the sums fold continuously.


def _add_cells(prev: list, batch: list) -> list:
    """Element-wise per-cell sum of two ``[[cell, cvec], ...]`` tables;
    a cell or position one side lacks (or holds null: SQL sum semantics)
    takes the other side's value."""
    out = dict(prev)
    for cell, cvec in batch:
        out[cell] = [b if a is None else a if b is None else a + b
                     for a, b in zip_longest(out.get(cell, []), cvec)]
    return [[cell, cvec] for cell, cvec in out.items()]


def _cells_frame(spark: SparkSession, cells: list) -> DataFrame:
    """``(cell, cvec)`` in _cell_centroids' shape."""
    if not cells:
        return spark.createDataFrame([], "cell bigint, cvec array<bigint>")
    return spark.createDataFrame([tuple(c) for c in cells], ["cell", "cvec"])


class IvfIndexSink(StreamedIndexSink):
    """foreachBatch writer maintaining the persisted IVF index
    incrementally (``StreamedIndexSink.write_batch``). ``streamed_ivf_topk``
    answers searches from it, identically to ``ivf_topk`` over the full
    corpus (gate- and parity-tested). Corpus partitions run the same
    tiered compaction policy as the postings index (``compaction``
    module, on by default; ``compact_every=None`` disables): recent
    batches stay as directories, older ones fold into cell-partitioned
    chunks with ``batch`` demoted to a sorted data column, size-tiered
    major merges bound chunk count."""

    def __init__(self, out_dir: str, id_col: str, vec_col: str,
                 label_col: str, quant: int | None = None,
                 meta_cols: list[str] | None = None,
                 read_only: bool = False,
                 compact_every: int | None = 16, keep_recent: int = 4,
                 max_chunks: int = 8):
        self.out_dir = out_dir
        self.id_col, self.vec_col, self.label_col = id_col, vec_col, label_col
        self.quant = similarity.QUANT if quant is None else quant
        self.meta_cols = list(meta_cols or [])
        if os.path.isdir(os.path.join(out_dir, "centsums")):
            # its commit record lives under centsums/, not at the root: a
            # writer here would start over beside the old corpus batches
            raise ValueError(f"IVF index at {out_dir} predates the root "
                             "commit record (it holds centsums/): rebuild it")
        # read_only = a search-side handle over an index another process
        # maintains: sees committed versions, never claims/fences the
        # live writer, and write_batch on it refuses to commit
        stats = IndexCommit(out_dir, _add_cells, _cells_frame, read_only=read_only)
        # quant and meta_cols are part of the on-disk layout (same rule as
        # the postings index): a handle with a different quant would
        # quantize probes on a different grid than the stored corpus and
        # centroid sums, silently shifting near-tie rankings
        stats.pin_layout(
            {"quant": self.quant, "meta_cols": self.meta_cols},
            "a mismatched quant or meta_cols set silently degrades results",
        )
        # as-of reads filter batch, then cell-pruned scans re-rank: sort
        # chunk rows by batch so its row-group envelopes stay tight
        super().__init__(stats, TieredAppendStore(
            os.path.join(out_dir, "corpus"), "cell", stats,
            sort_cols=["batch"],
            compact_every=compact_every or 16, keep_recent=keep_recent,
            max_chunks=max_chunks,
        ), compact_every)

    def _rows(self, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
        # meta_cols ride into the index rows for filtered vector search,
        # same contract as build_ivf_index; persisted so every vector is
        # quantized once for the corpus write and the centroid sums
        corpus = batch.select(
            F.col(self.id_col).alias("neighbor_id"),
            F.col(self.label_col).alias("cell"),
            similarity.quantized(F.col(self.vec_col), self.quant).alias("qn"),
            *[F.col(c) for c in self.meta_cols],
        )
        return corpus, corpus

    def _totals(self, corpus: DataFrame) -> list:
        cells = similarity._cell_centroids(corpus).collect()
        return [[r.cell, list(r.cvec)] for r in cells]

    def centroids(self, spark: SparkSession,
                  as_of_batch: int | None = None) -> DataFrame:
        """The maintained centroid table, in _cell_centroids' exact shape
        (cell, cvec) — integer sums, bit-equal to a batch rebuild.
        ``as_of_batch``: the table as it stood after that stream batch
        committed (one marker version per applied batch)."""
        cells, _ = self.stats.read_commit(as_of_batch)
        return _cells_frame(spark, cells)


def stage_ivf_input(emb: DataFrame, id_col: str, vec_col: str,
                    label_col: str, n_batches: int = 4,
                    meta_cols: list[str] | None = None,
                    tag: str = "ivfidx") -> str:
    """Pre-stage the upkeep stream's file-source input so timed callers
    (bench serving tier) can exclude the one-off staging write from the
    measured streamed-build cost; pass the result as ``staged_dir``."""
    from flinkrealtimedatawarehouse_spark.streaming import runner

    return runner.stage_stream_dir(
        emb.select(id_col, vec_col, label_col, *(meta_cols or [])),
        id_col, n_batches, tag,
    )


def stream_ivf_upkeep(emb: DataFrame, id_col: str, vec_col: str,
                      label_col: str, out_dir: str, n_batches: int = 4,
                      quant: int | None = None,
                      meta_cols: list[str] | None = None,
                      tag: str = "ivfidx",
                      staged_dir: str | None = None) -> IvfIndexSink:
    """Run ``emb`` through the IVF index upkeep as a checkpointed stream
    (n_batches micro-batches) and return the sink. ``staged_dir``: reuse
    a ``stage_ivf_input`` directory instead of staging here."""
    from flinkrealtimedatawarehouse_spark.streaming import runner

    src = emb.select(id_col, vec_col, label_col, *(meta_cols or []))
    in_dir = staged_dir or runner.stage_stream_dir(src, id_col, n_batches, tag)
    sdf = runner.parquet_stream(emb.sparkSession, in_dir, src.schema)
    sink = IvfIndexSink(out_dir, id_col, vec_col, label_col, quant, meta_cols)
    runner.run_foreach_batch(sdf, sink.write_batch, tag)
    return sink


def streamed_ivf_topk(spark: SparkSession, sink: IvfIndexSink,
                      probes: DataFrame, k: int = 5,
                      n_probe: int = 2, corpus_filter=None,
                      as_of_batch: int | None = None) -> DataFrame:
    """Search the stream-maintained IVF index: rank cells per probe
    against the folded centroids, then scan ONLY the probed cells'
    partition directories for the exact re-rank — the same plan shape
    (and the same shared helpers) as ``ivf_index_topk`` on a batch-built
    index, including ``corpus_filter`` (an optional Column predicate
    over the index's corpus columns — filtered vector search: partition
    pruning first, then the row filter pushed into the pruned scan, and
    the top-k ranks only qualifying neighbors). The probed-cell list
    collects to the driver, bounded by |probes| x n_probe (the pruning
    predicate, not data movement).

    One commit per search: a read handle re-reads the marker once, and
    the centroids and the corpus horizon (its ``last_bid``) both come
    from that load, so cells are never ranked by older centroids than
    the corpus they select from."""
    probe_q = probes.select(
        F.col(sink.id_col).alias("probe_id"),
        similarity.quantized(F.col(sink.vec_col), sink.quant).alias("qp"),
    )
    cent, horizon = sink.stats.read_commit(as_of_batch)
    probe_cells = similarity._rank_probe_cells(
        probe_q, _cells_frame(spark, cent), n_probe
    )
    cells = [r.probe_cell
             for r in probe_cells.select("probe_cell").distinct().collect()]
    # tiered read: chunk + tail union after auto-compaction, a plain
    # directory read before it; as-of (ids sequential from 0 == snapshot
    # version) prunes chunks by range and filters the batch column.
    # part_vals constructs the scan from the probed cells' own partition
    # directories (round 15, guide §6) — identical rows to the old
    # read().filter(isin), without listing every unprobed cell dir
    corpus = sink.store.read(spark, horizon, part_vals=cells)
    if corpus_filter is not None:
        corpus = corpus.filter(corpus_filter)
    return similarity._cell_rerank(corpus, probe_cells, k)
