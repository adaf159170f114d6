"""Streaming upkeep for the dp25 inverted index (BM25 full-text serving).

Reference parity: the reference never rebuilds a serving table from
scratch — every DWS/ADS surface is maintained continuously and queried
in place (rt/app/dws/KeywordStatsApp.java:79-108 folds 10 s keyword
tumbles to ClickHouse; pub/mapper/KeywordStatsMapper.java:15-20 serves
straight from the maintained table). ``textstats.build_postings`` gave
the search index the batch treatment; this module gives it the
streaming one: documents arrive in micro-batches and the persisted
index stays query-able and EXACTLY equal to a batch rebuild after every
fold (gate- and test-asserted).

Incremental design — what makes this cheap per batch:

- **Postings are append-only.** A new document only ADDS (term, doc,
  tf, dl) rows; existing rows never change. Each micro-batch writes its
  own ``postings/batch=<id>/bucket=<hash>/`` parquet partition —
  replay-safe because a re-delivered batch overwrites its own directory
  with identical bytes, and nothing else.
- **df is NOT stored.** ``build_postings`` denormalizes df onto every
  posting row, which is the right call for a write-once index but would
  turn incremental upkeep into a rewrite of every matching row per
  batch (df(term) changes corpus-wide when one new doc mentions the
  term). Instead the search side recomputes df over the rows it already
  read: bucket + term pruning keeps EVERY posting of a matching term,
  so a per-term window count over the pruned scan IS the corpus df —
  the same identity ``bm25_search`` uses. Cost is O(matching rows),
  paid only at query time, only for query terms.
- **Corpus scalars are two integers in the commit record.** Each
  batch's (n_docs, sum_dl) comes from one aggregate over its persisted
  tokens and is added to the previous totals in the index's marker
  (``_committed.json`` at the index root, a ``compaction.IndexCommit``
  with the ``snapshots.VersionedSnapshotSink`` replay guard and writer
  fence), one entry per version for as-of search; avgdl = sum_dl /
  n_docs. Integer sums, so the streamed avgdl is bit-identical to the
  batch ``avg(size(toks))`` regardless of how the stream was split.

Scale: per batch the work is tokenize + one partitioned parquet write
of |batch| rows + one two-number aggregate — no read-modify-write of the
existing index, no vocabulary-sized merge. The index directory would
grow one partition per batch forever; since round 11 the sink runs the
``compaction.TieredAppendStore`` policy BY DEFAULT (an LSM tree on raw
parquet: the tail of recent ``batch=`` dirs stays bounded, older
batches fold into bucket-partitioned chunks with ``batch`` as a sorted
data column, chunks merge size-tiered). The policy encodes the round-10
measurement: at 32 batches x 64 buckets the batch-partitioned layout
cost ~4.5 s/query in 1,922-leaf directory listing, the bucket-only
layout ~1 s/query with the as-of ROW filter beating directory pruning
4x — at high batch counts the metadata cost IS the read cost, so the
compacted layout demotes ``batch`` to data and keeps as-of correct via
chunk-range pruning + row-group min/max. Both manual layouts remain
answer-identical and test-pinned (tests/test_datapipeline.py::
test_streamed_postings_compaction_preserves_search); automatic
compaction is pinned across >= 64 batches in
tests/test_streaming.py::test_auto_compaction_bounds_postings_layout.

One commit record: the marker holds the bucket modulus, the compaction
state and the totals, so the index directory is the marker, the writer
claim, ``postings/`` and ``postings_chunks/``. The IVF index
(``simsearch.IvfIndexSink``) keeps the same record and shares the
writer (``compaction.StreamedIndexSink``); this module supplies only
the postings rows and the two-integer totals. Index directories written
before the marker carried all three (a ``layout.json``, a
``postings_compaction.json`` and ``stats/`` parquet snapshots) do not
resume; rebuild them.

Crash contract (same as the other sinks): postings land BEFORE the
marker commit, so a crash between the two replays the batch on restart —
the postings overwrite is a no-op and the totals apply once. A search
reads one commit: it bounds its postings read at the marker's
``last_bid``, so a batch whose postings landed but whose commit did not
stays invisible (pinned in tests/test_crash_recovery.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flinkrealtimedatawarehouse_spark.datapipeline.hashing import spark_tokens
from flinkrealtimedatawarehouse_spark.datapipeline.textstats import (
    POSTINGS_BUCKETS,
    _bm25_rank,
    _bm25_rank_many,
    _term_buckets,
    query_terms,
)
from flinkrealtimedatawarehouse_spark.streaming.compaction import (
    IndexCommit,
    StreamedIndexSink,
    TieredAppendStore,
)


def _add_totals(prev: list[int], batch: list[int]) -> list[int]:
    return [a + b for a, b in zip(prev, batch)]


def _totals_frame(spark: SparkSession, totals: list[int]) -> DataFrame:
    """One-row ``(n_docs, sum_dl)`` frame."""
    return spark.createDataFrame(
        [tuple(map(float, totals))], "n_docs double, sum_dl double"
    )


def _stats_sink(out_dir: str, read_only: bool = False) -> IndexCommit:
    """The index's commit record; ``meta["stats"]`` holds ``[n_docs,
    sum_dl]`` per retained version."""
    return IndexCommit(out_dir, _add_totals, _totals_frame, read_only=read_only)


def _postings_store(out_dir: str, owner: IndexCommit, **policy) -> TieredAppendStore:
    # sort chunks by term first (every query filters terms: dictionary +
    # min/max prune within the bucket), batch second (as-of row filter)
    return TieredAppendStore(
        os.path.join(out_dir, "postings"), "bucket", owner,
        sort_cols=["term", "batch"], **policy,
    )


class PostingsIndexSink(StreamedIndexSink):
    """foreachBatch writer that maintains the streamed inverted index
    (``StreamedIndexSink.write_batch``): per batch, tokenize +
    tf-aggregate into the batch's own bucket-partitioned postings
    directory, and commit the batch's (n_docs, sum_dl), added to the
    previous totals, in the index marker (``stats``)."""

    def __init__(self, out_dir: str, id_col: str, text_col: str,
                 n_buckets: int = POSTINGS_BUCKETS,
                 compact_every: int | None = 16, keep_recent: int = 4,
                 max_chunks: int = 8):
        self.out_dir = out_dir
        self.id_col, self.text_col = id_col, text_col
        self.n_buckets = n_buckets
        stats = _stats_sink(out_dir)
        # the bucket modulus is part of the on-disk index (a mismatched
        # search-time modulus silently prunes REAL postings — same rule
        # as build_postings' stats row)
        stats.pin_layout(
            {"n_buckets": n_buckets},
            "postings bucketed under two moduli would be silently pruned "
            "away at search time",
        )
        super().__init__(stats, _postings_store(
            out_dir, stats,
            compact_every=compact_every or 16, keep_recent=keep_recent,
            max_chunks=max_chunks,
        ), compact_every)

    def _rows(self, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
        # the persisted lineage is the tokens: without it every document
        # would be regex-tokenized twice per micro-batch. (Round 15
        # measured a one-pass variant, the totals observed on the
        # postings write, slower: its parquet stats fold then ran a
        # LocalRelation plan per batch. The totals now commit as two
        # integers in the marker, with no parquet write and no such
        # plan; the aggregate over the cached toks is the whole cost.)
        toks = batch.select(
            F.col(self.id_col), spark_tokens(F.col(self.text_col)).alias("toks")
        ).filter(F.size("toks") > 0)
        tf = (
            toks.select(
                F.col(self.id_col), F.size("toks").alias("dl"),
                F.explode("toks").alias("term"),
            )
            .groupBy(self.id_col, "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("term"), F.lit(self.n_buckets)).cast("int"),
            )
        )
        return toks, tf

    def _totals(self, toks: DataFrame) -> list[int]:
        n_docs, sum_dl = toks.agg(F.count(F.lit(1)), F.sum(F.size("toks"))).first()
        return [n_docs, sum_dl or 0]


def stage_postings_input(docs: DataFrame, id_col: str, text_col: str,
                         n_batches: int = 4, tag: str = "postidx") -> str:
    """Pre-stage the upkeep stream's file-source input (the parquet write
    ``stage_stream_dir`` does) so callers that TIME the upkeep — the
    bench's serving tier — can exclude this one-off staging write from
    the measured streamed-build cost. Returns the directory to pass as
    ``stream_postings_upkeep(..., staged_dir=...)``."""
    from flinkrealtimedatawarehouse_spark.streaming import runner

    return runner.stage_stream_dir(
        docs.select(id_col, text_col), id_col, n_batches, tag
    )


def stream_postings_upkeep(docs: DataFrame, id_col: str, text_col: str,
                           out_dir: str, n_batches: int = 4,
                           n_buckets: int = POSTINGS_BUCKETS,
                           tag: str = "postidx",
                           staged_dir: str | None = None) -> PostingsIndexSink:
    """Run ``docs`` through the index upkeep as a checkpointed stream
    (file source standing in for the Kafka topic, n_batches micro-
    batches) and return the sink. The resulting index answers
    ``streamed_postings_search`` EXACTLY like ``bm25_search`` over the
    same corpus — regardless of the batch split. ``staged_dir``: reuse a
    ``stage_postings_input`` directory instead of staging here."""
    from flinkrealtimedatawarehouse_spark.streaming import runner

    src = docs.select(id_col, text_col)
    in_dir = staged_dir or runner.stage_stream_dir(src, id_col, n_batches, tag)
    sdf = runner.parquet_stream(docs.sparkSession, in_dir, src.schema)
    sink = PostingsIndexSink(out_dir, id_col, text_col, n_buckets)
    runner.run_foreach_batch(sdf, sink.write_batch, tag)
    return sink


def streamed_postings_search(spark: SparkSession, out_dir: str, id_col: str,
                             query: str, k1: float = 1.2, b: float = 0.75,
                             k: int = 10,
                             as_of_batch: int | None = None) -> DataFrame:
    """Search the stream-maintained index: bucket-pruned, term-filtered
    postings scan (reads 1/n_buckets of the index per term — the batch
    partitions under each bucket are pruned directories too), per-term
    window count = corpus df, corpus scalars from the index marker, then
    the shared ``_bm25_rank`` tail — one definition of the formula across
    bm25_search / postings_search / this.

    ``as_of_batch`` = point-in-time search: answer as the index stood
    after that stream batch committed — totals of the matching marker
    version (one commit per applied batch, ids sequential from 0, so
    version == batch id) and postings pruned to ``batch <= as_of_batch``.
    Versions the marker has vacuumed raise, per ``read_version``'s own
    contract."""
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no tokens")
    postings, stats = _streamed_index_rows(spark, out_dir, terms, as_of_batch)
    return _bm25_rank(postings, stats, id_col, k1, b, k)


def _streamed_index_rows(spark: SparkSession, out_dir: str, terms: list[str],
                         as_of_batch: int | None):
    """Shared read path for single- and multi-query streamed search:
    (pruned+filtered postings rows with df, 1-row (n_docs, avgdl) frame).
    df is NOT stored in the streamed layout: it is window-counted over
    these rows. The totals, the bucket modulus and the postings horizon
    come from one marker load, so the search reads one commit: postings
    of a batch whose commit has not landed are outside the horizon.
    Reads go through the tiered store: chunk + tail union once
    auto-compaction has run, a plain directory read (identical to the
    pre-compaction plan) before it."""
    marker = _stats_sink(out_dir, read_only=True)
    (n_docs, sum_dl), horizon = marker.read_commit(as_of_batch)
    stats = spark.createDataFrame(
        [(float(n_docs), sum_dl / n_docs if n_docs else None)],
        "n_docs double, avgdl double",
    )
    buckets = sorted(set(_term_buckets(spark, terms, marker.meta["n_buckets"]).values()))
    # part_vals: the scan is constructed from the term buckets' own
    # directories (round 15, guide §6) instead of listing the whole
    # batch= / bucket= tree and pruning after — identical rows, the
    # per-read listing premium removed
    rows = (
        _postings_store(out_dir, marker).read(spark, horizon, part_vals=buckets)
        .filter(F.col("term").isin(terms))
    )
    df = F.count(F.lit(1)).over(Window.partitionBy("term"))
    return rows.withColumn("df", df).drop("batch", "bucket"), stats


def streamed_postings_search_many(spark: SparkSession, out_dir: str,
                                  id_col: str,
                                  queries: list[tuple[int, str]],
                                  k1: float = 1.2, b: float = 0.75,
                                  k: int = 10,
                                  as_of_batch: int | None = None) -> DataFrame:
    """Batched search over the STREAMED index: one pruned read covering
    the union of the queries' term buckets, per-term window count = df
    (the same identity as the single-query path — pruning keeps every
    posting of a matching term, and the count is query-independent),
    then the shared ``_bm25_rank_many`` fan-out tail. Per query identical
    to ``streamed_postings_search`` (parity-pinned); ``as_of_batch``
    time travel composes the same way."""
    from flinkrealtimedatawarehouse_spark.datapipeline.textstats import _query_term_rows

    qrows = _query_term_rows(queries)
    all_terms = sorted({t for _, t in qrows})
    qdf = spark.createDataFrame(qrows, "query_id long, term string")
    postings, stats = _streamed_index_rows(spark, out_dir, all_terms, as_of_batch)
    return _bm25_rank_many(postings, qdf, stats, id_col, k1, b, k)
