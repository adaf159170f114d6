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
- **Corpus scalars fold additively.** (n_docs, sum_dl) go through the
  K4 ``AdditiveGoldSink`` (replay-safe batch-id marker, versioned
  snapshots); avgdl = sum_dl / n_docs. Both are integer-valued sums, so
  the double accumulation is exact below 2^53 and the streamed avgdl is
  bit-identical to the batch ``avg(size(toks))`` regardless of how the
  stream was split.

Scale: per batch the work is tokenize + one partial agg + one
partitioned parquet write of |batch| rows — no read-modify-write of the
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

Crash contract (same as the other sinks): postings land BEFORE the
stats marker, so a crash between the two replays the batch on restart —
the postings overwrite is a no-op and the stats fold applies once. A
search against an index whose stream died mid-batch and never restarted
may see that batch's postings without its stats; restart-to-recover
completes the fold (pinned in tests/test_crash_recovery.py).
"""

from __future__ import annotations

import json
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
from flinkrealtimedatawarehouse_spark.streaming.compaction import TieredAppendStore
from flinkrealtimedatawarehouse_spark.streaming.sinks import AdditiveGoldSink
from flinkrealtimedatawarehouse_spark.streaming.snapshots import write_json_atomic

_STATS_KEYS = ["all_docs"]
_STATS_MEASURES = {"n_docs": ("dl", "count"), "sum_dl": ("dl", "sum")}


def _stats_sink(out_dir: str, read_only: bool = False) -> AdditiveGoldSink:
    return AdditiveGoldSink(
        os.path.join(out_dir, "stats"), keys=_STATS_KEYS,
        measures=_STATS_MEASURES, read_only=read_only,
    )


def _postings_store(out_dir: str, fence_check=None, **policy) -> TieredAppendStore:
    # sort chunks by term first (every query filters terms: dictionary +
    # min/max prune within the bucket), batch second (as-of row filter)
    return TieredAppendStore(
        os.path.join(out_dir, "postings"), "bucket",
        sort_cols=["term", "batch"], fence_check=fence_check, **policy,
    )


class PostingsIndexSink:
    """foreachBatch writer that maintains the streamed inverted index:
    per batch, (1) tokenize + tf-aggregate, (2) overwrite the batch's own
    bucket-partitioned postings directory, (3) fold (n_docs, sum_dl)
    through the replay-safe AdditiveGoldSink, (4) run the tiered
    compaction policy (``compaction`` module; pass
    ``compact_every=None`` to disable). Postings-before-marker ordering
    makes the pair recoverable (module docstring); compaction folds only
    stats-committed batches and is gated against replays by
    ``folded_through``."""

    def __init__(self, out_dir: str, id_col: str, text_col: str,
                 n_buckets: int = POSTINGS_BUCKETS,
                 compact_every: int | None = 16, keep_recent: int = 4,
                 max_chunks: int = 8):
        self.out_dir = out_dir
        self.id_col, self.text_col = id_col, text_col
        self.n_buckets = n_buckets
        self.stats = _stats_sink(out_dir)
        self.compact_every = compact_every
        self.store = _postings_store(
            out_dir, fence_check=self.stats._check_fence,
            compact_every=compact_every or 16, keep_recent=keep_recent,
            max_chunks=max_chunks,
        )
        # layout marker: the bucket modulus is part of the on-disk index
        # (a mismatched search-time modulus silently prunes REAL postings
        # — same rule as build_postings' stats row). Write-once, before
        # any batch, so even a crash after batch 0 leaves it readable; a
        # restarted writer passing a DIFFERENT modulus must refuse rather
        # than mix moduli in one directory (the silent corruption the
        # marker exists to prevent).
        meta = os.path.join(out_dir, "layout.json")
        if os.path.exists(meta):
            with open(meta) as f:
                stored = json.load(f)["n_buckets"]
            if stored != n_buckets:
                raise ValueError(
                    f"index at {out_dir} was built with n_buckets={stored}; "
                    f"refusing to append with n_buckets={n_buckets} (postings "
                    "bucketed under two moduli would be silently pruned away "
                    "at search time)"
                )
        else:
            os.makedirs(out_dir, exist_ok=True)
            write_json_atomic(meta, {"n_buckets": n_buckets})

    def write_batch(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id <= self.store.folded_through():
            # redelivered batch whose rows already live in a compacted
            # chunk: recreating its tail directory would double-count the
            # rows (chunk + tail), and its stats fold was committed before
            # the batch became foldable — the whole redelivery is a no-op
            return
        toks = batch.select(
            F.col(self.id_col), spark_tokens(F.col(self.text_col)).alias("toks")
        ).filter(F.size("toks") > 0)
        # two actions read this lineage (postings write + stats fold);
        # without the batch-scoped persist every document would be
        # regex-tokenized twice per micro-batch.
        # NEGATIVE RESULT (round 15, kept per the repo's discipline): a
        # one-pass variant — stats scalars via df.observe on the postings
        # write, persist dropped, the fold fed a pre-aggregated local
        # row — was built, tested, and REVERTED: phase-timed over the
        # same 48-batch drive the fold got SLOWER (0.51 vs 0.32 s/batch;
        # total 60.4 vs 52.4 s). The old fold's marginal work (agg over
        # the still-cached toks) is cheaper than executing a fresh
        # LocalRelation plan per batch, and the action floor dominates
        # either way. Behavior is pinned by
        # test_postings_observed_stats_match_second_pass regardless of
        # implementation.
        toks.persist()
        try:
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
            # idempotent under replay: the batch owns this directory
            tf.write.mode("overwrite").partitionBy("bucket").parquet(
                os.path.join(self.out_dir, "postings", f"batch={batch_id}")
            )
            self.stats.write_batch(
                toks.select(F.lit(0).alias("all_docs"), F.size("toks").alias("dl")),
                batch_id,
            )
        finally:
            toks.unpersist()
        if self.compact_every is not None:
            # after the stats marker: only committed batches ever fold
            self.store.maybe_compact(batch.sparkSession, self.stats.last_bid)


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
    window count = corpus df, corpus scalars from the additive stats
    snapshot, then the shared ``_bm25_rank`` tail — one definition of
    the formula across bm25_search / postings_search / this.

    ``as_of_batch`` = point-in-time search: answer as the index stood
    after that stream batch committed — stats from the matching snapshot
    version (one commit per applied batch, ids sequential from 0, so
    version == batch id) and postings pruned to ``batch <= as_of_batch``
    directories. Versions the stats sink has vacuumed raise, per
    ``read_version``'s own contract."""
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no tokens")
    rows, stats = _streamed_index_rows(spark, out_dir, terms, as_of_batch)
    term_w = Window.partitionBy("term")
    postings = rows.withColumn("df", F.count(F.lit(1)).over(term_w)).drop(
        "batch", "bucket"
    )
    return _bm25_rank(postings, stats, id_col, k1, b, k)


def _streamed_index_rows(spark: SparkSession, out_dir: str, terms: list[str],
                         as_of_batch: int | None):
    """Shared read path for single- and multi-query streamed search:
    (pruned+filtered postings rows, stats frame). df is NOT stored in the
    streamed layout — callers window-count it over these rows. Reads go
    through the tiered store: chunk + tail union once auto-compaction has
    run, a plain directory read (identical to the pre-compaction plan)
    before it."""
    with open(os.path.join(out_dir, "layout.json")) as f:
        n_buckets = json.load(f)["n_buckets"]
    sink = _stats_sink(out_dir, read_only=True)
    if as_of_batch is None:
        cur = sink.current(spark)
        if cur is None:
            raise ValueError(f"postings index at {out_dir} has no committed batches")
    else:
        cur = sink.read_version(spark, as_of_batch)
    stats = cur.select(
        F.col("n_docs"), (F.col("sum_dl") / F.col("n_docs")).alias("avgdl")
    )
    buckets = sorted(set(_term_buckets(spark, terms, n_buckets).values()))
    # part_vals: the scan is constructed from the term buckets' own
    # directories (round 15, guide §6) instead of listing the whole
    # batch= / bucket= tree and pruning after — identical rows, the
    # per-read listing premium removed
    rows = (
        _postings_store(out_dir).read(spark, as_of_batch, part_vals=buckets)
        .filter(F.col("term").isin(terms))
    )
    return rows, stats


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
    rows, stats = _streamed_index_rows(spark, out_dir, all_terms, as_of_batch)
    term_w = Window.partitionBy("term")
    postings = rows.withColumn("df", F.count(F.lit(1)).over(term_w)).drop(
        "batch", "bucket"
    )
    return _bm25_rank_many(postings, qdf, stats, id_col, k1, b, k)
