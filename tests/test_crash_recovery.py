"""Mid-batch crash-recovery proofs for the snapshot sink families.

The failure a long-running ingest hits weekly: the process dies INSIDE a
foreachBatch — after some of the batch's writes landed but before the
sink's marker committed. The contract under test (snapshots.py): the
marker is the single commit point, so a redelivered batch after restart
must produce EXACTLY the same published state as an uninterrupted run —
no lost flags, no double-folded totals, no duplicated history intervals.

Injection: ``_commit`` (the marker write) raises once, simulating death
after the snapshot parquet landed but before the marker replaced —
the widest window, since every earlier crash point is a strict subset of
what the replay then redoes. "Restart" = a fresh sink object on the same
base_dir (the recovery contract), redelivering the crashed batch id as
foreachBatch would. The streamed-index restarts also tear the marker
write itself (``Torn``): the temp file lands, the ``os.replace`` never
runs.

Plus the multi-process fence race: two real processes claiming one sink
dir concurrently must resolve to exactly one owner; the loser's commit
raises instead of interleaving snapshot versions.
"""

from __future__ import annotations

import multiprocessing as mp
import os

import pytest

from pyspark.sql import functions as F


class _CrashInjected(Exception):
    pass


def _arm_marker_crash(sink):
    """Make the sink's next _commit die BEFORE writing the marker (the
    snapshot data dir for the new version has already been written by
    commit_snapshot at that point). Subsequent commits run normally —
    but the crashed instance is abandoned, as a dead process would be."""
    orig = sink._commit
    armed = {"on": True}

    def crashing():
        if armed["on"]:
            armed["on"] = False
            raise _CrashInjected("died before marker commit")
        return orig()

    sink._commit = crashing
    return sink


class Torn(int):
    """A crash point: the batch id whose marker write dies between
    ``write_json_atomic``'s temp file and its ``os.replace``, so the temp
    file is on disk and the marker still holds the previous commit."""


def _arm_crash(sink, crash_batch):
    """Arm the crash ``crash_batch`` names on the sink's next commit:
    a torn marker for a ``Torn`` id, else the ``_commit`` crash."""
    if not isinstance(crash_batch, Torn):
        return _arm_marker_crash(sink)
    orig, marker = sink._commit, sink._marker_path()

    def torn():
        real = os.replace

        def replace(src, dst):
            if dst == marker:
                assert os.path.exists(src)  # the temp file was written
                raise _CrashInjected("died between marker temp file and replace")
            return real(src, dst)

        os.replace = replace
        try:
            orig()
        finally:
            os.replace = real
            sink._commit = orig

    sink._commit = torn
    return sink


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = "the quick brown fox jumps over the lazy dog again and again today"
B0 = [(1, BASE), (2, "completely different words about spark catalyst tungsten")]
B1 = [(3, BASE + " extra"), (4, "another unrelated document body entirely fresh")]
B2 = [(5, BASE), (6, "yet more unique content that shares nothing with others")]


def _run_band(spark, base_dir, crash_batch=None):
    from flinkrealtimedatawarehouse_spark.streaming.neardup import BandStateNearDupSink

    def fresh():
        return BandStateNearDupSink(base_dir, "doc_id", "text",
                                    shingle_n=3, k=16, bands=8)

    sink = fresh()
    sink.init(spark)
    for bid, rows in enumerate([B0, B1, B2]):
        if bid == crash_batch:
            _arm_marker_crash(sink)
            with pytest.raises(_CrashInjected):
                sink.write_batch(_docs(spark, rows), bid)
            sink = fresh()  # restart: recover marker, redeliver batch
        sink.write_batch(_docs(spark, rows), bid)
    flags = {r.doc_id: r.is_near_dup for r in sink.flags(spark).collect()}
    state = sorted((r.band_key, r.min_id) for r in sink.state(spark).collect())
    return flags, state


@pytest.mark.slow
def test_band_sink_restart_mid_batch_exactly_once(spark, tmp_path):
    clean_flags, clean_state = _run_band(spark, str(tmp_path / "clean"))
    for crash_at in (1, 2):
        flags, state = _run_band(spark, str(tmp_path / f"crash{crash_at}"),
                                 crash_batch=crash_at)
        assert flags == clean_flags, f"flags diverged after crash at batch {crash_at}"
        assert state == clean_state, f"state diverged after crash at batch {crash_at}"
    assert clean_flags[3] == 1 and clean_flags[5] == 1  # dups survived the crash


def _run_gold(spark, base_dir, crash_batch=None):
    from flinkrealtimedatawarehouse_spark.streaming.sinks import AdditiveGoldSink

    batches = [
        [("a", 10.0), ("a", 5.0), ("b", 1.0)],
        [("a", 2.0), ("c", 7.0)],
        [("b", 4.0), ("c", 1.0), ("c", 2.0)],
    ]

    def fresh():
        return AdditiveGoldSink(base_dir, ["k"], {"total": ("v", "sum"),
                                                  "n": ("v", "count")})

    sink = fresh()
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "k string, v double")
        if bid == crash_batch:
            _arm_marker_crash(sink)
            with pytest.raises(_CrashInjected):
                sink.write_batch(df, bid)
            sink = fresh()
        sink.write_batch(df, bid)
    return {r.k: (r.total, r.n) for r in sink.current(spark).collect()}


def test_additive_gold_restart_mid_batch_no_double_fold(spark, tmp_path):
    clean = _run_gold(spark, str(tmp_path / "clean"))
    assert clean == {"a": (17.0, 3.0), "b": (5.0, 2.0), "c": (10.0, 3.0)}
    for crash_at in (0, 1, 2):
        got = _run_gold(spark, str(tmp_path / f"crash{crash_at}"),
                        crash_batch=crash_at)
        assert got == clean, f"totals double-folded after crash at batch {crash_at}"


def _run_postidx(spark, base_dir, crash_batch=None):
    from flinkrealtimedatawarehouse_spark.streaming.searchindex import (
        PostingsIndexSink,
        streamed_postings_search,
    )

    def fresh():
        return PostingsIndexSink(base_dir, "doc_id", "text", n_buckets=8)

    sink = fresh()
    for bid, rows in enumerate([B0, B1, B2]):
        if bid == crash_batch:
            # postings for bid have landed (they're written before the
            # stats fold); the crash fires inside the stats marker commit
            _arm_crash(sink.stats, crash_batch)
            with pytest.raises(_CrashInjected):
                sink.write_batch(_docs(spark, rows), bid)
            sink = fresh()  # restart recovers the marker, bid redelivers
        sink.write_batch(_docs(spark, rows), bid)
    out = streamed_postings_search(
        spark, base_dir, "doc_id", "quick fox spark", k=10
    ).collect()
    return [tuple(r) for r in out]


def _run_ivfidx(spark, base_dir, crash_batch=None):
    from flinkrealtimedatawarehouse_spark.streaming.simsearch import (
        IvfIndexSink,
        streamed_ivf_topk,
    )

    vecs = [
        (i, [float((i * 7 + d * 3) % 11 - 5) / 5 for d in range(4)], i % 2)
        for i in range(1, 13)
    ]
    batches = [vecs[:4], vecs[4:8], vecs[8:]]
    schema = "vec_id long, embedding array<double>, label int"

    def fresh():
        return IvfIndexSink(base_dir, "vec_id", "embedding", "label")

    sink = fresh()
    for bid, rows in enumerate(batches):
        if bid == crash_batch:
            # the corpus partition for bid has landed; the crash fires in
            # the index marker commit that adds its centroid sums
            _arm_crash(sink.stats, crash_batch)
            with pytest.raises(_CrashInjected):
                sink.write_batch(spark.createDataFrame(rows, schema), bid)
            sink = fresh()
        sink.write_batch(spark.createDataFrame(rows, schema), bid)
    probes = spark.createDataFrame(vecs[:2], schema)
    out = streamed_ivf_topk(spark, sink, probes, k=3, n_probe=1).collect()
    return [tuple(r) for r in out]


@pytest.mark.parametrize("crash_at", [
    0, pytest.param(1, marks=pytest.mark.slow),
    pytest.param(2, marks=pytest.mark.slow),
    pytest.param(Torn(1), id="torn1"),
])
def test_ivf_index_restart_mid_batch_exactly_once(spark, tmp_path, crash_at):
    """Streamed IVF index: a crash between the corpus append and the
    centroid-sum marker must not double-fold the sums (which would move
    every centroid and re-rank cells) or lose the batch's vectors."""
    clean = _run_ivfidx(spark, str(tmp_path / "clean"))
    assert clean and clean[0][3] == 1  # ranked results, rank starts at 1
    got = _run_ivfidx(spark, str(tmp_path / f"crash{crash_at}"),
                      crash_batch=crash_at)
    assert got == clean, f"streamed IVF index diverged after crash at batch {crash_at}"


def test_ivf_read_handle_ranks_cells_with_the_commit_it_reads(spark, tmp_path):
    """A long-lived IVF read handle must answer like the writer after the
    writer commits more batches: the centroids that pick the probed
    cells and the corpus rows re-ranked inside them come from the same
    marker load. Here batches 1-2 swing the probe's nearest centroid from
    cell 0 to cell 1, so centroids frozen at the handle's opening would
    probe the wrong cell over the newer corpus. Batch 2 also folds
    batches 0-1 into a chunk, so a corpus read through the handle must
    pick up the compaction state committed after it was opened."""
    from flinkrealtimedatawarehouse_spark.streaming.simsearch import (
        IvfIndexSink,
        streamed_ivf_topk,
    )

    schema = "vec_id long, embedding array<double>, label int"
    batches = [
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)],
        [(3, [0.0, -1.0], 0), (4, [1.0, 0.0], 1), (5, [0.9, 0.1], 1)],
        [(6, [0.1, -1.0], 0), (7, [1.0, 0.2], 1)],
    ]
    base = str(tmp_path / "ivf")
    writer = IvfIndexSink(base, "vec_id", "embedding", "label",
                          compact_every=2, keep_recent=1)
    writer.write_batch(spark.createDataFrame(batches[0], schema), 0)
    reader, lister = (IvfIndexSink(base, "vec_id", "embedding", "label",
                                   read_only=True) for _ in range(2))
    for bid in (1, 2):
        writer.write_batch(spark.createDataFrame(batches[bid], schema), bid)
    assert writer.store.folded_through() == 1
    assert sorted(r.neighbor_id for r in lister.store.read(spark).collect()) == list(range(1, 8))
    probes = spark.createDataFrame([(100, [0.9, 0.3], 0)], schema)
    want = streamed_ivf_topk(spark, writer, probes, k=3, n_probe=1).collect()
    got = streamed_ivf_topk(spark, reader, probes, k=3, n_probe=1).collect()
    assert [r.neighbor_id for r in want] == [7, 5, 4]  # cell 1 is probed
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_reader_handles_do_not_fence_the_index_writer(spark, tmp_path):
    """A serving-side search between micro-batches must NOT fence the
    upkeep stream's writer (read handles skip the single-writer claim).
    Before read_only handles existed, the search's stats-sink
    construction claimed the dir and the writer's next commit died with
    the fencing RuntimeError."""
    from flinkrealtimedatawarehouse_spark.streaming.searchindex import (
        PostingsIndexSink,
        streamed_postings_search,
    )

    base = str(tmp_path / "live")
    sink = PostingsIndexSink(base, "doc_id", "text", n_buckets=4)
    sink.write_batch(_docs(spark, B0), 0)
    mid = streamed_postings_search(spark, base, "doc_id", "quick fox", k=5).collect()
    assert mid  # reader saw batch 0
    sink.write_batch(_docs(spark, B1), 1)  # must not raise "fenced"
    sink.write_batch(_docs(spark, B2), 2)
    final = streamed_postings_search(spark, base, "doc_id", "quick fox", k=5).collect()
    assert len(final) >= len(mid)
    # and a read handle refuses to mutate
    from flinkrealtimedatawarehouse_spark.streaming import searchindex
    ro = searchindex._stats_sink(base, read_only=True)
    with pytest.raises(RuntimeError, match="read-only"):
        ro.vacuum(keep_last=1)


@pytest.mark.parametrize("crash_at", [
    pytest.param(0, marks=pytest.mark.slow), 1,
    pytest.param(2, marks=pytest.mark.slow),
    pytest.param(Torn(2), id="torn2", marks=pytest.mark.slow),
])
def test_postings_index_restart_mid_batch_exactly_once(spark, tmp_path, crash_at):
    """dp25 streamed index: a crash between the postings write and the
    stats marker must not double-count n_docs/sum_dl (which would shift
    every BM25 idf/avgdl) or lose the batch's postings on replay."""
    clean = _run_postidx(spark, str(tmp_path / "clean"))
    assert clean and clean[0][1] == 1  # ranked results, rank starts at 1
    got = _run_postidx(spark, str(tmp_path / f"crash{crash_at}"),
                       crash_batch=crash_at)
    assert got == clean, f"streamed index diverged after crash at batch {crash_at}"


def test_postings_search_reads_one_commit_after_a_crash_mid_batch(spark, tmp_path):
    """Batches 0-1 committed; batch 2's postings landed but its marker
    commit died, and no restart has replayed it yet. A current search
    must answer exactly like the batch engine over batches 0-1, not
    score batch 2's postings against the corpus totals of 0-1."""
    from flinkrealtimedatawarehouse_spark.datapipeline import textstats
    from flinkrealtimedatawarehouse_spark.streaming.searchindex import (
        PostingsIndexSink,
        streamed_postings_search,
    )

    base = str(tmp_path / "idx")
    sink = PostingsIndexSink(base, "doc_id", "text", n_buckets=8)
    for bid, rows in enumerate([B0, B1]):
        sink.write_batch(_docs(spark, rows), bid)
    _arm_marker_crash(sink.stats)
    with pytest.raises(_CrashInjected):
        sink.write_batch(_docs(spark, B2), 2)
    assert os.path.isdir(os.path.join(base, "postings", "batch=2"))
    q = "quick fox spark"
    got = streamed_postings_search(spark, base, "doc_id", q, k=10).collect()
    expect = textstats.bm25_search(
        _docs(spark, B0 + B1), "doc_id", "text", q, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]


def test_streamed_search_sees_a_fold_committed_after_its_commit_read(
        spark, tmp_path, monkeypatch):
    """A writer folds batches 0-1 into a chunk (and deletes their tail
    dirs) between a search's commit read and its corpus read. The search
    keeps the horizon of the commit it read, and its corpus read follows
    the chunk list the fold committed, so it answers exactly as it did
    before the fold: no row of batches 0-1 goes missing."""
    from flinkrealtimedatawarehouse_spark.streaming.compaction import IndexCommit
    from flinkrealtimedatawarehouse_spark.streaming.searchindex import (
        PostingsIndexSink,
        streamed_postings_search,
    )
    from flinkrealtimedatawarehouse_spark.streaming.simsearch import (
        IvfIndexSink,
        streamed_ivf_topk,
    )

    post, ivf = str(tmp_path / "post"), str(tmp_path / "ivf")
    psink = PostingsIndexSink(post, "doc_id", "text", n_buckets=4,
                              compact_every=2, keep_recent=1)
    schema = "vec_id long, embedding array<double>, label int"
    vecs = [(i, [float(i % 3), 1.0], i % 2) for i in range(1, 7)]
    vsink = IvfIndexSink(ivf, "vec_id", "embedding", "label",
                         compact_every=2, keep_recent=1)
    for bid, rows in enumerate([B0, B1]):
        psink.write_batch(_docs(spark, rows), bid)
        vsink.write_batch(spark.createDataFrame(vecs[2 * bid:2 * bid + 2], schema), bid)
    # batch 2 trips the fold of batches 0-1; it lands right after the
    # next read handle's commit read returns
    fold = []
    read_commit = IndexCommit.read_commit

    def racing_read_commit(self, as_of_batch=None):
        got = read_commit(self, as_of_batch)
        if self.read_only and fold:
            fold.pop()()
        return got

    monkeypatch.setattr(IndexCommit, "read_commit", racing_read_commit)

    def search_post():
        return streamed_postings_search(spark, post, "doc_id", "quick fox", k=5).collect()

    pinned = search_post()
    assert pinned and psink.store.folded_through() == -1
    fold.append(lambda: psink.write_batch(_docs(spark, B2), 2))
    assert search_post() == pinned
    assert psink.store.folded_through() == 1 and not fold

    reader = IvfIndexSink(ivf, "vec_id", "embedding", "label", read_only=True)
    probes = spark.createDataFrame(vecs[:2], schema)

    def search_ivf():
        return streamed_ivf_topk(spark, reader, probes, k=3, n_probe=1).collect()

    pinned = search_ivf()
    assert pinned and vsink.store.folded_through() == -1
    fold.append(lambda: vsink.write_batch(spark.createDataFrame(vecs[4:], schema), 2))
    assert search_ivf() == pinned
    assert vsink.store.folded_through() == 1 and not fold


def test_index_dirs_hold_one_commit_record(spark, tmp_path):
    """Each streamed index commits through its owning sink's marker
    alone: layout, compaction state and (postings) corpus totals live in
    ``_committed.json`` — no layout.json, no ``*_compaction.json``, no
    per-batch stats snapshots."""
    import json

    from flinkrealtimedatawarehouse_spark.streaming.searchindex import (
        PostingsIndexSink,
    )
    from flinkrealtimedatawarehouse_spark.streaming.simsearch import IvfIndexSink

    post = str(tmp_path / "post")
    sink = PostingsIndexSink(post, "doc_id", "text", n_buckets=4,
                             compact_every=2, keep_recent=1, max_chunks=2)
    for bid, rows in enumerate([B0, B1, B2]):
        sink.write_batch(_docs(spark, rows), bid)
    assert sink.store.folded_through() == 1  # a fold ran
    assert sorted(os.listdir(post)) == [
        "_committed.json", "_writer.json", "postings", "postings_chunks"]
    with open(os.path.join(post, "_committed.json")) as f:
        meta = json.load(f)["meta"]
    assert meta["n_buckets"] == 4 and len(meta["stats"]) == 3
    assert meta["compaction"]["folded_through"] == 1

    ivf = str(tmp_path / "ivf")
    vsink = IvfIndexSink(ivf, "vec_id", "embedding", "label",
                         compact_every=2, keep_recent=1, max_chunks=2)
    schema = "vec_id long, embedding array<double>, label int"
    for bid in range(3):
        vsink.write_batch(spark.createDataFrame(
            [(bid * 2 + i, [float(i), 1.0], i) for i in (1, 2)], schema), bid)
    assert vsink.store.folded_through() == 1
    assert sorted(os.listdir(ivf)) == [
        "_committed.json", "_writer.json", "corpus", "corpus_chunks"]
    with open(os.path.join(ivf, "_committed.json")) as f:
        assert len(json.load(f)["meta"]["stats"]) == 3


def test_ivf_index_with_centsums_refuses_to_resume(tmp_path):
    """An IVF directory that keeps its commit record under centsums/
    (the earlier layout) is rebuilt, not resumed: a writer opened on it
    raises instead of starting over beside the old corpus batches."""
    from flinkrealtimedatawarehouse_spark.streaming.simsearch import IvfIndexSink

    ivf = tmp_path / "ivf"
    (ivf / "centsums").mkdir(parents=True)
    with pytest.raises(ValueError, match="centsums"):
        IvfIndexSink(str(ivf), "vec_id", "embedding", "label")
    assert sorted(os.listdir(ivf)) == ["centsums"]


def _run_scd2(spark, base_dir, crash_batch=None):
    from flinkrealtimedatawarehouse_spark.streaming.sinks import Scd2HistorySink

    schema = "id long, name string, v long, type string"
    batches = [
        [(1, "a0", 1, "insert"), (2, "b0", 1, "insert")],
        [(1, "a1", 2, "update")],
        [(2, None, 3, "delete"), (1, "a2", 4, "update")],
    ]

    def fresh():
        s = Scd2HistorySink(base_dir, "id", "v")
        s.init(spark.createDataFrame([], schema))
        return s

    sink = fresh()
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        if bid == crash_batch:
            _arm_marker_crash(sink)
            with pytest.raises(_CrashInjected):
                sink.write_batch(df, bid)
            sink = fresh()
        sink.write_batch(df, bid)
    return sorted(
        (r.id, r.name, r.v, r.is_current) for r in sink.history(spark).collect()
    )


@pytest.mark.slow
def test_scd2_restart_mid_batch_history_intact(spark, tmp_path):
    clean = _run_scd2(spark, str(tmp_path / "clean"))
    for crash_at in (1, 2):
        got = _run_scd2(spark, str(tmp_path / f"crash{crash_at}"),
                        crash_batch=crash_at)
        assert got == clean, f"history diverged after crash at batch {crash_at}"
    # sanity on the uninterrupted shape: 1 has three intervals, 2's closed
    ids = [t[0] for t in clean]
    assert ids.count(1) == 3 and ids.count(2) == 1


# --- multi-process fence race (real processes, not threads) ---------------

def _fence_racer(base_dir, barrier, results, idx):
    """Child process: claim the dir, rendezvous so both claims precede
    either commit, then try to commit a snapshot."""
    import traceback

    try:
        os.environ["SPARK_GRAFT_CPUS"] = "2"  # tiny JVM per racer
        from flinkrealtimedatawarehouse_spark.session import get_spark
        from flinkrealtimedatawarehouse_spark.streaming.snapshots import (
            VersionedSnapshotSink,
        )

        spark = get_spark(f"fence-race-{idx}", shuffle_partitions=2)
        sink = VersionedSnapshotSink(base_dir)  # claims ownership
        barrier.wait(timeout=120)  # both processes hold a claim now
        df = spark.createDataFrame([(idx,)], "writer int")
        sink.commit_snapshot(df, batch_id=0)
        results[idx] = "committed"
    except RuntimeError as e:
        results[idx] = f"fenced: {e}" if "fenced" in str(e) else f"error: {e}"
    except Exception:
        results[idx] = "error: " + traceback.format_exc()


def test_concurrent_writer_fence_race_two_processes(spark, tmp_path):
    """Two real processes race commit_snapshot on one base_dir: exactly
    one must win; the other must raise the fencing RuntimeError; the
    surviving snapshot must be the winner's, uncorrupted."""
    base_dir = str(tmp_path / "race")
    ctx = mp.get_context("spawn")  # no JVM/fd inheritance from pytest's session
    mgr = ctx.Manager()
    results = mgr.dict()
    barrier = ctx.Barrier(2)
    procs = [
        ctx.Process(target=_fence_racer, args=(base_dir, barrier, results, i))
        for i in range(2)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=300)
        assert not p.is_alive(), "racer hung"
    out = dict(results)
    assert len(out) == 2, f"racer died before reporting: {out}"
    committed = [i for i, r in out.items() if r == "committed"]
    fenced = [i for i, r in out.items() if str(r).startswith("fenced")]
    assert len(committed) == 1 and len(fenced) == 1, f"not exactly-one-winner: {out}"
    # the published snapshot is the winner's row, readable and whole
    import json

    with open(os.path.join(base_dir, "_committed.json")) as f:
        marker = json.load(f)
    assert marker["last_bid"] == 0
    rows = spark.read.parquet(os.path.join(base_dir, f"v{marker['version']}")).collect()
    assert [r.writer for r in rows] == [committed[0]]


# --- K2 fanout mid-batch restart ------------------------------------------

def _read_fanout(spark, out_dir):
    df = spark.read.parquet(out_dir)
    return sorted(
        (r["dest"], r["k"], r["v"]) for r in df.drop("_bid").collect()
        if r["dest"] != "__empty__"
    )


def test_fanout_restart_mid_batch_exactly_once(spark, tmp_path):
    """K2's replay contract: a batch that died after SOME of its
    per-destination partition dirs landed is redelivered in full, and the
    dynamic (dest, _bid) overwrite must converge to the uninterrupted
    run's state — no duplicated rows in rewritten dirs, no stragglers
    from the partial attempt."""
    from flinkrealtimedatawarehouse_spark.streaming.sinks import fanout_batch_writer

    batches = [
        [("hot", "a", 1.0), ("cold", "b", 2.0)],
        [("hot", "c", 3.0), ("cold", "d", 4.0), ("warm", "e", 5.0)],
        [("hot", "f", 6.0)],
    ]
    schema = "dest string, k string, v double"

    clean_dir = str(tmp_path / "clean")
    w = fanout_batch_writer("dest", clean_dir)
    for bid, rows in enumerate(batches):
        w(spark.createDataFrame(rows, schema), bid)
    clean = _read_fanout(spark, clean_dir)

    crash_dir = str(tmp_path / "crash")
    w = fanout_batch_writer("dest", crash_dir)
    w(spark.createDataFrame(batches[0], schema), 0)
    # mid-batch death during batch 1: only the 'hot' slice landed before
    # the process died (a partial dynamic overwrite = some partition dirs
    # written, the rest absent)
    w(spark.createDataFrame([r for r in batches[1] if r[0] == "hot"], schema), 1)
    # restart: foreachBatch redelivers batch 1 IN FULL, then continues
    w = fanout_batch_writer("dest", crash_dir)
    for bid in (1, 2):
        w(spark.createDataFrame(batches[bid], schema), bid)

    assert _read_fanout(spark, crash_dir) == clean
    assert clean == sorted((d, k, v) for b in batches for d, k, v in b)


# --- vacuum vs concurrent reader ------------------------------------------

def test_vacuum_concurrent_reader_and_crash_residue(spark, tmp_path, monkeypatch):
    """VACUUM's two guarantees under concurrency and mid-vacuum death:

    1. a reader loop on the LATEST version never fails while vacuum
       deletes old versions (marker advances min_version before any
       delete, and the retained window is untouched);
    2. a version the marker has vacuumed answers with the clean
       retention ValueError — never a dangling parquet read — even in
       the crash window where the marker advanced but the data dirs
       were not yet deleted; a re-vacuum then collects the residue.
    """
    import threading

    from flinkrealtimedatawarehouse_spark.streaming.snapshots import (
        VersionedSnapshotSink,
    )

    base = str(tmp_path / "vac")
    sink = VersionedSnapshotSink(base)
    for bid in range(4):  # versions 0..3
        sink.commit_snapshot(
            spark.createDataFrame([(bid, "x" * 10)], "bid long, pad string"), bid
        )

    # concurrent reader on the latest version while vacuum runs
    errors: list[str] = []
    stop = threading.Event()

    def read_loop():
        try:
            while not stop.is_set():
                rows = sink.read_version(spark, sink.version).collect()
                assert rows[0]["bid"] == 3
        except Exception as e:  # surface into the main thread
            errors.append(repr(e))

    t = threading.Thread(target=read_loop)
    t.start()
    try:
        removed = sink.vacuum(keep_last=2)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not errors, errors
    assert removed == [0, 1]
    assert sink.min_version == 2

    # vacuumed version: clean retention error, not a parquet failure
    with pytest.raises(ValueError, match="vacuumed"):
        sink.read_version(spark, 0)
    # retained window intact
    assert sink.read_version(spark, 2).count() == 1

    # crash mid-vacuum: marker advances, delete loop dies before removing
    sink.commit_snapshot(
        spark.createDataFrame([(9, "y")], "bid long, pad string"), 9
    )  # version 4
    import shutil as _shutil

    real_rmtree = _shutil.rmtree

    def dying_rmtree(path, *a, **kw):
        raise OSError("process died mid-vacuum")

    monkeypatch.setattr(_shutil, "rmtree", dying_rmtree)
    with pytest.raises(OSError):
        sink.vacuum(keep_last=2)  # min_version -> 3 committed, delete died
    monkeypatch.setattr(_shutil, "rmtree", real_rmtree)

    assert sink.min_version == 3
    assert os.path.exists(os.path.join(base, "v2"))  # residue left behind
    # the marker, not the filesystem, is the source of truth:
    with pytest.raises(ValueError, match="vacuumed|not available"):
        sink.read_version(spark, 2)
    # a restarted owner's re-vacuum collects the unreferenced residue
    sink2 = VersionedSnapshotSink(base)
    removed2 = sink2.vacuum(keep_last=2)
    assert 2 in removed2 and not os.path.exists(os.path.join(base, "v2"))


# --- T7→A1 chain: kill mid-batch, restart from the STREAMING checkpoint ----
#
# The chained query (state.bounce_stats_stream) carries the subtlest state
# in the repo: the bounce operator's undecided entry tails + the downstream
# decide-time tumble's open windows, both in Spark's state store. The crash
# is injected INSIDE foreachBatch after a partial output write — so recovery
# exercises (a) state-store restore for BOTH stateful operators, (b) exact
# replay of the crashed batch from the offsets log, and (c) the idempotent
# _bid-partition overwrite scrubbing the partial slice.

_CHAIN_SCHEMA = (
    "user_id long, event_id long, ts timestamp, event_type string, "
    "value double, props string"
)


def _chain_rows(spark):
    from datetime import datetime

    t = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")  # noqa: E731
    rows = [
        (1, 1, t("00:00:05"), "view", 0.0, None),   # entry; next event in gap -> not bounce
        (1, 2, t("00:00:08"), "click", 0.0, None),
        (2, 3, t("00:00:12"), "view", 0.0, None),   # entry; silence -> bounce (timeout)
        (9, 4, t("00:00:30"), "click", 0.0, None),  # wm pusher: decides u2
        (3, 5, t("00:00:58"), "view", 0.0, None),   # entry in LAST gap-sec of its window -> bounce
        (9, 6, t("00:01:20"), "click", 0.0, None),  # wm pusher: decides u3 (late-in-window case)
        (4, 7, t("00:01:30"), "view", 0.0, None),   # entry; click in gap -> not bounce
        (4, 8, t("00:01:35"), "click", 0.0, None),
        (5, 9, t("00:03:30"), "view", 0.0, None),   # entry whose DECISION closes the agg windows
        (9, 10, t("00:05:00"), "click", 0.0, None), # wm pusher: decides u5
    ]
    return spark.createDataFrame(rows, _CHAIN_SCHEMA)


# entry-window rollups decided AND closed by end of stream. Under the
# chain's multipleWatermarkPolicy=max the SOURCE watermark (00:04:59 after
# u9's last click) drives window close, so u5's window closes too even
# though the last decision row only carries decide_ts 00:03:40.
_CHAIN_EXPECTED = sorted([
    ("2024-01-01 00:00:00", "2024-01-01 00:01:00", 3, 2, 3),  # u1,u2,u3; u2+u3 bounced
    ("2024-01-01 00:01:00", "2024-01-01 00:02:00", 1, 0, 1),  # u4 not bounced
    ("2024-01-01 00:03:00", "2024-01-01 00:04:00", 1, 1, 1),  # u5 bounced (timeout)
])


def _run_chain(spark, in_dir, work_dir, crash_batch=None):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from flinkrealtimedatawarehouse_spark.streaming import runner, sinks, state

    out_dir = os.path.join(work_dir, "out")
    ckpt = os.path.join(work_dir, "ckpt")
    src_schema = _chain_rows(spark).schema
    crash = {"pending": crash_batch}

    def batch_fn(df, bid):
        if crash["pending"] is not None and bid == crash["pending"]:
            crash["pending"] = None
            # partial slice lands, then the process "dies" before the
            # batch commits — restart must scrub and rewrite this slice
            sinks.write_bid_slice(df.limit(1), bid, out_dir)
            raise _CrashInjected(f"died mid-batch {bid} after partial write")
        sinks.write_bid_slice(df, bid, out_dir)

    def run_once():
        sdf = runner.parquet_stream(spark, in_dir, src_schema)
        chain = state.bounce_stats_stream(
            sdf, gap_s=10, delay="1 second", duration="1 minute"
        )
        with runner.scoped_conf(spark, state.CHAIN_STREAM_CONFS):
            q = (
                chain.writeStream.foreachBatch(batch_fn)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    if crash_batch is not None:
        with pytest.raises(StreamingQueryException):
            run_once()
        run_once()  # restart: same checkpoint, state-store recovery
    else:
        run_once()
    got = spark.read.parquet(out_dir)
    # multiset (not dict): a double-emitted decision window would surface
    # as a duplicate tuple here, not be silently collapsed
    return sorted(
        (r.stt, r.edt, r.entry_ct, r.bounce_ct, r.uv_ct) for r in got.collect()
    )


@pytest.mark.slow
def test_chain_restart_mid_batch_state_recovers(spark, tmp_path):
    from flinkrealtimedatawarehouse_spark.streaming import runner

    src = _chain_rows(spark)
    in_dir = runner.stage_stream_dir(src, "ts", 6, "chaincrash")

    clean = _run_chain(spark, in_dir, str(tmp_path / "clean"))
    assert clean == _CHAIN_EXPECTED

    # crash early (undecided tails for u2/u3 pending) and late (open
    # decide-window holding the first rollup) — both must recover to the
    # uninterrupted result with zero duplicated window emissions
    for crash_at in (2, 4):
        got = _run_chain(spark, in_dir, str(tmp_path / f"crash{crash_at}"),
                         crash_batch=crash_at)
        assert got == clean, f"chain diverged after crash at batch {crash_at}"


@pytest.mark.parametrize("deleted_before_crash", [
    0, pytest.param(2, marks=pytest.mark.slow),
])
def test_compaction_crash_between_marker_and_cleanup(spark, tmp_path,
                                                     deleted_before_crash):
    """Tiered compaction's write-then-commit contract: if the process
    dies AFTER the compaction marker commits but BEFORE the folded tail
    directories are deleted (none, or only some of them), the read path
    must already ignore the orphans (their rows live in the chunk;
    counting both would double every posting) and the next policy run
    must sweep them."""
    import shutil as _shutil

    from flinkrealtimedatawarehouse_spark.datapipeline import textstats
    from flinkrealtimedatawarehouse_spark.streaming.searchindex import (
        PostingsIndexSink,
        streamed_postings_search,
    )

    rows = [(i, "alpha beta" if i % 2 else "gamma zeta") for i in range(24)]
    idx = str(tmp_path / "ccomp")
    sink = PostingsIndexSink(
        idx, "doc_id", "text", n_buckets=4,
        compact_every=4, keep_recent=2, max_chunks=3,
    )
    # crash simulation: capture every folded tail dir and RESTORE it
    # after the fold (marker committed, cleanup "never happened")
    real_rmtree = _shutil.rmtree
    stashed: dict[str, str] = {}

    def _stash_rmtree(path, *a, **kw):
        if "/postings/batch=" in str(path) and os.path.isdir(path):
            dst = str(tmp_path / f"stash_{len(stashed)}")
            _shutil.copytree(path, dst)
            stashed[str(path)] = dst
        return real_rmtree(path, *a, **kw)

    docs = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        rows[lo:hi], "doc_id long, text string")
    for bid in range(6):  # tail hits 6 = compact_every + keep_recent
        if bid == 5:
            _shutil.rmtree = _stash_rmtree
        try:
            sink.write_batch(docs(bid * 4, bid * 4 + 4), bid)
        finally:
            _shutil.rmtree = real_rmtree
    st = sink.store._load()
    assert st["folded_through"] == 3 and stashed  # fold ran, dirs captured
    # resurrect the dirs the cleanup had not reached when it "died"
    for orig, dst in list(stashed.items())[deleted_before_crash:]:
        _shutil.copytree(dst, orig)

    # read path ignores the orphans: equals the batch engine, no doubling
    expect = textstats.bm25_search(
        docs(0, 24), "doc_id", "text", "alpha zeta", k=20).collect()
    got = streamed_postings_search(
        spark, idx, "doc_id", "alpha zeta", k=20).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]

    # next policy run sweeps them (no new fold needed to trigger GC)
    sink.store.maybe_compact(spark, sink.stats.last_bid)
    left = sink.store._tail_batch_ids()
    assert all(b > st["folded_through"] for b in left), left


@pytest.mark.parametrize("doomed_through", [
    1, pytest.param(3, marks=pytest.mark.slow),
])
def test_compaction_crash_before_marker_is_invisible(spark, tmp_path,
                                                      doomed_through):
    """The other half of write-then-commit: a chunk directory written by
    a fold that died BEFORE its marker commit — mid-write (part of the
    fold's batches) or just before the commit (all of them) — must be
    invisible to reads and harmlessly overwritten by the next successful
    fold (next_id was never advanced)."""
    from flinkrealtimedatawarehouse_spark.datapipeline import textstats
    from flinkrealtimedatawarehouse_spark.streaming.searchindex import (
        PostingsIndexSink,
        streamed_postings_search,
    )

    rows = [(i, "alpha beta gamma"[: 5 + (i % 3) * 5]) for i in range(20)]
    idx = str(tmp_path / "ccomp2")
    sink = PostingsIndexSink(
        idx, "doc_id", "text", n_buckets=4,
        compact_every=4, keep_recent=2, max_chunks=3,
    )
    docs = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        rows[lo:hi], "doc_id long, text string")
    for bid in range(5):  # one short of the fold trigger
        sink.write_batch(docs(bid * 4, bid * 4 + 4), bid)

    # simulate the doomed fold: chunk data written, marker never commits
    st0 = sink.store._load()
    doomed = sink.store.tail_dir + "_chunks/c000000"
    spark.read.parquet(sink.store.tail_dir).filter(
        F.col("batch") <= doomed_through
    ).write.mode("overwrite").partitionBy("bucket").parquet(doomed)
    assert sink.store._load() == st0  # marker untouched

    expect = textstats.bm25_search(
        docs(0, 20), "doc_id", "text", "alpha beta", k=20).collect()
    got = streamed_postings_search(
        spark, idx, "doc_id", "alpha beta", k=20).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]

    # the 6th batch triggers the real fold, which reclaims the name
    sink.write_batch(docs(16, 20).limit(0).unionByName(docs(0, 0)).unionByName(
        spark.createDataFrame([(100, "alpha zeta")], "doc_id long, text string")
    ), 5)
    st = sink.store._load()
    assert st["folded_through"] == 3
    assert [c["name"] for c in st["chunks"]] == ["c000000"]
    got2 = streamed_postings_search(
        spark, idx, "doc_id", "alpha beta", k=25).collect()
    expect2 = textstats.bm25_search(
        docs(0, 20).unionByName(spark.createDataFrame(
            [(100, "alpha zeta")], "doc_id long, text string")),
        "doc_id", "text", "alpha beta", k=25).collect()
    assert [tuple(r) for r in got2] == [tuple(r) for r in expect2]


def test_compaction_read_raced_by_concurrent_fold_retries_clean(spark, tmp_path):
    """The documented reader hazard (compaction.py "Reader hazard"): a
    query PLANNED over tail directories that a concurrent minor fold
    deletes mid-read fails at execution and must succeed on retry with
    exactly the pinned answer. The race is driven deterministically:
    Spark lists parquet files when the DataFrame is created, so holding a
    pre-fold plan across ``maybe_compact`` (via the 6th write_batch that
    trips the policy) IS the planned-then-deleted interleaving."""
    from flinkrealtimedatawarehouse_spark.streaming.searchindex import (
        PostingsIndexSink,
    )

    rows = [(i, "alpha beta" if i % 2 else "gamma zeta") for i in range(24)]
    idx = str(tmp_path / "rrace")
    sink = PostingsIndexSink(
        idx, "doc_id", "text", n_buckets=4,
        compact_every=4, keep_recent=2, max_chunks=3,
    )
    docs = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        rows[lo:hi], "doc_id long, text string")
    for bid in range(5):  # one short of the fold trigger
        sink.write_batch(docs(bid * 4, bid * 4 + 4), bid)

    def canon(df):
        cols = sorted(df.columns)
        return sorted(tuple(r) for r in df.select(*cols).collect())

    pinned = canon(sink.store.read(spark))
    stale = sink.store.read(spark)  # plan NOW: file listing captures the
    # 5 tail dirs that the fold below is about to delete
    sink.write_batch(docs(20, 24), 5)  # 6th batch -> minor fold fires
    st = sink.store._load()
    assert st["folded_through"] == 3 and st["chunks"]  # batches 0-3 folded
    with pytest.raises(Exception, match="(?i)file|path|exist"):
        stale.count()  # the raced read fails, it does not undercount
    # the retry re-plans from the marker (chunks + surviving tail) and
    # returns the pinned rows plus exactly the new batch
    fresh = sink.store.read(spark)
    new_rows = canon(sink.store.read(spark).filter(F.col("batch") == 5))
    assert canon(fresh) == sorted(pinned + new_rows)


def test_compaction_respects_writer_fence(spark, tmp_path):
    """A fenced (superseded) postings writer must not compact: the
    marker commit re-checks the owning stats sink's fence and raises
    before touching the compaction marker or deleting data."""
    from flinkrealtimedatawarehouse_spark.streaming.searchindex import (
        PostingsIndexSink,
    )

    idx = str(tmp_path / "fcomp")
    sink = PostingsIndexSink(
        idx, "doc_id", "text", n_buckets=4,
        compact_every=2, keep_recent=1, max_chunks=3,
    )
    docs = lambda i: spark.createDataFrame(  # noqa: E731
        [(i, "alpha beta gamma")], "doc_id long, text string")
    for bid in range(2):
        sink.write_batch(docs(bid), bid)
    # a new writer claims the dir -> the old sink is fenced
    PostingsIndexSink(idx, "doc_id", "text", n_buckets=4)
    st0 = sink.store._load()
    with pytest.raises(RuntimeError, match="fenced|claimed"):
        sink.write_batch(docs(2), 2)  # stats fold raises on the fence
    assert sink.store._load() == st0  # compaction state untouched


def _run_clusters(spark, base_dir, crash_batch=None):
    from flinkrealtimedatawarehouse_spark.streaming.clusters import ClusterUpkeepSink

    batches = [
        [(1, 2), (5, 6)],
        [(3, 4), (2, 3)],   # merges {1,2}+{3,4} in the same batch it forms
        [(6, 3)],           # absorbs {5,6} into 1
    ]
    sink = ClusterUpkeepSink(base_dir, "doc_id")
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "id_a long, id_b long")
        if bid == crash_batch:
            _arm_marker_crash(sink)
            with pytest.raises(_CrashInjected):
                sink.write_batch(df, bid)
            sink = ClusterUpkeepSink(base_dir, "doc_id")  # restart + redeliver
        sink.write_batch(df, bid)
    return sorted((r.doc_id, r.cluster) for r in sink.clusters(spark).collect())


@pytest.mark.slow
def test_cluster_upkeep_restart_mid_batch_exactly_once(spark, tmp_path):
    """Streaming cluster upkeep: a crash between the snapshot data write
    and the marker commit must leave the previous consistent label table;
    the restart's redelivery must fold the batch exactly once (a double
    apply cannot corrupt min-labels — they are idempotent — but a LOST
    batch would silently orphan its merges)."""
    clean = _run_clusters(spark, str(tmp_path / "clean"))
    assert clean == [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (6, 1)]
    for crash_at in (0, 1, 2):
        got = _run_clusters(spark, str(tmp_path / f"crash{crash_at}"),
                            crash_batch=crash_at)
        assert got == clean, f"labels diverged after crash at batch {crash_at}"


@pytest.mark.slow
def test_cluster_index_ahead_after_crash_is_superset_and_recovers(
        spark, tmp_path):
    """The secondary (cluster, pid) index commits BEFORE the label store,
    so a crash between the two leaves the index one batch AHEAD — a
    harmless SUPERSET (extra partitions probed, never a missed member);
    the reverse order could lose members forever. Pin the intermediate
    state explicitly, then redeliver: labels fold the batch, the index's
    seen() skips its already-applied half instead of double-committing."""
    from flinkrealtimedatawarehouse_spark.streaming.clusters import ClusterUpkeepSink

    def p(rows):
        return spark.createDataFrame(rows, "id_a long, id_b long")

    d = str(tmp_path / "clxa")
    sink = ClusterUpkeepSink(d, "doc_id")
    sink.write_batch(p([(1, 2), (5, 6)]), 0)
    _arm_marker_crash(sink)  # the LABEL _commit dies; index commit landed
    with pytest.raises(_CrashInjected):
        sink.write_batch(p([(2, 5)]), 1)
    sink2 = ClusterUpkeepSink(d, "doc_id")
    assert sink2.version == 1          # labels: batch 1 lost in the crash
    assert sink2.pidx.version == 2     # index: batch 1 landed — ahead
    assert sink2.pidx.meta["label_version"] == 2  # stamped ahead: superset,
    # which _ensure_index accepts without a rebuild
    idx_v = sink2.pidx.version
    sink2.write_batch(p([(2, 5)]), 1)  # redelivery
    assert sink2.pidx.version == idx_v  # index half skipped via seen()
    got = {r["doc_id"]: r["cluster"] for r in sink2.clusters(spark).collect()}
    assert got == {1: 1, 2: 1, 5: 1, 6: 1}


def _run_band_with_clusters(spark, base_dir, crash_batch=None,
                            crash_sink=None):
    """Drive the composed DAG (band detector + attached cluster sink);
    optionally crash ONE of the two sinks' marker commits mid-batch.
    The two sinks commit independently under the same batch id, so a
    crash between their commits is the interesting window: redelivery
    must fold the batch into exactly the sink that missed it, with the
    cluster edges derived from the pre-batch state VERSION so they are
    byte-identical on replay even though the live state moved on."""
    from flinkrealtimedatawarehouse_spark.streaming.clusters import ClusterUpkeepSink
    from flinkrealtimedatawarehouse_spark.streaming.neardup import (
        BandStateNearDupSink,
    )

    def fresh():
        cl = ClusterUpkeepSink(os.path.join(base_dir, "cl"), "doc_id")
        s = BandStateNearDupSink(os.path.join(base_dir, "bs"), "doc_id", "text",
                                 shingle_n=3, k=16, bands=8, cluster_sink=cl)
        s.init(spark)
        return s

    sink = fresh()
    for bid, rows in enumerate([B0, B1, B2]):
        if bid == crash_batch:
            _arm_marker_crash(sink if crash_sink == "band" else sink.cluster_sink)
            with pytest.raises(_CrashInjected):
                sink.write_batch(_docs(spark, rows), bid)
            sink = fresh()  # restart both handles, redeliver
        sink.write_batch(_docs(spark, rows), bid)
    flags = {r.doc_id: r.is_near_dup for r in sink.flags(spark).collect()}
    labels = sorted((r.doc_id, r.cluster)
                    for r in sink.cluster_sink.clusters(spark).collect())
    return flags, labels


@pytest.mark.slow
def test_composed_dedup_dag_survives_either_sink_crashing(spark, tmp_path):
    clean = _run_band_with_clusters(spark, str(tmp_path / "clean"))
    # the planted dups (1, 3, 5 share BASE) must collapse to cluster 1
    assert [(d, c) for d, c in clean[1] if c != d] == [(3, 1), (5, 1)]
    for crash_sink in ("band", "cluster"):
        for crash_at in (1, 2):
            got = _run_band_with_clusters(
                spark, str(tmp_path / f"{crash_sink}{crash_at}"),
                crash_batch=crash_at, crash_sink=crash_sink,
            )
            assert got == clean, (crash_sink, crash_at)
