"""Streaming-semantics tests (SURVEY.md §5.4): watermark in/out-of-order
handling, bounce timeout at the gap boundary, multi-batch replay
determinism, fan-out + MERGE sinks, checkpointed availableNow runs."""

from __future__ import annotations

from datetime import datetime

import pytest

from pyspark.sql import functions as F

from flinkrealtimedatawarehouse_spark.streaming import runner, sinks, sources, state, windows


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _stream_events(spark, rows, n_files, tag, sentinel_pad=None):
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string, value double, props string"
    )
    in_dir = runner.stage_stream_dir(df, "ts", n_files, tag)
    if sentinel_pad is not None:
        sent = runner.make_sentinel(
            df, "ts", sentinel_pad, {"user_id": -1, "event_id": -1, "event_type": "__wm__"}
        )
        runner.append_sentinel_file(in_dir, sent, tag)
    return runner.parquet_stream(spark, in_dir, df.schema)


# --- T1/T3: watermarked tumble emits closed windows, late rows drop -------

def test_stream_tumble_emits_closed_windows(spark):
    rows = [
        (1, 1, ts("2024-01-01 00:00:01"), "view", 1.0, None),
        (1, 2, ts("2024-01-01 00:00:09"), "view", 2.0, None),
        (2, 3, ts("2024-01-01 00:10:01"), "view", 3.0, None),
        (2, 4, ts("2024-01-01 01:00:00"), "view", 4.0, None),
    ]
    sdf = _stream_events(spark, rows, 2, "tumble", sentinel_pad="11 minutes")
    out = runner.run_to_memory(windows.visitor_stats_stream(sdf), "tumble")
    got = {r.stt: (r.pv_ct, r.value_sum, r.uv_ct) for r in out.filter("event_type = 'view'").collect()}
    assert got["2024-01-01 00:00:00"] == (2, 3.0, 1)
    assert got["2024-01-01 00:10:00"] == (1, 3.0, 1)
    assert got["2024-01-01 01:00:00"] == (1, 4.0, 1)  # sentinel flushed the tail window


def test_stream_bounce_timeout_and_match(spark):
    # u1: entry then entry at +3s  -> both jumps (match + timeout)
    # u2: entry then page at +2s   -> not a jump
    # u3: entry then page at +11s  -> jump (strict-next window expired)
    rows = [
        (1, 1, ts("2024-01-01 00:00:00"), "view", 0.0, None),
        (1, 2, ts("2024-01-01 00:00:03"), "view", 0.0, None),
        (2, 3, ts("2024-01-01 00:00:00"), "view", 0.0, None),
        (2, 4, ts("2024-01-01 00:00:02"), "click", 0.0, None),
        (3, 5, ts("2024-01-01 00:00:00"), "view", 0.0, None),
        (3, 6, ts("2024-01-01 00:00:11"), "click", 0.0, None),
    ]
    sdf = _stream_events(spark, rows, 2, "bounce", sentinel_pad="60 seconds")
    out = runner.run_to_memory(state.bounce_stream(sdf, gap_s=10, delay="1 second"), "bounce")
    got = {r.event_id: r.is_bounce for r in out.filter("user_id >= 0").collect()}
    assert got == {1: 1, 2: 1, 3: 0, 5: 1}


def test_stream_dedup_emits_each_key_once(spark):
    rows = [
        (1, 1, ts("2024-01-01 00:00:00"), "view", 0.0, None),
        (1, 2, ts("2024-01-01 05:00:00"), "view", 0.0, None),
        (1, 3, ts("2024-01-02 00:00:00"), "view", 0.0, None),
        (2, 4, ts("2024-01-01 00:00:00"), "view", 0.0, None),
    ]
    sdf = _stream_events(spark, rows, 2, "dedup")
    keyed = sdf.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
    out = runner.run_to_memory(state.streaming_dedup(keyed, ["user_id", "event_date"]), "dedup")
    assert {(r.user_id, r.event_date) for r in out.collect()} == {
        (1, "2024-01-01"), (1, "2024-01-02"), (2, "2024-01-01"),
    }


def test_stream_dedup_state_evicts_old_grains(spark):
    """T5's state must be bounded: the day-truncated event time is
    watermarked and part of the dedup subset, so state for days behind
    the watermark is evicted (the reference's 24 h TTL) instead of
    growing with stream length."""
    n_users, n_days = 8, 10
    rows = [
        (u, d * n_users + u, ts(f"2024-01-{d + 1:02d} 0{u % 2}:00:00"), "view", 0.0, None)
        for d in range(n_days)
        for u in range(n_users)
    ]
    sdf = _stream_events(spark, rows, 5, "dedup_evict")
    keyed = sdf.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd"))
    out = runner.run_to_memory(
        state.streaming_dedup(keyed, ["user_id", "event_date"]), "dedup_evict"
    )
    # emitted result is still the full distinct key set...
    assert out.count() == n_users * n_days
    # ...but the final state holds only the un-evicted tail of days, not
    # all n_days of keys (watermark = max(day) - 25h known at last commit)
    state_rows = [
        op["numRowsTotal"]
        for p in runner.LAST_PROGRESS[-1:]
        for op in p["stateOperators"]
    ]
    assert state_rows and state_rows[0] <= n_users * 4


def test_fanout_sink_routes_by_column(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)], "id long, sink_table string, v double"
    )
    in_dir = runner.stage_stream_dir(df, "id", 2, "fanout")
    sdf = runner.parquet_stream(spark, in_dir, df.schema)
    out_dir = str(tmp_path / "out")
    sinks.fanout_sink(sdf, "sink_table", out_dir, "fanout")
    back = spark.read.parquet(out_dir)
    assert back.count() == 3
    a_rows = spark.read.parquet(f"{out_dir}/sink_table=a")
    assert sorted(r.id for r in a_rows.collect()) == [1, 3]


def test_snapshot_merge_latest_version_wins(spark, tmp_path):
    base = spark.createDataFrame([(1, 10.0, 0), (2, 20.0, 0)], "pk long, val double, v int")
    updates = spark.createDataFrame([(1, 11.0, 1), (1, 12.0, 2), (3, 30.0, 1)], "pk long, val double, v int")
    in_dir = runner.stage_stream_dir(updates, "v", 2, "merge")
    sdf = runner.parquet_stream(spark, in_dir, updates.schema)
    sink = sinks.SnapshotMergeSink(str(tmp_path / "snap"), "pk", "v")
    sink.init(base)
    runner.run_foreach_batch(sdf, sink.write_batch, "merge")
    final = {r.pk: (r.val, r.v) for r in sink.current(spark).collect()}
    assert final == {1: (12.0, 2), 2: (20.0, 0), 3: (30.0, 1)}


def test_monotonic_watermark_zero_delay(spark):
    """T2: orders/payments are assumed ascending in the reference
    (forMonotonousTimestamps, OrderWideApp.java:64,76) — the Spark form is
    a 0-second watermark delay over a time-ordered replay."""
    rows = [
        (1, 1, ts("2024-01-01 00:00:01"), "view", 1.0, None),
        (1, 2, ts("2024-01-01 00:20:00"), "view", 2.0, None),
        (2, 3, ts("2024-01-01 01:00:00"), "view", 3.0, None),
    ]
    sdf = _stream_events(spark, rows, 3, "mono", sentinel_pad="11 minutes")
    out = runner.run_to_memory(
        windows.visitor_stats_stream(sdf, delay="0 seconds"), "mono"
    )
    got = {r.stt: r.pv_ct for r in out.filter("event_type = 'view'").collect()}
    assert got == {"2024-01-01 00:00:00": 1, "2024-01-01 00:20:00": 1, "2024-01-01 01:00:00": 1}


def test_late_rows_drop_past_watermark(spark):
    """T8: the reference silently drops late data (no allowedLateness
    anywhere); Spark's default matches. A row arriving in a later batch
    with ts far behind the advanced watermark must not resurrect its
    window."""
    # three on-time batches advance the watermark well past the first
    # window AND give eviction a batch to run; then the late row arrives
    early = [(1, 1, ts("2024-01-01 00:00:01"), "view", 1.0, None),
             (1, 2, ts("2024-01-01 02:00:00"), "view", 1.0, None),
             (1, 3, ts("2024-01-01 02:30:00"), "view", 1.0, None)]
    late = [(1, 4, ts("2024-01-01 00:00:05"), "view", 100.0, None)]  # 2.5h late
    df_early = spark.createDataFrame(
        early, "user_id long, event_id long, ts timestamp, event_type string, value double, props string"
    )
    df_late = spark.createDataFrame(late, df_early.schema)
    in_dir = runner.stage_stream_dir(df_early, "ts", 3, "late")
    runner.append_sentinel_file(in_dir, df_late, "late")
    sdf = runner.parquet_stream(spark, in_dir, df_early.schema)
    out = runner.run_to_memory(
        windows.visitor_stats_stream(sdf, delay="1 second"), "late"
    )
    rows = [r for r in out.collect() if r.stt == "2024-01-01 00:00:00"]
    # window emitted once, on time, with only the on-time row; the late
    # row neither merged into it nor resurrected a second emission
    assert [(r.pv_ct, r.value_sum) for r in rows] == [(1, 1.0)]


def test_cdc_envelope_parse_renames_create(spark):
    raw = spark.createDataFrame(
        [
            ('{"database":"d","tableName":"t","type":"create","after":{"id":"1"}}',),
            ('{"database":"d","tableName":"t","type":"delete","before":{"id":"1"}}',),
            ("not json",),
        ],
        "value string",
    )
    env = sources.parse_cdc_envelope(raw).collect()
    by_type = {r.type: r for r in env}
    assert "insert" in by_type and by_type["insert"].after["id"] == "1"
    assert "delete" in by_type and by_type["delete"].before["id"] == "1"
    assert any(r.type is None for r in env)  # dirty row survives with NULL envelope


@pytest.mark.slow
def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """T9: a second run sharing the checkpoint resumes from the committed
    source offsets — already-processed files are NOT re-emitted (the
    exactly-once half the reference forfeits by commenting checkpointing
    out and using producer semantic NONE, MyKafkaUtil.java:38-40)."""
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    first = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    first.coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        sdf = spark.readStream.schema("id long, v string").parquet(in_dir)
        q = (
            sdf.writeStream.format("parquet").option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return sorted(r["id"] for r in spark.read.parquet(out_dir).collect())

    assert run() == [1, 2]

    spark.createDataFrame([(3, "c")], "id long, v string").coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    # resumed run re-reads nothing: ids 1/2 appear exactly once, no dups
    assert run() == [1, 2, 3]


def test_out_of_order_within_delay_is_merged(spark):
    """T1's other half: a row arriving one batch late but INSIDE the
    watermark delay still lands in its event-time window (bounded
    out-of-orderness, VisitorStatsApp.java:129-130 — 11 s there; a wide
    delay here so the straggler is safely inside it)."""
    import glob
    import os
    import shutil

    on_time = [(1, 1, ts("2024-01-01 00:00:01"), "view", 1.0, None),
               (1, 2, ts("2024-01-01 00:20:00"), "view", 1.0, None),
               (1, 3, ts("2024-01-01 00:40:00"), "view", 1.0, None)]
    straggler = [(1, 4, ts("2024-01-01 00:00:05"), "view", 10.0, None)]  # 40 min behind
    df = spark.createDataFrame(
        on_time, "user_id long, event_id long, ts timestamp, event_type string, value double, props string"
    )
    in_dir = runner.stage_stream_dir(df, "ts", 3, "ooo")
    # straggler = its own file AFTER the on-time batches (watermark has
    # seen 00:40, delay=45min keeps it admissible), then a flush sentinel
    tmp = runner.scratch_dir("ooo_straggler")
    spark.createDataFrame(straggler, df.schema).coalesce(1).write.mode("overwrite").parquet(tmp)
    dst = os.path.join(in_dir, "yy-straggler.parquet")
    shutil.copyfile(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
    newest = max(
        os.path.getmtime(os.path.join(in_dir, f))
        for f in os.listdir(in_dir) if f.endswith(".parquet") and f != "yy-straggler.parquet"
    )
    os.utime(dst, (newest + 5, newest + 5))
    sent = runner.make_sentinel(df, "ts", "'2' HOUR", {"user_id": -1, "event_id": -1, "event_type": "__wm__"})
    runner.append_sentinel_file(in_dir, sent, "ooo")

    sdf = runner.parquet_stream(spark, in_dir, df.schema)
    out = runner.run_to_memory(windows.visitor_stats_stream(sdf, delay="45 minutes"), "ooo")
    rows = [r for r in out.collect() if r.stt == "2024-01-01 00:00:00"]
    assert [(r.pv_ct, r.value_sum) for r in rows] == [(2, 11.0)]


def test_fanout_replayed_batch_is_idempotent(spark, tmp_path):
    """K2 exactly-once: re-running a micro-batch (foreachBatch is
    at-least-once) overwrites its own (dest, batch) partitions — no
    duplicate rows after a replay."""
    out = str(tmp_path / "fan")
    b0 = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "id long, sink_table string, v double")

    write = sinks.fanout_batch_writer("sink_table", out)  # the PRODUCTION writer
    write(b0, 0)
    write(b0, 0)  # replay of the SAME batch id
    b1 = spark.createDataFrame([(3, "a", 3.0)], "id long, sink_table string, v double")
    write(b1, 1)
    back = spark.read.parquet(out)
    assert back.count() == 3  # no duplicates from the replay
    assert sorted(r["id"] for r in back.filter("sink_table = 'a'").collect()) == [1, 3]


def test_stream_bounce_exactly_gap_boundary(spark):
    """T7 boundary: a continuation arriving at EXACTLY +gap is outside the
    CEP window (within(10s) is exclusive at the edge) -> bounce; at
    gap-1ms it is inside -> not a bounce. Pins the µs-predicate/ms-timeout
    alignment in state._bounce_fn."""
    rows = [
        (1, 1, ts("2024-01-01 00:00:00"), "view", 0.0, None),
        (1, 2, ts("2024-01-01 00:00:10"), "click", 0.0, None),          # exactly +10s
        (2, 3, ts("2024-01-01 00:00:00"), "view", 0.0, None),
        (2, 4, ts("2024-01-01 00:00:09.999000"), "click", 0.0, None),   # inside
    ]
    sdf = _stream_events(spark, rows, 2, "bgap", sentinel_pad="60 seconds")
    out = runner.run_to_memory(state.bounce_stream(sdf, gap_s=10, delay="1 second"), "bgap")
    got = {r.event_id: r.is_bounce for r in out.filter("user_id >= 0").collect()}
    assert got == {1: 1, 3: 0}


def _random_bounce_events(seed: int, n_users: int = 50):
    """Events for ``n_users`` users over ten minutes on whole
    milliseconds, with equal-ts ties, successors at exactly the 10 s gap
    and successors 1 ms inside it. Returns (rows, {event_id: ts in ms})."""
    import random

    rng = random.Random(seed)
    t0_ms = int(ts("2024-01-01 00:00:00").timestamp()) * 1000
    rows, ts_ms = [], {}
    for u in range(n_users):
        t = t0_ms + rng.randrange(0, 540_000)
        for _ in range(rng.randrange(2, 12)):
            kind = rng.random()
            if kind < 0.15:
                pass  # tie: same ts as the previous event
            elif kind < 0.3:
                t += 10_000  # successor at exactly the gap
            elif kind < 0.4:
                t += 9_999  # successor 1 ms inside the gap
            else:
                t += rng.randrange(0, 25_000)
            eid = len(rows) + 1
            ts_ms[eid] = t
            # naive local time, as Spark reads it back to the same instant
            at = datetime.fromtimestamp(t // 1000).replace(microsecond=t % 1000 * 1000)
            rows.append((u, eid, at, rng.choice(["view", "view", "click", "cart"]), 0.0, None))
    return rows, ts_ms


def test_stream_bounce_random_matches_batch_lead_batch_by_batch(spark):
    """The bucketed bounce operator against the batch lead() rule
    (operators/bounce.mark_bounces, event_id tiebreak) on random events
    over 6 micro-batches: every entry is decided exactly once, with the
    batch rule's verdict, in the FIRST micro-batch whose watermark passes
    entry.ts + gap; and the state holds at most one row per bucket."""
    from flinkrealtimedatawarehouse_spark.operators import bounce

    rows, ts_ms = _random_bounce_events(7)
    sdf = _stream_events(spark, rows, 6, "brand", sentinel_pad="60 seconds")
    emitted = []

    def collect(df, bid):
        emitted.extend((bid, r.user_id, r.event_id, r.is_bounce) for r in df.collect())

    runner.run_foreach_batch(state.bounce_stream(sdf, gap_s=10, delay="1 second"), collect, "brand")
    progress = runner.LAST_PROGRESS
    got = [(bid, u, e, b) for bid, u, e, b in emitted if u >= 0]
    assert len({bid for bid, *_ in got}) >= 4  # decisions spread over batches
    assert max(
        op["numRowsTotal"] for p in progress for op in p["stateOperators"]
    ) <= state.BOUNCE_BUCKETS

    src = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string, value double, props string"
    )
    expect = {
        r.event_id: (r.user_id, r.is_bounce)
        for r in bounce.mark_bounces(
            src, "user_id", "ts", F.col("event_type") == "view", 10, tiebreak="event_id"
        ).collect()
    }
    assert len(got) == len(expect)
    assert {e: (u, b) for _, u, e, b in got} == expect

    def wm_ms(p):
        at = datetime.fromisoformat(p["eventTime"]["watermark"].replace("Z", "+00:00"))
        return int(at.replace(microsecond=0).timestamp()) * 1000 + at.microsecond // 1000

    watermarks = sorted((p["batchId"], wm_ms(p)) for p in progress)
    for bid, _, e, _ in got:
        first = next(b for b, wm in watermarks if wm > ts_ms[e] + 10_000)
        assert bid == first, (e, bid, first)


def test_stream_bounce_then_window_chain(spark):
    """T7→A1 multi-stateful chain (VisitorStatsApp.java:126): the CEP
    bounce decision stream feeds a watermarked tumble in ONE checkpointed
    query. The downstream watermark node only sees *decided* entries, so
    flushing the tail window needs a decidable sentinel entry (sentinel1,
    an entry past every real window end + the agg delay) followed by a
    later watermark pusher (sentinel2 > sentinel1 + gap + delay) that
    makes sentinel1's decision emit and drag the downstream watermark
    past the real windows."""
    rows = [
        # window [00:00, 00:01): u1 entry -> continuation (no bounce),
        # u2 entry -> timeout (bounce)
        (1, 1, ts("2024-01-01 00:00:01"), "view", 0.0, None),
        (1, 2, ts("2024-01-01 00:00:05"), "click", 0.0, None),
        (2, 3, ts("2024-01-01 00:00:02"), "view", 0.0, None),
        # window [00:01, 00:02): u3 entry -> entry (bounce), then
        # entry -> continuation (no bounce)
        (3, 4, ts("2024-01-01 00:01:30"), "view", 0.0, None),
        (3, 5, ts("2024-01-01 00:01:32"), "view", 0.0, None),
        (3, 6, ts("2024-01-01 00:01:35"), "click", 0.0, None),
    ]
    src = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string, value double, props string"
    )
    in_dir = runner.stage_stream_dir(src, "ts", 2, "bchain")
    # sentinel1: an ENTRY at +200s (00:04:55) — decidable, rides through
    # to the downstream watermark node; its own window is filtered out
    # sentinel2: +300s (00:06:35) — pushes the source watermark past
    # sentinel1+gap so sentinel1's decision actually emits
    for pad, etype, name in [
        ("200 seconds", "view", "zzz-sentinel.parquet"),
        ("300 seconds", "__wm__", "zzz-sentinel2.parquet"),
    ]:
        sent = runner.make_sentinel(
            src, "ts", pad, {"user_id": -1, "event_id": -1, "event_type": etype}
        )
        runner.append_sentinel_file(in_dir, sent, f"bchain_{name}", name)
    sdf = runner.parquet_stream(spark, in_dir, src.schema)
    out = runner.run_to_memory(
        state.bounce_stats_stream(
            sdf, gap_s=10, delay="1 second", duration="1 minute"
        ),
        "bchain",
        conf_overrides=state.CHAIN_STREAM_CONFS,
    )
    got = {
        r.stt: (r.entry_ct, r.bounce_ct, r.uv_ct)
        for r in out.filter("stt < '2024-01-01 00:04'").collect()
    }
    assert got == {
        "2024-01-01 00:00:00": (2, 1, 2),
        "2024-01-01 00:01:00": (2, 1, 1),
    }
    # the chain ran as ONE query with BOTH stateful operators, and final
    # state is bounded: bounce keeps only the undecided tail (sentinel2's
    # buffered non-entry), the agg only the unclosed sentinel window
    ops = runner.LAST_PROGRESS[-1]["stateOperators"]
    assert len(ops) == 2
    assert sum(op["numRowsTotal"] for op in ops) <= 4


def test_stream_bounce_chain_entry_late_in_window(spark):
    """The chain's hard case: a timeout-decided entry in the LAST ``gap``
    seconds of its tumble, with the watermark landing between the window
    end and entry+gap on an intermediate batch. Windowing the rollup on
    entry_ts silently dropped this row (Spark's late filter uses the
    previous batch's watermark, which had already passed the window
    end); the decide_ts-phased window keeps it."""
    rows = [
        (9, 1, ts("2024-01-01 00:00:00"), "click", 0.0, None),
        # entry at 00:00:55: window [00:00, 00:01), decidable at wm > 00:01:05
        (1, 2, ts("2024-01-01 00:00:55"), "view", 0.0, None),
        # pushes wm to 00:01:02 — past the window end, short of entry+gap
        (9, 3, ts("2024-01-01 00:01:03"), "click", 0.0, None),
        # pushes wm to 00:03:19 — the decision emits in this batch
        (9, 4, ts("2024-01-01 00:03:20"), "click", 0.0, None),
        (9, 5, ts("2024-01-01 00:05:00"), "click", 0.0, None),
    ]
    src = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string, value double, props string"
    )
    in_dir = runner.stage_stream_dir(src, "ts", 5, "bchainlate")
    sdf = runner.parquet_stream(spark, in_dir, src.schema)
    confs_before = {k: spark.conf.get(k) for k in state.CHAIN_STREAM_CONFS}
    out = runner.run_to_memory(
        state.bounce_stats_stream(sdf, gap_s=10, delay="1 second", duration="1 minute"),
        "bchainlate",
        conf_overrides=state.CHAIN_STREAM_CONFS,
    )
    got = {r.stt: (r.entry_ct, r.bounce_ct, r.uv_ct) for r in out.collect()}
    assert got == {"2024-01-01 00:00:00": (1, 1, 1)}
    # the chain's watermark-policy/checker overrides are scoped to the run:
    # 'max' or a disabled checker leaking session-wide would silently
    # change every later multi-watermark query (stream-stream joins)
    assert {k: spark.conf.get(k) for k in state.CHAIN_STREAM_CONFS} == confs_before


def test_stream_session_window_matches_batch_sessionize(spark):
    """W4 twins: the streaming session_window aggregation and the batch
    lag/running-sum sessionizer must produce identical sessions,
    INCLUDING at exactly +gap (end-inclusive merge on both sides)."""
    from flinkrealtimedatawarehouse_spark.operators import sessions

    rows = [
        (1, 1, ts("2024-01-01 00:00:00"), "view", 0.0, None),
        (1, 2, ts("2024-01-01 00:00:10"), "view", 0.0, None),   # exactly +gap: same session
        (1, 3, ts("2024-01-01 00:00:25"), "view", 0.0, None),   # +15s: new session
        (2, 4, ts("2024-01-01 00:00:03"), "view", 0.0, None),
    ]
    sdf = _stream_events(spark, rows, 2, "w4p", sentinel_pad="60 seconds")
    streamed = runner.run_to_memory(
        windows.session_stats_stream(sdf, "user_id", "ts", "10 seconds", "1 second"), "w4p"
    ).filter("user_id >= 0")
    got_stream = {
        (r.user_id, r.session_start): (r.n_events, r.session_end, r.dur_sec)
        for r in streamed.collect()
    }

    batch_df = spark.createDataFrame(
        [(u, e, t) for (u, e, t, *_rest) in rows], "user_id long, event_id long, ts timestamp"
    )
    got_batch = {
        (r.user_id, r.session_start): (r.n_events, r.session_end, r.dur_sec)
        for r in sessions.session_stats(batch_df, "user_id", "ts", 10, tiebreak="event_id").collect()
    }
    assert got_stream == got_batch
    assert got_stream[(1, ts("2024-01-01 00:00:00"))] == (2, ts("2024-01-01 00:00:10"), 10.0)
    assert (1, ts("2024-01-01 00:00:25")) in got_stream


def test_stream_sliding_windows_overlap_and_close(spark):
    """T4 sliding: one event falls in size/slide overlapping windows; each
    window emits once closed, with counts summing events in its span."""
    rows = [
        (1, 1, ts("2024-01-01 00:00:05"), "view", 1.0, None),   # windows [-5:00,0:05) x2... see asserts
        (1, 2, ts("2024-01-01 00:00:14"), "view", 2.0, None),
        (2, 3, ts("2024-01-01 00:00:21"), "view", 4.0, None),
    ]
    sdf = _stream_events(spark, rows, 2, "slide", sentinel_pad="60 seconds")
    out = runner.run_to_memory(
        windows.sliding_stats_stream(sdf, size="20 seconds", slide="10 seconds", delay="1 second"),
        "slide",
    ).filter("event_type = 'view'")
    got = {(r.stt[-8:], r.edt[-8:]): (r.pv_ct, r.value_sum) for r in out.collect()}
    # each event appears in exactly size/slide = 2 windows
    assert got[("23:59:50", "00:00:10")] == (1, 1.0)            # ev1 only
    assert got[("00:00:00", "00:00:20")] == (2, 3.0)            # ev1 + ev2
    assert got[("00:00:10", "00:00:30")] == (2, 6.0)            # ev2 + ev3
    assert got[("00:00:20", "00:00:40")] == (1, 4.0)            # ev3 only
    assert len(got) == 4


def test_additive_gold_sink_folds_batches_and_ignores_replay(spark, tmp_path):
    """Incremental running totals: two batches folded == one-shot groupBy;
    replaying an already-applied batch id is a no-op (at-least-once
    foreachBatch delivery)."""
    b0 = spark.createDataFrame(
        [("a", 10.0), ("a", 5.0), ("b", 1.0)], "k string, v double"
    )
    b1 = spark.createDataFrame(
        [("a", 2.0), ("c", 7.0)], "k string, v double"
    )
    sink = sinks.AdditiveGoldSink(str(tmp_path / "gold"), ["k"], {"total": ("v", "sum"), "ct": ("v", "count")})
    sink.write_batch(b0, 0)
    sink.write_batch(b0, 0)   # replay of batch 0: no-op
    sink.write_batch(b1, 1)
    sink.write_batch(b1, 1)   # replay of batch 1: no-op

    got = {r.k: (r.total, r.ct) for r in sink.current(spark).collect()}
    assert got == {"a": (17.0, 3.0), "b": (1.0, 1.0), "c": (7.0, 1.0)}

    # RESTART: a fresh sink object recovers (version, last_bid) from the
    # committed marker — the replayed batch 1 is still a no-op and the
    # accumulated totals survive
    sink2 = sinks.AdditiveGoldSink(
        str(tmp_path / "gold"), ["k"], {"total": ("v", "sum"), "ct": ("v", "count")}
    )
    sink2.write_batch(b1, 1)  # redelivered after restart: no-op
    got2 = {r.k: (r.total, r.ct) for r in sink2.current(spark).collect()}
    assert got2 == got
    b2 = spark.createDataFrame([("b", 4.0)], "k string, v double")
    sink2.write_batch(b2, 2)  # new batch folds on top of recovered state
    assert {r.k: r.total for r in sink2.current(spark).collect()}["b"] == 5.0


def test_dynamic_config_update_between_batches(spark, tmp_path):
    """T6 parity with the reference's LIVE config: table_process is itself
    a CDC stream there (BaseDBApp.java:69-93) — routing rules can change
    mid-stream. The Spark form re-reads the config snapshot inside each
    foreachBatch, so an update applied between micro-batches redirects
    the NEXT batch while earlier batches keep their old routing."""
    cfg_sink = sinks.SnapshotMergeSink(str(tmp_path / "cfg"), "key", "ver")
    cfg_sink.init(spark.createDataFrame(
        [("orders-insert", "orders", "insert", "fact_orders", 0)],
        "key string, tableName string, type string, sink_table string, ver int",
    ))

    rows = [(i, "orders", "insert", float(i)) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "id long, tableName string, type string, total double")
    in_dir = runner.stage_stream_dir(df, "id", 2, "dyncfg")
    sdf = runner.parquet_stream(spark, in_dir, df.schema)

    out_dir = str(tmp_path / "routed")
    seen = []

    def route_batch(batch, bid):
        cfg = cfg_sink.current(batch.sparkSession)  # re-read: live config
        routed = batch.join(F.broadcast(cfg), ["tableName", "type"], "inner")
        routed.select("id", "total", "sink_table").write.mode("append").parquet(out_dir)
        seen.append(bid)
        if len(seen) == 1:  # config CDC lands between micro-batches
            cfg_sink.write_batch(batch.sparkSession.createDataFrame(
                [("orders-insert", "orders", "insert", "dim_orders", 1)],
                "key string, tableName string, type string, sink_table string, ver int",
            ), 0)

    runner.run_foreach_batch(sdf, route_batch, "dyncfg")
    back = spark.read.parquet(out_dir)
    by_dest = {r.sink_table: sorted(x.id for x in back.filter(F.col("sink_table") == r.sink_table).collect())
               for r in back.select("sink_table").distinct().collect()}
    assert len(seen) == 2
    # batch 0 (ids 1-3) routed by config v0; batch 1 (ids 4-6) by the update
    assert by_dest == {"fact_orders": [1, 2, 3], "dim_orders": [4, 5, 6]}


@pytest.mark.slow
def test_band_state_neardup_split_invariant_and_matches_batch_lsh(spark, tmp_path):
    """Streaming near-dup flags must (a) not depend on how the id-ordered
    stream is split into micro-batches and (b) equal the directional batch
    LSH relation (dup iff a smaller-id doc shares a band)."""
    from flinkrealtimedatawarehouse_spark.streaming import neardup
    from flinkrealtimedatawarehouse_spark.datapipeline import textdedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base + " extra"),            # near-dup of 1 (shares bands)
        (3, "completely different words about spark catalyst tungsten engines"),
        (4, base),                        # exact text of 1 -> dup
        (5, "tiny"),                      # too few tokens: no bands, never dup
        (6, "completely different words about spark catalyst tungsten engine room"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run(splits, tag):
        sink = neardup.BandStateNearDupSink(
            str(tmp_path / tag), "doc_id", "text", shingle_n=3, k=16, bands=8
        )
        sink.init(spark)
        for i, ids in enumerate(splits):
            sink.write_batch(docs.filter(F.col("doc_id").isin(ids)), i)
        return {r.doc_id: r.is_near_dup for r in sink.flags(spark).collect()}

    one = run([[1, 2, 3, 4, 5, 6]], "nd_one")
    many = run([[1], [2, 3], [4, 5], [6]], "nd_many")
    assert one == many

    # directional batch-LSH reference over the same corpus
    sigs = textdedup.minhash_signatures(docs, "doc_id", "text", 3, 16)
    pairs = {
        (r.id_a, r.id_b)
        for r in textdedup.lsh_candidate_pairs(sigs, "doc_id", 8, 2).collect()
    }
    expect = {d: 0 for d, _ in rows}
    for a, b in pairs:
        expect[max(a, b)] = 1
    assert one == expect
    assert one[4] == 1 and one[5] == 0


def test_band_state_neardup_marks_late_smaller_id(spark, tmp_path):
    # Out-of-order arrival (mirror of the span sink's late-small-id case):
    # a LATE near-duplicate with a smaller id than the already-emitted
    # holder must itself be flagged — under the old merged-min rule the
    # late doc became the band minimum, compared min_id < id false, and
    # the duplicate pair vanished from the output entirely.
    from flinkrealtimedatawarehouse_spark.streaming import neardup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    sink = neardup.BandStateNearDupSink(
        str(tmp_path / "nd_late"), "doc_id", "text", shingle_n=3, k=16, bands=8
    )
    sink.init(spark)
    sink.write_batch(
        spark.createDataFrame([(10, base)], "doc_id long, text string"), 0
    )
    sink.write_batch(
        spark.createDataFrame([(5, base)], "doc_id long, text string"), 1
    )
    got = {r.doc_id: r.is_near_dup for r in sink.flags(spark).collect()}
    assert got[10] == 0      # emitted first, unflagged
    assert got[5] == 1       # late arrival carries the flag
    # state keeps the smaller id as canonical for future batches
    mins = {r.min_id for r in sink.state(spark).collect()}
    assert mins == {5}


def test_rocksdb_state_store_results_match_default(spark, tmp_path):
    """The RocksDB provider (the 100 TB state configuration) must produce
    byte-identical results to the default heap provider on the same
    stateful query — watermarked streaming dedup with composite keys."""
    rows = [
        (u, e, f"2024-01-01 00:{m:02d}:{s:02d}")
        for e, (u, m, s) in enumerate(
            [(1, 0, 0), (1, 0, 0), (2, 0, 5), (1, 1, 0), (2, 1, 30), (3, 2, 0),
             (1, 0, 0), (2, 0, 5), (3, 2, 59)]
        )
    ]

    def run(tag, rocks):
        df = spark.createDataFrame(rows, "user_id long, event_id long, ts_s string") \
            .select("user_id", "event_id", F.to_timestamp("ts_s").alias("ts"))
        src = str(tmp_path / f"in_{tag}")
        df.coalesce(3).write.mode("overwrite").parquet(src)
        runner.use_rocksdb_state(spark, rocks)
        try:
            sdf = spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
            dedup = sdf.withWatermark("ts", "10 minutes").dropDuplicates(["user_id", "ts"])
            q = (dedup.writeStream.format("memory").queryName(f"rdb_{tag}")
                 .outputMode("append")
                 .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
                 .trigger(availableNow=True).start())
            q.awaitTermination(300)
        finally:
            runner.use_rocksdb_state(spark, False)
        return sorted(
            (r.user_id, str(r.ts)) for r in spark.sql(f"select * from rdb_{tag}").collect()
        )

    default = run("heap", rocks=False)
    rocksdb = run("rocks", rocks=True)
    assert default == rocksdb
    assert len(rocksdb) == 6  # 3 duplicate (user_id, ts) pairs dropped


def test_additive_gold_backfill_replaces_slice(spark, tmp_path):
    """Late corrections: backfill recomputes the affected keys from the
    corrected history and replaces (not re-adds) their gold rows;
    untouched keys keep their incrementally-folded totals, and an
    explicit empty correction deletes a key."""
    sink = sinks.AdditiveGoldSink(
        str(tmp_path / "gold"), ["k"], {"total": ("v", "sum"), "ct": ("v", "count")}
    )
    sink.write_batch(
        spark.createDataFrame([("a", 10.0), ("b", 1.0)], "k string, v double"), 0
    )
    sink.write_batch(
        spark.createDataFrame([("a", 90.0), ("c", 7.0)], "k string, v double"), 1
    )
    # 'a' turns out to have been double-counted: corrected history is one row
    sink.backfill(spark.createDataFrame([("a", 10.0)], "k string, v double"))
    got = {r.k: (r.total, r.ct) for r in sink.current(spark).collect()}
    assert got == {"a": (10.0, 1.0), "b": (1.0, 1.0), "c": (7.0, 1.0)}

    # delete 'c' outright: key listed, no corrected rows
    sink.backfill(
        spark.createDataFrame([], "k string, v double"),
        keys_df=spark.createDataFrame([("c",)], "k string"),
    )
    got = {r.k: (r.total, r.ct) for r in sink.current(spark).collect()}
    assert got == {"a": (10.0, 1.0), "b": (1.0, 1.0)}

    # streaming continues on the repaired snapshot, replay ids intact
    sink.write_batch(
        spark.createDataFrame([("a", 5.0)], "k string, v double"), 1
    )  # replay: no-op
    sink.write_batch(
        spark.createDataFrame([("a", 5.0)], "k string, v double"), 2
    )
    got = {r.k: (r.total, r.ct) for r in sink.current(spark).collect()}
    assert got == {"a": (15.0, 2.0), "b": (1.0, 1.0)}


def test_incremental_topk_equals_batch_for_any_split(spark, tmp_path):
    """Monotone merge: the running top-k must equal the batch brute-force
    top-k over the full corpus regardless of micro-batch boundaries."""
    import random

    from flinkrealtimedatawarehouse_spark.datapipeline.similarity import cosine_topk
    from flinkrealtimedatawarehouse_spark.streaming import simsearch

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = emb.filter(F.col("vec_id") < 3)

    want = sorted(
        (r.probe_id, r.rank, r.neighbor_id, r.cosine)
        for r in cosine_topk(emb, probes, "vec_id", "embedding", k=4).collect()
    )

    for tag, splits in (("even", [range(0, 20), range(20, 40), range(40, 60)]),
                        ("skew", [range(0, 3), range(3, 50), range(50, 60)])):
        sink = simsearch.IncrementalTopKSink(
            str(tmp_path / f"tk_{tag}"), probes, "vec_id", "embedding", k=4
        )
        sink.init(spark)
        for i, ids in enumerate(splits):
            sink.write_batch(emb.filter(F.col("vec_id").isin(list(ids))), i)
        got = sorted(
            (r.probe_id, r.rank, r.neighbor_id, r.cosine)
            for r in sink.current(spark).collect()
        )
        assert got == want, tag


def test_misra_gries_exact_regime_equals_groupby(spark, tmp_path):
    """With distinct keys <= m no reduction ever fires: counts equal a
    batch groupBy().count() exactly, for any micro-batch split."""
    from flinkrealtimedatawarehouse_spark.streaming import heavyhitters

    rows = [(f"k{i % 5}",) for i in range(200)]
    df = spark.createDataFrame(rows, "k string")
    sink = heavyhitters.MisraGriesSink(str(tmp_path / "mg_exact"), ["k"], m=10)
    sink.init(spark, "k string")
    third = len(rows) // 3
    for i, sl in enumerate((rows[:third], rows[third:2 * third], rows[2 * third:])):
        sink.write_batch(spark.createDataFrame(sl, "k string"), i)
    got = {r.k: (r.count_est, r.total_decrement) for r in sink.current(spark).collect()}
    want = {r.k: r["count"] for r in df.groupBy("k").count().collect()}
    assert {k: v[0] for k, v in got.items()} == want
    assert all(v[1] == 0 for v in got.values())


def test_misra_gries_bounds_hold_under_eviction(spark, tmp_path):
    """Approximate regime (m << distinct): every estimate under-counts by
    at most total_decrement, total_decrement <= n/(m+1), and a true heavy
    hitter can never be evicted."""
    import random

    from flinkrealtimedatawarehouse_spark.streaming import heavyhitters

    rng = random.Random(13)
    # one heavy key (30% of stream) + a long tail of near-unique keys
    stream = []
    for i in range(1200):
        stream.append(("hot",) if rng.random() < 0.3 else (f"tail{rng.randrange(400)}",))
    n, m = len(stream), 20
    true = {}
    for (k,) in stream:
        true[k] = true.get(k, 0) + 1

    sink = heavyhitters.MisraGriesSink(str(tmp_path / "mg_approx"), ["k"], m=m)
    sink.init(spark, "k string")
    for i in range(4):
        sl = stream[i * n // 4:(i + 1) * n // 4]
        sink.write_batch(spark.createDataFrame(sl, "k string"), i)

    rows = sink.current(spark).collect()
    assert rows and len(rows) <= m
    d = rows[0].total_decrement
    assert d <= n / (m + 1)
    for r in rows:
        assert r.count_est <= true[r.k]          # never over-counts
        assert r.count_est >= true[r.k] - d      # bounded under-count
    # the heavy hitter (freq 0.3 >> 1/(m+1)) must be present
    assert any(r.k == "hot" for r in rows)


def test_misra_gries_full_eviction_keeps_decrement(spark, tmp_path):
    """Review repro: a reduction that evicts EVERY counter must not lose
    the accumulated decrement (it rides in the committed marker, not the
    rows) — otherwise later estimates report a false error envelope."""
    from flinkrealtimedatawarehouse_spark.streaming import heavyhitters

    sink = heavyhitters.MisraGriesSink(str(tmp_path / "mg_evict"), ["k"], m=3)
    sink.init(spark, "k bigint")
    sink.write_batch(spark.createDataFrame([(0,), (1,), (2,), (3,)], "k bigint"), 0)
    assert sink.current(spark).count() == 0  # all four counters evicted
    sink.write_batch(spark.createDataFrame([(0,)], "k bigint"), 1)
    r = sink.current(spark).collect()[0]
    # true count of key 0 is 2; est=1 is only valid with decrement=1
    assert (r.k, r.count_est, r.total_decrement) == (0, 1, 1)
    assert r.count_est >= 2 - r.total_decrement


def test_snapshot_sinks_replay_and_restart(spark, tmp_path):
    """The shared durability contract: a redelivered batch id is a no-op
    (no double-fold/over-count), and a fresh sink object on the same dir
    resumes the committed state instead of clobbering it."""
    from flinkrealtimedatawarehouse_spark.streaming import heavyhitters, simsearch

    mg = heavyhitters.MisraGriesSink(str(tmp_path / "mg_replay"), ["k"], m=8)
    mg.init(spark, "k string")
    b = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    mg.write_batch(b, 0)
    mg.write_batch(b, 0)  # redelivery: must not double-count
    assert {r.k: r.count_est for r in mg.current(spark).collect()} == {"a": 2, "b": 1}

    # restart: recovered object continues, replayed id still a no-op
    mg2 = heavyhitters.MisraGriesSink(str(tmp_path / "mg_replay"), ["k"], m=8)
    mg2.init(spark, "k string")  # must NOT clobber recovered state
    mg2.write_batch(b, 0)        # still a replay
    mg2.write_batch(spark.createDataFrame([("b",)], "k string"), 1)
    assert {r.k: r.count_est for r in mg2.current(spark).collect()} == {"a": 2, "b": 2}

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)], "vec_id long, embedding array<float>"
    )
    probes = emb.filter(F.col("vec_id") < 2)
    tk = simsearch.IncrementalTopKSink(str(tmp_path / "tk_replay"), probes,
                                       "vec_id", "embedding", k=3)
    tk.init(spark)
    tk.write_batch(emb, 0)
    before = sorted((r.probe_id, r.rank, r.neighbor_id) for r in tk.current(spark).collect())
    tk.write_batch(emb, 0)  # redelivery: duplicate neighbors must not evict true top-k
    after = sorted((r.probe_id, r.rank, r.neighbor_id) for r in tk.current(spark).collect())
    assert before == after


def test_backfill_explicit_keys_scope_the_repair(spark, tmp_path):
    """Corrected rows for keys OUTSIDE an explicit keys_df must be
    ignored — not folded in as duplicate gold rows."""
    sink = sinks.AdditiveGoldSink(
        str(tmp_path / "gold_scope"), ["k"], {"total": ("v", "sum")}
    )
    sink.write_batch(
        spark.createDataFrame([("a", 10.0), ("b", 5.0)], "k string, v double"), 0
    )
    # corrected history mentions both a and b, but only a is being repaired
    sink.backfill(
        spark.createDataFrame([("a", 1.0), ("b", 99.0)], "k string, v double"),
        keys_df=spark.createDataFrame([("a",)], "k string"),
    )
    rows = sink.current(spark).collect()
    assert len(rows) == 2  # exactly one row per key — no duplicate for b
    got = {r.k: r.total for r in rows}
    assert got == {"a": 1.0, "b": 5.0}


def test_snapshot_sink_lineage_mismatch_fails_loudly(spark, tmp_path):
    """Batch-id replay guards are only sound within one streaming
    checkpoint lineage; reusing a sink dir under a different declared
    lineage must raise instead of silently dropping the new query's
    first batches."""
    import pytest as _pytest

    from flinkrealtimedatawarehouse_spark.streaming import heavyhitters

    d = str(tmp_path / "mg_lineage")
    a = heavyhitters.MisraGriesSink(d, ["k"], m=4, lineage="ckpt-A")
    a.init(spark, "k string")
    a.write_batch(spark.createDataFrame([("x",)], "k string"), 0)
    with _pytest.raises(ValueError, match="lineage"):
        heavyhitters.MisraGriesSink(d, ["k"], m=4, lineage="ckpt-B")
    # same lineage resumes fine
    again = heavyhitters.MisraGriesSink(d, ["k"], m=4, lineage="ckpt-A")
    assert again.last_bid == 0


def test_multi_sink_splits_schemas_and_replays_idempotently(spark, tmp_path):
    """One foreachBatch, three destinations with different schemas
    (the BaseLogApp side-output pattern); a replayed batch rewrites its
    own slice in every branch instead of duplicating."""
    rows = [
        (1, "s1", None, 1.0),
        (2, None, "p1", 2.0),
        (3, None, "p2", 3.0),
    ]
    df = spark.createDataFrame(rows, "id long, start string, page string, v double")
    out = str(tmp_path / "split")
    writer = sinks.multi_sink(
        {
            "start": lambda b: b.filter(F.col("start").isNotNull()).select("id", "start"),
            "page": lambda b: b.filter(F.col("page").isNotNull()).select("id", "page", "v"),
            "all_sum": lambda b: b.groupBy().agg(F.sum("v").alias("v_sum")),
        },
        out,
    )
    writer(df, 0)
    writer(df, 0)  # replay: must not duplicate any branch
    start = spark.read.parquet(f"{out}/start")
    page = spark.read.parquet(f"{out}/page")
    s = spark.read.parquet(f"{out}/all_sum")
    assert sorted(r.id for r in start.collect()) == [1]
    assert sorted(r.id for r in page.collect()) == [2, 3]
    assert set(start.columns) == {"id", "start", "_bid"}
    assert set(page.columns) == {"id", "page", "v", "_bid"}
    assert s.count() == 1 and s.collect()[0].v_sum == 6.0


def test_stream_left_outer_interval_join_emits_null_for_unmatched(spark):
    # u1's purchase has a view 2 min earlier (inside [-15m, 0]) => matched;
    # u2's purchase has only a view 20 min earlier (outside) => emits with
    # NULL right side once the watermark passes the interval horizon.
    rows = [
        (2, 1, ts("2024-01-01 00:00:00"), "view", 0.0, None),
        (1, 2, ts("2024-01-01 00:18:00"), "view", 0.0, None),
        (1, 3, ts("2024-01-01 00:20:00"), "purchase", 0.0, None),
        (2, 4, ts("2024-01-01 00:20:00"), "purchase", 0.0, None),
    ]
    sdf = _stream_events(spark, rows, 2, "loj", sentinel_pad="20 minutes")
    is_sent = F.col("event_type") == "__wm__"
    pay = sdf.filter((F.col("event_type") == "purchase") | is_sent).select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    views = sdf.filter((F.col("event_type") == "view") | is_sent).select(
        F.col("user_id").alias("o_user"), F.col("ts").alias("o_ts")
    )
    joined = windows.interval_join_stream(
        pay, views, ("p_user", "o_user"), ("p_ts", "o_ts"),
        "'-15' MINUTE", "'0' SECOND", how="leftOuter", delay="1 minute",
    )
    out = runner.run_to_memory(joined, "loj").filter("p_user >= 0")
    got = {r.p_user: r.o_user for r in out.collect()}
    assert got == {1: 1, 2: None}


def _scd2_changes(spark):
    # key 1: insert, update, update; key 2: insert then delete then revive;
    # key 3: single insert. Versions globally unique, deliberately
    # interleaved across keys.
    return spark.createDataFrame(
        [
            (1, "a", 0, "insert"),
            (2, "x", 1, "insert"),
            (1, "b", 2, "update"),
            (2, "x", 3, "delete"),
            (3, "q", 4, "insert"),
            (1, "c", 5, "update"),
            (2, "y", 6, "insert"),
        ],
        "pk long, val string, v long, type string",
    )


_SCD2_WANT = {
    (1, 0): (2, False, "a"),
    (1, 2): (5, False, "b"),
    (1, 5): (None, True, "c"),
    (2, 1): (3, False, "x"),
    (2, 6): (None, True, "y"),
    (3, 4): (None, True, "q"),
}


def _scd2_got(sink, spark):
    return {
        (r.pk, r.valid_from): (r.valid_to, r.is_current, r.val)
        for r in sink.history(spark).collect()
    }


def test_scd2_sink_batch_split_invariant(spark, tmp_path):
    """The SCD2 history must be identical whether the changes arrive as
    one micro-batch or many — including a split that puts a key's delete
    and its revive in different batches."""
    ch = _scd2_changes(spark)
    for n_files, tag in [(1, "scd2one"), (4, "scd2many")]:
        in_dir = runner.stage_stream_dir(ch, "v", n_files, tag)
        sdf = runner.parquet_stream(spark, in_dir, ch.schema)
        sink = sinks.Scd2HistorySink(str(tmp_path / tag), "pk", "v")
        sink.init(ch)
        runner.run_foreach_batch(sdf, sink.write_batch, tag)
        assert _scd2_got(sink, spark) == _SCD2_WANT, tag


def test_scd2_sink_replay_and_restart(spark, tmp_path):
    """At-least-once redelivery is a no-op, and a restarted sink object on
    the same dir resumes the committed state instead of re-initializing."""
    ch = _scd2_changes(spark)
    base = str(tmp_path / "scd2rr")
    sink = sinks.Scd2HistorySink(base, "pk", "v")
    sink.init(ch)
    sink.write_batch(ch, 0)
    before = _scd2_got(sink, spark)
    sink.write_batch(ch, 0)  # redelivery: must not double-apply
    assert _scd2_got(sink, spark) == before == _SCD2_WANT

    resumed = sinks.Scd2HistorySink(base, "pk", "v")  # restart
    assert resumed.version == sink.version
    late = spark.createDataFrame([(3, "r", 7, "update")], ch.schema)
    resumed.write_batch(late, 1)
    got = _scd2_got(resumed, spark)
    assert got[(3, 4)] == (7, False, "q")
    assert got[(3, 7)] == (None, True, "r")


def test_scd2_write_batch_semijoins_raw_runs(spark, tmp_path):
    """Round-14 write-path optimization: the per-batch re-stamp semi-joins
    the RAW state runs (merged=False) to the touched keys BEFORE the
    group-latest merge window, instead of merging the full table first.
    Pin (a) that every state read inside write_batch is unmerged — the
    full-state per-key window is gone from the write path — and (b)
    history equality with the all-at-once feed under key-local batches
    (the split-invariant test pins even splits; this one pins the sparse
    shape the optimization targets)."""
    ch = _scd2_changes(spark)
    base = str(tmp_path / "scd2rawsemi")
    sink = sinks.Scd2HistorySink(base, "pk", "v", n_partitions=8)
    sink.init(ch)
    # key-local batches: each batch carries exactly one pk's changes
    per_key = {
        pk: [r for r in ch.collect() if r.pk == pk] for pk in (1, 2, 3)
    }
    merged_flags: list[bool] = []
    orig_read = sinks.Scd2HistorySink._read

    def spy_read(self, s, version, pids=None, merged=True):
        merged_flags.append(merged)
        return orig_read(self, s, version, pids=pids, merged=merged)

    sinks.Scd2HistorySink._read = spy_read
    try:
        for bid, pk in enumerate((1, 2, 3)):
            sink.write_batch(
                spark.createDataFrame(per_key[pk], ch.schema), bid
            )
    finally:
        sinks.Scd2HistorySink._read = orig_read
    # every state read during the batch loop bypassed the full-table
    # merge window (the semi-join runs on raw runs; merge_fn is applied
    # to the touched keys' rows only)
    assert merged_flags and not any(merged_flags)
    assert _scd2_got(sink, spark) == _SCD2_WANT


def test_stream_join_chained_into_windowed_agg(spark):
    """Multi-stateful: interval join -> watermarked tumble in ONE query.
    The reference crosses a Kafka topic between jobs for this chain
    (OrderWideApp -> ProvinceStatsSQLApp); Spark runs both stateful
    operators in the same checkpointed pipeline."""
    rows = [
        (1, 1, ts("2024-01-01 00:02:00"), "click", 5.0, None),
        (1, 2, ts("2024-01-01 00:04:00"), "purchase", 0.0, None),   # joins eid 1
        (2, 3, ts("2024-01-01 00:30:00"), "click", 7.0, None),
        (2, 4, ts("2024-01-01 00:40:00"), "purchase", 0.0, None),   # 10 min gap: no join
        (3, 5, ts("2024-01-02 00:00:30"), "click", 9.0, None),
        (3, 6, ts("2024-01-02 00:01:00"), "purchase", 0.0, None),   # joins eid 5, day 2
    ]
    sdf = _stream_events(spark, rows, 3, "chain", sentinel_pad="50 hours")
    is_sent = F.col("event_type") == "__wm__"
    left = sdf.filter((F.col("event_type") == "purchase") | is_sent).select(
        F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts")
    )
    right = sdf.filter((F.col("event_type") == "click") | is_sent).select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts"),
        F.col("value").alias("r_val"),
    )
    joined = windows.interval_join_stream(
        left, right, ("l_user", "r_user"), ("l_ts", "r_ts"), "'-5' MINUTE", "'5' MINUTE"
    )
    daily = (
        joined.groupBy(F.window("l_ts", "1 day"))
        .agg(F.count(F.lit(1)).alias("pair_ct"), F.round(F.sum("r_val"), 2).alias("val_sum"))
        .select(F.date_format(F.col("window.start"), "yyyy-MM-dd").alias("dt"),
                "pair_ct", "val_sum")
    )
    out = runner.run_to_memory(daily, "chain").filter("dt <= '2024-01-02'")
    got = {r.dt: (r.pair_ct, r.val_sum) for r in out.collect()}
    assert got == {"2024-01-01": (1, 5.0), "2024-01-02": (1, 9.0)}


def test_scd2_sink_schema_evolution_adds_column(spark, tmp_path):
    """Dim schema evolution: a later batch carries a NEW attribute column;
    historical rows surface it as NULL (the reference's config-driven
    sink_columns grow over time, TableProcessFunction.java:84-111)."""
    v1 = spark.createDataFrame([(1, "a", 0, "insert")],
                               "pk long, val string, v long, type string")
    v2 = spark.createDataFrame([(1, "b", 1, "update", "x")],
                               "pk long, val string, v long, type string, extra string")
    sink = sinks.Scd2HistorySink(str(tmp_path / "evo"), "pk", "v")
    sink.init(v1)
    sink.write_batch(v1, 0)
    sink.write_batch(v2, 1)
    got = {r.valid_from: (r.val, r.extra, r.is_current)
           for r in sink.history(spark).collect()}
    assert got == {0: ("a", None, False), 1: ("b", "x", True)}


def test_late_quarantine_sink_splits_by_high_watermark(spark, tmp_path):
    """T8 upgraded: a row older than (prior batches' max ts - delay) is
    captured in late/ instead of silently dropped; on-time rows flow to
    main/. The hwm lags one batch, matching Spark's watermark."""
    schema = "user_id long, event_id long, ts timestamp, event_type string, value double, props string"
    b0 = spark.createDataFrame(
        [(1, 1, ts("2024-01-01 01:00:00"), "view", 1.0, None),
         (1, 2, ts("2024-01-01 02:00:00"), "view", 1.0, None)], schema
    )
    b1 = spark.createDataFrame(
        [(1, 3, ts("2024-01-01 02:01:00"), "view", 1.0, None),   # on time
         (1, 4, ts("2024-01-01 00:10:00"), "view", 1.0, None),   # 1h50m late
         (1, 5, ts("2024-01-01 01:59:30"), "view", 1.0, None)],  # within delay
        schema,
    )
    sink = sinks.LateQuarantineSink(str(tmp_path / "q"), "ts", delay_s=60.0)
    sink.write_batch(b0, 0)   # no hwm yet: everything on time
    sink.write_batch(b1, 1)   # hwm = 02:00:00
    assert sorted(r.event_id for r in sink.main(spark).collect()) == [1, 2, 3, 5]
    assert [r.event_id for r in sink.late(spark).collect()] == [4]
    # replay of batch 1 is a no-op
    sink.write_batch(b1, 1)
    assert sink.late(spark).count() == 1
    # restart resumes the hwm from the marker
    resumed = sinks.LateQuarantineSink(str(tmp_path / "q"), "ts", delay_s=60.0)
    b2 = spark.createDataFrame(
        [(1, 6, ts("2024-01-01 01:00:00"), "view", 1.0, None)], schema  # late vs 02:01
    )
    resumed.write_batch(b2, 2)
    assert sorted(r.event_id for r in resumed.late(spark).collect()) == [4, 6]


def test_observe_metrics_per_batch(spark):
    """Observed metrics ride the existing plan (no second aggregation)
    and land in the query progress for every data-carrying batch."""
    rows = [
        (1, 1, ts("2024-01-01 00:00:01"), "view", 2.0, None),
        (1, 2, ts("2024-01-01 00:10:00"), "view", 3.0, None),
        (2, 3, ts("2024-01-01 01:00:00"), "view", 5.0, None),
    ]
    sdf = _stream_events(spark, rows, 3, "obs")
    metered = runner.observe_metrics(
        sdf, "ingest", row_ct=F.count(F.lit(1)), val_sum=F.sum("value"),
        null_props=F.sum(F.when(F.col("props").isNull(), 1).otherwise(0)),
    )
    runner.run_to_memory(metered, "obs")
    got = runner.observed("ingest")
    assert sum(m["row_ct"] for m in got) == 3
    assert sum(m["val_sum"] for m in got) == 10.0
    assert sum(m["null_props"] for m in got) == 3


def test_update_mode_reemits_growing_aggregates(spark):
    """T10's sibling: UPDATE output mode re-emits a group's row whenever a
    batch changes it — the changelog shape the reference pushes to
    ClickHouse row-by-row; the memory sink accumulates one row per
    revision, latest value last."""
    rows = [
        (1, 1, ts("2024-01-01 00:00:01"), "view", 1.0, None),
        (1, 2, ts("2024-01-01 00:00:02"), "view", 2.0, None),
        (1, 3, ts("2024-01-01 00:00:03"), "view", 4.0, None),
    ]
    sdf = _stream_events(spark, rows, 3, "updm")  # one row per micro-batch
    agg = sdf.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("ct"), F.sum("value").alias("v")
    )
    out = runner.run_to_memory(agg, "updm", output_mode="update")
    revisions = sorted((r.ct, r.v) for r in out.collect())
    assert revisions == [(1, 1.0), (2, 3.0), (3, 7.0)]


def test_stream_dedup_within_watermark_ttl_readmits_after_delay(spark):
    """TTL dedup twin: duplicates inside the delay emit once; a re-visit
    beyond the TTL emits again (the calendar-grain variant would collapse
    them if they shared a grain, and split them at midnight even when
    seconds apart — the two operators differ exactly there)."""
    rows = [
        # u1 dup within TTL, then re-visit 3 days later (past 24 h TTL)
        (1, 1, ts("2024-01-01 10:00:00"), "view", 0.0, None),
        (1, 2, ts("2024-01-01 18:00:00"), "view", 0.0, None),
        # u2 once
        (2, 4, ts("2024-01-01 11:00:00"), "view", 0.0, None),
        # u3 straddles midnight within TTL: calendar dedup would emit 2,
        # TTL dedup emits 1
        (3, 5, ts("2024-01-02 23:30:00"), "view", 0.0, None),
        (3, 6, ts("2024-01-03 00:30:00"), "view", 0.0, None),
        # watermark advancer: a batch BEFORE u1's re-visit must push the
        # watermark past u1's expiry (LAST duplicate sighting + 24 h — the
        # TTL refreshes on every dup) and the watermark lags one batch,
        # so eviction needs an intervening commit
        (8, 7, ts("2024-01-04 00:00:00"), "view", 0.0, None),
        # second advancer: eviction applies the watermark fixed at batch
        # START, so the wm must pass expiry one full batch before the
        # re-visit's batch
        (7, 10, ts("2024-01-04 06:00:00"), "view", 0.0, None),
        (1, 8, ts("2024-01-06 09:00:00"), "view", 0.0, None),
        # final advancer so the last batch's commit is past everything
        (9, 9, ts("2024-01-09 00:00:00"), "view", 0.0, None),
    ]
    sdf = _stream_events(spark, rows, 9, "dedup_ttl")
    out = runner.run_to_memory(
        state.streaming_dedup_within_watermark(sdf, ["user_id"], delay="24 hours"),
        "dedup_ttl",
    )
    counts = {r.user_id: r.ct for r in out.groupBy("user_id").agg(F.count("*").alias("ct")).collect()}
    assert counts[2] == 1
    assert counts[3] == 1          # straddles midnight but within TTL
    assert counts[1] == 2          # re-admitted after the TTL elapsed


def test_stream_funnel_matches_batch_greedy_semantics(spark):
    """funnel_stream must reproduce operators.behavior.funnel_counts'
    greedy chain per user: anchor = first step-1 event, later steps =
    earliest qualifying within the anchor window; one emission per user;
    a post-decision step-1 must NOT re-open the funnel."""
    from flinkrealtimedatawarehouse_spark.operators import behavior

    rows = [
        # u1 full chain inside 60 s
        (1, 1, ts("2024-01-01 00:00:00"), "view", 0.0, None),
        (1, 2, ts("2024-01-01 00:00:10"), "click", 0.0, None),
        (1, 3, ts("2024-01-01 00:00:20"), "purchase", 0.0, None),
        # u2: click exactly at the deadline (inclusive), purchase past it
        (2, 4, ts("2024-01-01 00:00:00"), "view", 0.0, None),
        (2, 5, ts("2024-01-01 00:01:00"), "click", 0.0, None),
        (2, 6, ts("2024-01-01 00:01:30"), "purchase", 0.0, None),
        # u3: purchase before click -> depth 2
        (3, 7, ts("2024-01-01 00:00:00"), "view", 0.0, None),
        (3, 8, ts("2024-01-01 00:00:05"), "purchase", 0.0, None),
        (3, 9, ts("2024-01-01 00:00:10"), "click", 0.0, None),
        # u4: never views -> no emission
        (4, 10, ts("2024-01-01 00:00:30"), "click", 0.0, None),
        # u1 again far later: tombstoned, must not re-emit
        (1, 11, ts("2024-01-01 02:00:00"), "view", 0.0, None),
        (1, 12, ts("2024-01-01 02:00:05"), "click", 0.0, None),
    ]
    sdf = _stream_events(spark, rows, 5, "funnel_s", sentinel_pad="10 minutes")
    out = runner.run_to_memory(
        state.funnel_stream(
            sdf, ["view", "click", "purchase"], window_s=60, delay="1 second"
        ),
        "funnel_s",
    ).filter(F.col("user_id") >= 0)
    got = {(r.user_id, r.depth) for r in out.collect()}
    assert got == {(1, 3), (2, 2), (3, 2)}

    # batch parity on the same rows
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string, value double, props string"
    )
    batch = {
        r.step: r.user_ct
        for r in behavior.funnel_counts(
            df, "user_id", "ts", "event_type", ["view", "click", "purchase"], "60 seconds"
        ).collect()
    }
    stream_counts = {
        j: sum(1 for _, d in got if d >= j) for j in (1, 2, 3)
    }
    assert stream_counts == batch


def test_concurrent_writers_fenced_not_corrupted(spark, tmp_path):
    """Single-writer enforcement on the Delta stand-in: two live sinks on
    one base_dir used to interleave snapshot versions silently; now the
    older claimant is FENCED — its write raises before touching data —
    and the newest claimant's committed state stays consistent."""
    import pytest as _pytest

    d = str(tmp_path / "gold_fence")
    spec = {"total": ("v", "sum")}
    a = sinks.AdditiveGoldSink(d, ["k"], spec)
    a.write_batch(spark.createDataFrame([("x", 1.0)], "k string, v double"), 0)

    # second writer claims the dir (the restart contract: newest wins)
    b = sinks.AdditiveGoldSink(d, ["k"], spec)
    b.write_batch(spark.createDataFrame([("x", 2.0)], "k string, v double"), 1)

    # the stale writer must fail loudly on its next write, not interleave
    with _pytest.raises(RuntimeError, match="fenced|claimed"):
        a.write_batch(spark.createDataFrame([("x", 99.0)], "k string, v double"), 2)

    # owner state is exactly batches 0+1 — the fenced write left no trace
    assert {r.k: r.total for r in b.current(spark).collect()} == {"x": 3.0}
    b.write_batch(spark.createDataFrame([("y", 5.0)], "k string, v double"), 2)
    got = {r.k: r.total for r in b.current(spark).collect()}
    assert got == {"x": 3.0, "y": 5.0}


def test_fenced_writer_mid_write_cannot_clobber_committed_data(spark, tmp_path):
    """The check-then-write hole: a writer that passes the early fence
    check and is fenced DURING its (slow) data write must still not
    replace the new owner's published snapshot — the stage-then-rename
    path re-checks the fence after the write and a rename can't land on
    the owner's non-empty dir."""
    import pytest as _pytest

    from flinkrealtimedatawarehouse_spark.streaming.snapshots import VersionedSnapshotSink

    d = str(tmp_path / "fence_toctou")
    a = VersionedSnapshotSink(d)
    a.snapshot_init(spark.createDataFrame([], "k string, v double"))
    a.commit_snapshot(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)

    b = VersionedSnapshotSink(d)  # claims ownership; resumes at version 1
    b.commit_snapshot(spark.createDataFrame([("b", 2.0)], "k string, v double"), 1)

    # a's NEXT version number collides with b's committed v2; simulate the
    # mid-write fencing by driving the staged write directly (a's early
    # check already passed before b existed, in this interleaving)
    with _pytest.raises(RuntimeError, match="fenced|claimed"):
        a._write_snapshot(spark.createDataFrame([("evil", 9.0)], "k string, v double"), 2)

    # b's committed v2 is untouched and no stage residue remains
    assert [tuple(r) for r in b.current(spark).collect()] == [("b", 2.0)]
    import os as _os
    assert not [p for p in _os.listdir(d) if ".stage-" in p]


@pytest.mark.slow
def test_streaming_classifier_gate_filters_in_flight(spark):
    """The trained quality classifier composes into streaming ingest:
    weights are literal expressions, so score+filter is a stateless map
    over each micro-batch — identical decisions to the batch gate."""
    from flinkrealtimedatawarehouse_spark.datapipeline import classifier, textstats

    train_rows = [(i, "good clean prose text here", 1) for i in range(1, 11)] + [
        (i, "spam junk garbage noise spam", 0) for i in range(11, 21)
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, text string, label int")
    feats = textstats.embed_text(train, "doc_id", "text", dim=8)
    w = classifier.train_logreg(feats, "embedding", "label", dim=8, n_iter=40, lr=2.0)

    stream_rows = [
        (100 + i, "good clean prose text here" if i % 2 == 0 else "spam junk garbage noise spam")
        for i in range(8)
    ]
    df = spark.createDataFrame(stream_rows, "doc_id long, text string")
    in_dir = runner.stage_stream_dir(df, "doc_id", 2, "clf_gate")
    sdf = runner.parquet_stream(spark, in_dir, df.schema)
    gated = classifier.filter_by_quality(
        textstats.embed_text(sdf, "doc_id", "text", dim=8), "embedding", w, 0.5
    )
    out = runner.run_to_memory(gated, "clf_gate")
    kept = sorted(r.doc_id for r in out.select("doc_id").collect())
    assert kept == [100, 102, 104, 106]

    batch_kept = sorted(
        r.doc_id
        for r in classifier.filter_by_quality(
            textstats.embed_text(df, "doc_id", "text", dim=8), "embedding", w, 0.5
        ).select("doc_id").collect()
    )
    assert kept == batch_kept


def test_vacuum_bounds_retention_and_survives_restart(spark, tmp_path):
    """VACUUM stand-in: old snapshot versions are dropped (marker first,
    data second), time travel narrows to the retained window, current()
    is untouched, and a restarted sink recovers the vacuum horizon."""
    import os as _os
    import pytest as _pytest

    from flinkrealtimedatawarehouse_spark.streaming.snapshots import VersionedSnapshotSink

    d = str(tmp_path / "vac")
    s = VersionedSnapshotSink(d)
    s.snapshot_init(spark.createDataFrame([], "k string, v double"))
    for i in range(4):
        s.commit_snapshot(
            spark.createDataFrame([(f"k{i}", float(i))], "k string, v double"), i
        )
    assert s.versions() == [0, 1, 2, 3, 4]

    removed = s.vacuum(keep_last=2)
    assert removed == [0, 1, 2]
    assert s.versions() == [3, 4]
    assert not _os.path.exists(_os.path.join(d, "v1"))
    assert [tuple(r) for r in s.current(spark).collect()] == [("k3", 3.0)]
    assert [tuple(r) for r in s.read_version(spark, 3).collect()] == [("k2", 2.0)]
    with _pytest.raises(ValueError, match="vacuumed|not available"):
        s.read_version(spark, 1)
    assert s.vacuum(keep_last=2) == []  # idempotent

    # restart: the horizon persists; new commits extend the window
    s2 = VersionedSnapshotSink(d)
    assert s2.versions() == [3, 4]
    s2.commit_snapshot(spark.createDataFrame([("k9", 9.0)], "k string, v double"), 9)
    assert s2.versions() == [3, 4, 5]

    # crash between marker commit and deletion: the orphan below the
    # horizon is collected by the NEXT vacuum even when the horizon
    # itself no longer advances
    _os.makedirs(_os.path.join(d, "v2"), exist_ok=True)
    with open(_os.path.join(d, "v2", "junk"), "w") as f:
        f.write("x")
    assert s2.vacuum(keep_last=3) == [2]
    assert not _os.path.exists(_os.path.join(d, "v2"))


@pytest.mark.slow
def test_span_state_sink_matches_batch_and_is_split_invariant(spark, tmp_path):
    """Streaming substring dedup: under id-ordered replay the per-doc
    coverage equals batch repeated_spans exactly, for ANY micro-batch
    split; a redelivered batch is a no-op."""
    from flinkrealtimedatawarehouse_spark.datapipeline import textdedup
    from flinkrealtimedatawarehouse_spark.streaming.neardup import SpanStateDedupSink

    quote = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, f"intro words here {quote} closing remark one"),
        (2, f"other document text {quote} and a different tail entirely"),
        (3, f"{quote} padding padding2 {quote} trailing bit"),
        (4, "completely unrelated sentence with enough words to form windows"),
        (5, f"late arrival repeating {quote} yet again"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    w = 5
    expect = {
        r.doc_id: (r.n_tokens, r.n_windows, r.dup_windows, r.dup_coverage)
        for r in textdedup.repeated_spans(d, "doc_id", "text", w).collect()
    }

    for split_at, tag in [(6, "span_one"), (3, "span_two")]:
        sink = SpanStateDedupSink(str(tmp_path / tag), "doc_id", "text", window_n=w)
        sink.init(spark)
        sink.write_batch(d.filter(F.col("doc_id") < split_at), 0)
        sink.write_batch(d.filter(F.col("doc_id") >= split_at), 1)
        got = {
            r.doc_id: (r.n_tokens, r.n_windows, r.dup_windows, r.dup_coverage)
            for r in sink.flags(spark).collect()
        }
        assert got == expect, f"split at {split_at} diverged"

    # redelivery of an already-folded batch changes nothing
    n_state = sink.state(spark).count()
    sink.write_batch(d.filter(F.col("doc_id") >= 3), 1)
    assert sink.state(spark).count() == n_state

    # dup_frac matches the batch column too
    frac = {r.doc_id: r.dup_frac for r in sink.flags(spark).collect()}
    batch_frac = {
        r.doc_id: r.dup_frac
        for r in textdedup.repeated_spans(d, "doc_id", "text", w).collect()
    }
    assert frac == batch_frac


def test_span_state_sink_marks_late_smaller_id(spark, tmp_path):
    # Out-of-order arrival: a LATE doc with a smaller id than the span's
    # recorded first arrival must itself be marked (first-arrival-wins) —
    # it cannot steal canonicity from an already-emitted doc, and the
    # repeated span must not vanish from both docs.
    from flinkrealtimedatawarehouse_spark.streaming.neardup import SpanStateDedupSink

    quote = "alpha beta gamma delta epsilon"
    sink = SpanStateDedupSink(str(tmp_path / "late"), "doc_id", "text", window_n=5)
    sink.init(spark)
    sink.write_batch(
        spark.createDataFrame([(10, f"{quote} first arrival tail")],
                              "doc_id long, text string"), 0)
    sink.write_batch(
        spark.createDataFrame([(5, f"{quote} late but smaller id")],
                              "doc_id long, text string"), 1)
    got = {r.doc_id: r.dup_windows for r in sink.flags(spark).collect()}
    assert got[10] == 0      # emitted first, unmarked
    assert got[5] > 0        # late arrival carries the dup flag


def test_scoped_conf_restores_and_unsets(spark):
    """scoped_conf must tolerate override keys with NO session default:
    set them for the scope, then unset (not set-to-None) on exit; keys
    that had a value are restored to it."""
    key_unset = "spark.flinkrealtimedatawarehouse.test.noDefault"
    key_set = "spark.sql.session.timeZone"
    prev_tz = spark.conf.get(key_set)
    with runner.scoped_conf(spark, {key_unset: "v1", key_set: "UTC"}):
        assert spark.conf.get(key_unset) == "v1"
        assert spark.conf.get(key_set) == "UTC"
    assert spark.conf.get(key_unset, None) is None
    assert spark.conf.get(key_set) == prev_tz


@pytest.mark.slow
def test_auto_compaction_bounds_postings_layout(spark, tmp_path):
    """Round-11 lead task: the tiered compaction policy, driven 64
    batches deep through the postings sink. Asserts (a) the on-disk
    layout stays BOUNDED — tail directories <= compact_every +
    keep_recent, chunks <= max_chunks + 1, total reachable files far
    below the one-dir-per-batch count; (b) current-state search equals a
    batch bm25_search over the full corpus AFTER many automatic minor
    folds and at least one size-tiered major merge; (c) as-of answers at
    horizons inside chunks, across chunk boundaries, and in the live
    tail all equal the batch engine over the matching prefix corpus;
    (d) a foreachBatch redelivery of an already-folded batch is a no-op
    (the crash-replay contract compaction must preserve)."""
    import random

    from flinkrealtimedatawarehouse_spark.datapipeline import textstats
    from flinkrealtimedatawarehouse_spark.streaming.searchindex import (
        PostingsIndexSink,
        streamed_postings_search,
    )

    random.seed(41)
    vocab = ["alpha", "beta", "gamma", "delta", "zeta", "omega"]
    n_batches, per_batch = 64, 2
    rows = [(i, " ".join(random.choices(vocab, k=8)))
            for i in range(n_batches * per_batch)]
    idx = str(tmp_path / "acomp")
    sink = PostingsIndexSink(
        idx, "doc_id", "text", n_buckets=8,
        compact_every=8, keep_recent=2, max_chunks=3,
    )
    for bid in range(n_batches):
        sink.write_batch(
            _docs(spark, rows[bid * per_batch:(bid + 1) * per_batch]), bid
        )

    st = sink.store._load()
    # (a) bounded layout: multiple folds ran, a major merge ran (56
    # foldable batches / 8 per fold = 7 chunks > max_chunks=3), and the
    # listing surface is far below the 64-dirs-a-batch-partitioned
    # layout would show
    assert st["folded_through"] >= 48
    assert len(sink.store._tail_batch_ids()) <= 8 + 2
    assert 1 <= len(st["chunks"]) <= 3 + 1
    assert any(c["n_batches"] > 8 for c in st["chunks"])  # merged chunk
    n_files = sink.store.file_count(spark)
    assert n_files <= (len(st["chunks"]) + len(sink.store._tail_batch_ids())) * 8

    # (b) current state == batch engine over the full corpus
    q = "alpha zeta"
    expect = textstats.bm25_search(
        _docs(spark, rows), "doc_id", "text", q, k=15).collect()
    got = streamed_postings_search(spark, idx, "doc_id", q, k=15).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]

    # (c) as-of at an in-chunk, chunk-boundary, and live-tail horizon
    for b in (0, 7, 8, 31, st["folded_through"], n_batches - 1):
        prefix = _docs(spark, rows[: (b + 1) * per_batch])
        exp_b = textstats.bm25_search(
            prefix, "doc_id", "text", q, k=15).collect()
        got_b = streamed_postings_search(
            spark, idx, "doc_id", q, k=15, as_of_batch=b).collect()
        assert [tuple(r) for r in got_b] == [tuple(r) for r in exp_b], b

    # (d) replay of a folded batch: no tail dir reappears, answers hold
    replay_bid = 3
    assert replay_bid <= st["folded_through"]
    sink.write_batch(
        _docs(spark, rows[replay_bid * per_batch:(replay_bid + 1) * per_batch]),
        replay_bid,
    )
    import os
    assert not os.path.isdir(
        os.path.join(idx, "postings", f"batch={replay_bid}"))
    again = streamed_postings_search(spark, idx, "doc_id", q, k=15).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in expect]


@pytest.mark.slow
def test_auto_compaction_bounds_ivf_layout(spark, tmp_path):
    """IVF twin of the 64-batch postings test, 32 batches deep: bounded
    cell-partitioned layout, current + as-of top-k equal to the batch
    engine over the matching prefix corpus across automatic folds."""
    import random

    from flinkrealtimedatawarehouse_spark.datapipeline import similarity
    from flinkrealtimedatawarehouse_spark.streaming.simsearch import (
        IvfIndexSink,
        streamed_ivf_topk,
    )

    random.seed(43)
    n_batches, per_batch = 32, 2
    rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(4)], i % 2)
        for i in range(1, n_batches * per_batch + 1)
    ]
    schema = "vec_id long, embedding array<double>, label int"
    sink = IvfIndexSink(
        str(tmp_path / "vcomp"), "vec_id", "embedding", "label",
        compact_every=6, keep_recent=2, max_chunks=3,
    )
    for bid in range(n_batches):
        sink.write_batch(
            spark.createDataFrame(
                rows[bid * per_batch:(bid + 1) * per_batch], schema), bid
        )
    st = sink.store._load()
    assert st["folded_through"] >= 18
    assert len(sink.store._tail_batch_ids()) <= 6 + 2
    assert len(st["chunks"]) <= 3 + 1

    probes = spark.createDataFrame(rows[:2], schema)
    expect = similarity.ivf_topk(
        spark.createDataFrame(rows, schema), probes,
        "vec_id", "embedding", "label", k=4, n_probe=2).collect()
    got = streamed_ivf_topk(spark, sink, probes, k=4, n_probe=2).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expect]
    for b in (0, st["folded_through"], n_batches - 1):
        prefix = spark.createDataFrame(rows[: (b + 1) * per_batch], schema)
        exp_b = similarity.ivf_topk(
            prefix, probes, "vec_id", "embedding", "label",
            k=4, n_probe=2).collect()
        got_b = streamed_ivf_topk(
            spark, sink, probes, k=4, n_probe=2, as_of_batch=b).collect()
        assert [tuple(r) for r in got_b] == [tuple(r) for r in exp_b], b


# --- streaming dedup-cluster upkeep (streaming/clusters.py) ----------------

def _batch_cc(spark, all_pairs, ids):
    from flinkrealtimedatawarehouse_spark.datapipeline import textdedup

    pairs = spark.createDataFrame(all_pairs, "id_a long, id_b long")
    ids_df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    return {r["doc_id"]: r["cluster"] for r in
            textdedup.dedup_clusters(pairs, ids_df, "doc_id").collect()}


@pytest.mark.slow
def test_cluster_upkeep_matches_batch_for_any_split(spark, tmp_path):
    """The module invariant: the sink's final label table equals batch
    dedup_clusters over the accumulated pairs for ANY batch split —
    including the adversarial split where edges that merge previously
    disjoint clusters arrive LAST (the remap-through-cluster step must
    relabel members that never reappear in any later batch)."""
    import random

    from flinkrealtimedatawarehouse_spark.streaming.clusters import (
        stream_cluster_upkeep,
    )

    rng = random.Random(23)
    n = 60
    edges = list({(a, b) for a, b in
                  ((rng.randrange(n), rng.randrange(n)) for _ in range(45))
                  if a != b})
    touched = sorted({x for e in edges for x in e})
    want = {k: v for k, v in _batch_cc(spark, edges, touched).items() if k != v}

    for n_batches in (1, 4):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        sink = stream_cluster_upkeep(
            pairs, "doc_id", str(tmp_path / f"cl{n_batches}"),
            n_batches=n_batches, tag=f"cl{n_batches}",
        )
        got = {r["doc_id"]: r["cluster"] for r in
               sink.clusters(spark).collect() if r["doc_id"] != r["cluster"]}
        assert got == want, n_batches


@pytest.mark.slow
def test_cluster_upkeep_cross_batch_merges_and_as_of(spark, tmp_path):
    """Hand-driven batches exercising every interesting transition:
    disjoint clusters forming, a later edge merging two existing clusters
    (members of the absorbed cluster must follow their representative),
    and a second merge chaining through. clusters(as_of_batch=b) must
    equal a batch CC over the pair PREFIX through batch b (version 0 is
    the empty init, so batch b's post-state is version b+1)."""
    from flinkrealtimedatawarehouse_spark.streaming.clusters import ClusterUpkeepSink

    batches = [
        [(1, 2), (5, 6)],   # b0: {1,2} {5,6}
        [(3, 4)],           # b1: + {3,4}
        [(2, 3)],           # b2: merges {1,2}+{3,4} -> min 1 (4 must move 3->1)
        [],                 # b3: empty batch still commits a version
        [(6, 3)],           # b4: merges {5,6} into 1 (5 must move 5->1... rep follows)
    ]
    sink = ClusterUpkeepSink(str(tmp_path / "clm"), "doc_id")
    prefix: list[tuple[int, int]] = []
    for bid, pb in enumerate(batches):
        sink.write_batch(
            spark.createDataFrame(pb, "id_a long, id_b long"), bid
        )
        prefix.extend(pb)
        assert sink.version == bid + 1  # one version per applied batch (+v0 init)
    # final state
    got = {r["doc_id"]: r["cluster"] for r in sink.clusters(spark).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1}
    # as-of every committed version == batch CC over the prefix
    prefix = []
    for bid, pb in enumerate(batches):
        prefix.extend(pb)
        touched = sorted({x for e in prefix for x in e})
        want = _batch_cc(spark, prefix, touched)
        got_b = {r["doc_id"]: r["cluster"] for r in
                 sink.clusters(spark, as_of_batch=bid).collect()}
        assert got_b == want, bid


@pytest.mark.slow
def test_cluster_upkeep_replay_and_restart(spark, tmp_path):
    """At-least-once replay of an applied batch is a no-op (no new
    version, labels unchanged), and a fresh sink object on the same dir
    resumes from the committed marker — a restart mid-stream continues
    instead of re-initializing."""
    from flinkrealtimedatawarehouse_spark.streaming.clusters import ClusterUpkeepSink

    def pairs_df(rows):
        return spark.createDataFrame(rows, "id_a long, id_b long")

    d = str(tmp_path / "clr")
    sink = ClusterUpkeepSink(d, "doc_id")
    sink.write_batch(pairs_df([(1, 2)]), 0)
    v_after = sink.version
    sink.write_batch(pairs_df([(7, 8)]), 0)  # redelivery: must no-op
    assert sink.version == v_after
    got = {r["doc_id"]: r["cluster"] for r in sink.clusters(spark).collect()}
    assert got == {1: 1, 2: 1}

    # restart: a NEW sink object resumes and applies the next batch
    sink2 = ClusterUpkeepSink(d, "doc_id")
    assert sink2.version == v_after and sink2.last_bid == 0
    sink2.write_batch(pairs_df([(2, 0)]), 1)  # new min absorbs {1,2}
    got2 = {r["doc_id"]: r["cluster"] for r in sink2.clusters(spark).collect()}
    assert got2 == {0: 0, 1: 0, 2: 0}
    # the old handle is fenced now (single-writer contract)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="claimed by another writer"):
        sink.write_batch(pairs_df([(9, 10)]), 2)


@pytest.mark.slow
def test_cluster_index_prunes_membership_probe(spark, tmp_path):
    """VERDICT r12 task #2: the remap-membership probe (cluster-keyed, so
    id-hash partitioning can't prune it) goes through the secondary
    (cluster, pid) index. With many disjoint clusters spread over every
    label partition, a batch that remaps ONE cluster must read a strict
    subset of partitions — bytes tracked in last_probe — and the final
    table must still equal batch CC."""
    from flinkrealtimedatawarehouse_spark.streaming.clusters import ClusterUpkeepSink

    sink = ClusterUpkeepSink(str(tmp_path / "clpx"), "doc_id", n_partitions=8)
    # b0: 100 disjoint 2-clusters covering all 8 partitions
    base = [(2 * i, 2 * i + 1) for i in range(100)]
    sink.write_batch(spark.createDataFrame(base, "id_a long, id_b long"), 0)
    assert sink.last_probe["member_bytes"] <= sink.last_probe["state_bytes"]
    # b1: one edge merges cluster 198 into cluster 0 — the membership
    # probe need only read the partitions holding {198, 199}
    sink.write_batch(
        spark.createDataFrame([(0, 198)], "id_a long, id_b long"), 1
    )
    probe = sink.last_probe
    assert 1 <= len(probe["member_pids"]) < 8, probe
    assert probe["member_bytes"] < probe["state_bytes"], probe
    got = {r["doc_id"]: r["cluster"] for r in sink.clusters(spark).collect()}
    want = _batch_cc(spark, base + [(0, 198)],
                     sorted({x for e in base for x in e}))
    assert got == want


@pytest.mark.slow
def test_cluster_index_rebuilds_when_out_of_sync(spark, tmp_path):
    """The index is derivable, so out-of-sync = rebuild, not trust: wipe
    the index dir after real batches (stand-in for a pre-index store
    upgraded in place, or corruption) — the next batch must detect the
    stale label_version stamp, rebuild from the label table, and still
    produce the batch-CC-equal result (a silently missing index entry
    would leave absorbed members behind forever)."""
    import shutil as _sh

    from flinkrealtimedatawarehouse_spark.streaming.clusters import ClusterUpkeepSink

    d = str(tmp_path / "clrb")
    sink = ClusterUpkeepSink(d, "doc_id")
    sink.write_batch(
        spark.createDataFrame([(1, 2), (5, 6)], "id_a long, id_b long"), 0
    )
    _sh.rmtree(sink.pidx.base_dir)
    # fresh handle (restart after the wipe); the merge edge lands on a
    # cluster whose members the (missing) index must be rebuilt to find
    sink2 = ClusterUpkeepSink(d, "doc_id")
    sink2.write_batch(
        spark.createDataFrame([(2, 5)], "id_a long, id_b long"), 1
    )
    got = {r["doc_id"]: r["cluster"] for r in sink2.clusters(spark).collect()}
    assert got == {1: 1, 2: 1, 5: 1, 6: 1}  # 6 followed 5 via the rebuild
    # the rebuilt index is stamped in sync and keeps working
    assert sink2.pidx.meta["label_version"] >= sink2.version - 1
    sink2.write_batch(
        spark.createDataFrame([(6, 0)], "id_a long, id_b long"), 2
    )
    got2 = {r["doc_id"]: r["cluster"] for r in sink2.clusters(spark).collect()}
    assert got2 == {0: 0, 1: 0, 2: 0, 5: 0, 6: 0}


@pytest.mark.slow
def test_cluster_sink_repartition_cutover(spark, tmp_path):
    """Deployment recipe for a cluster sink that outgrew its partition
    count, using ONLY existing machinery: migrate the label store with
    ``repartitioned`` (version/batch cursor carry over), open a new sink
    handle at the new P — its secondary index is empty, so the first
    batch's _ensure_index REBUILDS it under the new id->partition
    routing (index contents are P-dependent and must not be copied) —
    and the batch sequence continues seamlessly."""
    import os as _os

    from flinkrealtimedatawarehouse_spark.streaming.clusters import ClusterUpkeepSink

    def p(rows):
        return spark.createDataFrame(rows, "id_a long, id_b long")

    sink = ClusterUpkeepSink(str(tmp_path / "old"), "doc_id", n_partitions=2)
    sink.write_batch(p([(1, 2), (5, 6)]), 0)
    sink.write_batch(p([(3, 4)]), 1)
    new_dir = str(tmp_path / "new")
    sink.repartitioned(spark, _os.path.join(new_dir, "labels"),
                       n_partitions=8)
    sink2 = ClusterUpkeepSink(new_dir, "doc_id", n_partitions=8)
    assert (sink2.version, sink2.last_bid) == (2, 1)  # cursor carried
    # the merge edge needs the rebuilt index to find cluster 5's members
    sink2.write_batch(p([(2, 5)]), 2)
    got = {r["doc_id"]: r["cluster"] for r in sink2.clusters(spark).collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 5: 1, 6: 1}
    # the rebuilt index routes by the NEW partitioning: superset law
    labels = (sink2.current(spark)
              .withColumn("pid", sink2.pid_expr())
              .select("cluster", "pid"))
    missing = labels.join(sink2.pidx.current(spark),
                          ["cluster", "pid"], "left_anti").count()
    assert missing == 0
    # as-of below the migration point stays with the OLD sink
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not available"):
        sink2.clusters(spark, as_of_batch=0)
    old_reader = ClusterUpkeepSink(str(tmp_path / "old"), "doc_id",
                                   n_partitions=2, read_only=True)
    asof0 = {r["doc_id"]: r["cluster"]
             for r in old_reader.clusters(spark, as_of_batch=0).collect()}
    assert asof0 == {1: 1, 2: 1, 5: 5, 6: 5}


@pytest.mark.slow
def test_cluster_index_rebuild_gc_drops_stale_entries(spark, tmp_path):
    """rebuild_index doubles as the index's GC: merged-away cluster
    values leave stale (cluster, pid) entries (harmless — never probed —
    but they cost bytes); a rebuild emits exactly the live set and the
    sink keeps committing afterwards. Auto-GC disabled here to pin the
    MANUAL lever; test_cluster_index_auto_gc covers the automatic path."""
    from flinkrealtimedatawarehouse_spark.streaming.clusters import ClusterUpkeepSink

    def p(rows):
        return spark.createDataFrame(rows, "id_a long, id_b long")

    sink = ClusterUpkeepSink(str(tmp_path / "clgc"), "doc_id",
                             index_gc_threshold=None)
    sink.write_batch(p([(1, 2), (3, 4)]), 0)
    sink.write_batch(p([(2, 3)]), 1)  # cluster 3 merges away -> stale
    def live_set():
        return {(r.cluster, r.pid) for r in
                sink.current(spark).withColumn("pid", sink.pid_expr())
                .select("cluster", "pid").distinct().collect()}

    def idx_set():
        return {(r.cluster, r.pid)
                for r in sink.pidx.current(spark).collect()}

    assert idx_set() > live_set()  # strict superset: stale entries exist
    sink.rebuild_index(spark)
    assert idx_set() == live_set()
    sink.write_batch(p([(4, 0)]), 2)  # still consistent after the GC
    got = {r["doc_id"]: r["cluster"] for r in sink.clusters(spark).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0}


@pytest.mark.slow
def test_cluster_index_auto_gc(spark, tmp_path):
    """VERDICT r13 task #3: staleness is tracked exactly (each remapped
    cluster's index entries are counted by the member probe that already
    reads them) and the index auto-rebuilds past the threshold. A
    merge-heavy feed must trigger a rebuild that drops the stale entries
    while labels stay correct; counters survive a restart."""
    from flinkrealtimedatawarehouse_spark.streaming.clusters import ClusterUpkeepSink

    def p(rows):
        return spark.createDataFrame(rows, "id_a long, id_b long")

    base = str(tmp_path / "clagc")
    sink = ClusterUpkeepSink(base, "doc_id", index_gc_threshold=0.5)
    # 4 disjoint clusters -> entries for clusters 1,3,5,7
    sink.write_batch(p([(1, 2), (3, 4), (5, 6), (7, 8)]), 0)
    assert sink.last_probe["index_stale_entries"] == 0
    # merge-only churn: every batch retires clusters, inserts little
    sink.write_batch(p([(2, 3), (6, 7)]), 1)   # 3 and 7 retired
    frac1 = sink.last_probe["index_stale_frac"]
    assert frac1 > 0
    assert frac1 < 0.5  # below threshold: no rebuild yet
    sink.write_batch(p([(4, 5)]), 2)           # 5 retired too
    # half the tracked entries are now provably stale -> auto-rebuilt
    assert sink.last_probe["index_stale_frac"] >= 0.5
    assert sink.last_probe.get("index_gc_rebuilt") is True
    live = {(r.cluster, r.pid) for r in
            sink.current(spark).withColumn("pid", sink.pid_expr())
            .select("cluster", "pid").distinct().collect()}
    idx = {(r.cluster, r.pid) for r in sink.pidx.current(spark).collect()}
    assert idx == live  # the rebuild emitted exactly the live set
    assert sink.pidx.meta["stale_entries"] == 0
    got = {r["doc_id"]: r["cluster"] for r in sink.clusters(spark).collect()}
    assert got == {i: 1 for i in range(1, 9)}
    # counters are commit-meta: a restart handle sees them
    sink2 = ClusterUpkeepSink(base, "doc_id")
    assert sink2.pidx.meta.get("stale_entries") == 0
    assert sink2.pidx.meta.get("entries_ub", 0) >= len(live)
    # and the next batch keeps committing + accounting
    sink2.write_batch(p([(9, 10)]), 3)
    assert sink2.last_probe["index_stale_entries"] == 0


@pytest.mark.slow
def test_cluster_rebuild_index_refuses_read_only_handle(spark, tmp_path):
    """ADVICE r13: the public rebuild_index() must honor the same
    read-only guard as _ensure_index — a read handle rmtree'ing the live
    index dir would claim the writer token and fence the live writer."""
    from flinkrealtimedatawarehouse_spark.streaming.clusters import ClusterUpkeepSink

    sink = ClusterUpkeepSink(str(tmp_path / "clro"), "doc_id")
    sink.write_batch(
        spark.createDataFrame([(1, 2)], "id_a long, id_b long"), 0
    )
    reader = ClusterUpkeepSink(str(tmp_path / "clro"), "doc_id",
                               read_only=True)
    with pytest.raises(RuntimeError, match="read-only"):
        reader.rebuild_index(spark)
    # the writer's index was not touched: the next batch commits cleanly
    sink.write_batch(
        spark.createDataFrame([(2, 3)], "id_a long, id_b long"), 1
    )
    got = {r["doc_id"]: r["cluster"] for r in sink.clusters(spark).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_scd2_sink_rejects_gapped_batch_feed(spark, tmp_path):
    """ADVICE r13: history(as_of_batch=N) reads version N+1, which is
    only the post-batch-N state under a consecutive feed — a gapped feed
    must fail loudly (same guard as ClusterUpkeepSink), not silently
    shift every as-of read."""
    ch = _scd2_changes(spark)
    sink = sinks.Scd2HistorySink(str(tmp_path / "scd2gap"), "pk", "v")
    sink.init(ch)
    sink.write_batch(ch, 0)
    with pytest.raises(ValueError, match="non-consecutive"):
        sink.write_batch(ch, 5)
    assert sink.version == 1  # the rejected batch committed nothing


@pytest.mark.slow
def test_band_sink_folds_preserve_flags_and_prebatch_witness_reads(spark, tmp_path):
    """Drive the composed DAG deep enough that the incremental store's
    size-tiered folds FIRE (n_partitions=1, max_runs=2, 12 batches) and
    pin that (a) flags/labels equal a fold-free run — folds rewrite
    layout, never content — and (b) the pre-batch-version witness reads
    (read_parts at version=batch_id) stay correct across in-place
    manifest rewrites."""
    from flinkrealtimedatawarehouse_spark.streaming.clusters import ClusterUpkeepSink
    from flinkrealtimedatawarehouse_spark.streaming.neardup import (
        BandStateNearDupSink,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(i, base + f" tail{i % 3}") for i in range(1, 25)]

    def run(tag, **kw):
        cl = ClusterUpkeepSink(str(tmp_path / f"cl{tag}"), "doc_id", **kw)
        sink = BandStateNearDupSink(
            str(tmp_path / f"bs{tag}"), "doc_id", "text",
            shingle_n=3, k=16, bands=8, cluster_sink=cl, **kw)
        sink.init(spark)
        for bid in range(12):
            batch = spark.createDataFrame(
                rows[bid * 2:bid * 2 + 2], "doc_id long, text string")
            sink.write_batch(batch, bid)
        flags = sorted((r.doc_id, r.is_near_dup)
                       for r in sink.flags(spark).collect())
        labels = sorted((r.doc_id, r.cluster)
                        for r in cl.clusters(spark).collect())
        state = sorted((r.band_key, r.min_id)
                       for r in sink.state(spark).collect())
        return sink, flags, labels, state

    # folding run: ONE partition means every commit lands a run in p0000,
    # so 12 commits cross the max_runs=8 budget and folds fire
    folded, f_flags, f_labels, f_state = run("fold", n_partitions=1)
    assert any(
        r["n"].startswith("f")
        for runs in folded._load_manifest(folded.version)["parts"].values()
        for r in runs
    ), "fold never fired — the scenario under test did not occur"
    _, p_flags, p_labels, p_state = run("plain", n_partitions=8)
    assert f_flags == p_flags and f_labels == p_labels and f_state == p_state


@pytest.mark.slow
def test_band_sink_composes_with_cluster_upkeep(spark, tmp_path):
    """The full one-pass streaming dedup DAG: docs stream through the
    band-state detector, each micro-batch ALSO emits its (doc, band-min
    witness) pair edges into an attached ClusterUpkeepSink, and the
    final label table equals batch connected components over the FULL
    LSH candidate graph of the corpus — for any batch split. The witness
    rule (pre-batch state minimum, else within-batch minimum) gives the
    same connectivity as band-sharing because every claimant of a key
    chains through the key's evolving minimum."""
    import random

    from flinkrealtimedatawarehouse_spark.datapipeline import textdedup
    from flinkrealtimedatawarehouse_spark.streaming.clusters import ClusterUpkeepSink
    from flinkrealtimedatawarehouse_spark.streaming.neardup import (
        BandStateNearDupSink,
    )

    random.seed(31)
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = []
    for i in range(1, 31):
        if i % 3 == 0:
            rows.append((i, base + f" tail{i % 2}"))  # two dup families
        else:
            rows.append((i, " ".join(
                random.sample(["alpha", "beta", "gamma", "delta", "omega",
                               "sigma", "kappa", "lambda", "theta", "zeta"], 8))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = textdedup.minhash_signatures(docs, "doc_id", "text", 3, 16)
    cands = textdedup.lsh_candidate_pairs(sigs, "doc_id", 8, 2)
    want = {r["doc_id"]: r["cluster"] for r in
            textdedup.dedup_clusters(
                cands, docs.select("doc_id"), "doc_id").collect()
            if r["doc_id"] != r["cluster"]}
    assert want  # the planted families must actually collide

    for n_batches in (1, 3):
        cl = ClusterUpkeepSink(str(tmp_path / f"cl{n_batches}"), "doc_id")
        sink = BandStateNearDupSink(
            str(tmp_path / f"bs{n_batches}"), "doc_id", "text",
            shingle_n=3, k=16, bands=8, cluster_sink=cl,
        )
        sink.init(spark)
        per = len(rows) // n_batches
        for bid in range(n_batches):
            lo, hi = bid * per, (bid + 1) * per if bid < n_batches - 1 else len(rows)
            sink.write_batch(
                spark.createDataFrame(rows[lo:hi], "doc_id long, text string"),
                bid,
            )
        got = {r["doc_id"]: r["cluster"] for r in
               cl.clusters(spark).collect() if r["doc_id"] != r["cluster"]}
        assert got == want, n_batches


@pytest.mark.slow
def test_keystate_sink_simhash_and_embedding_twins(spark, tmp_path):
    """The generic keyed-state sink gives the SimHash and embedding
    families their streaming twins: under id-ordered replay the
    accumulated flags equal the batch directional relation 'doc d is
    flagged iff some d' < d shares a key' — for any split — with the key
    algebra bit-identical to the batch candidate stages (band rows /
    sign buckets)."""
    import random

    from flinkrealtimedatawarehouse_spark.datapipeline import textdedup
    from flinkrealtimedatawarehouse_spark.datapipeline.similarity import (
        hyperplane_bucket,
        quantized,
    )
    from flinkrealtimedatawarehouse_spark.streaming.neardup import (
        KeyStateNearDupSink,
        embedding_bucket_keys,
        simhash_band_keys,
    )

    random.seed(47)
    base = "spark shuffles the quick brown fox over a lazy catalyst plan"
    doc_rows = [
        (i, base + (" copyish" if i % 4 == 0 else f" unique {random.random()}"))
        for i in range(1, 25)
    ]
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    bd = textdedup._simhash_band_rows(
        textdedup.simhash(docs, "doc_id", "text"), "doc_id"
    ).select("doc_id", "band_idx", "band_val")
    mn = bd.groupBy("band_idx", "band_val").agg(F.min("doc_id").alias("mid"))
    want_sh = {
        r["doc_id"]: r["f"] for r in
        bd.join(mn, ["band_idx", "band_val"]).groupBy("doc_id").agg(
            F.max((F.col("mid") < F.col("doc_id")).cast("int")).alias("f")
        ).collect()
    }
    for i, _ in doc_rows:
        want_sh.setdefault(i, 0)

    emb_rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(4)])
        for i in range(1, 25)
    ]
    for i in (8, 16):  # planted exact dups of vec 4 -> same sign bucket
        emb_rows[i - 1] = (i, emb_rows[3][1])
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")
    eb = emb.select(
        "vec_id",
        hyperplane_bucket(quantized(F.col("embedding"), 1000), 8).alias("b"),
    )
    emn = eb.groupBy("b").agg(F.min("vec_id").alias("mid"))
    want_ed = {
        r["vec_id"]: r["f"] for r in
        eb.join(emn, "b").groupBy("vec_id").agg(
            F.max((F.col("mid") < F.col("vec_id")).cast("int")).alias("f")
        ).collect()
    }
    assert want_ed[8] == 1 and want_ed[16] == 1  # planted dups flag

    for n_batches in (1, 3):
        sh = KeyStateNearDupSink(
            str(tmp_path / f"sh{n_batches}"), "doc_id",
            simhash_band_keys("doc_id", "text"),
        )
        sh.init(spark)
        per = len(doc_rows) // n_batches
        for bid in range(n_batches):
            lo = bid * per
            hi = (bid + 1) * per if bid < n_batches - 1 else len(doc_rows)
            sh.write_batch(
                spark.createDataFrame(doc_rows[lo:hi], "doc_id long, text string"),
                bid,
            )
        got = {r["doc_id"]: r["is_near_dup"] for r in sh.flags(spark).collect()}
        assert got == want_sh, ("simhash", n_batches)

        ed = KeyStateNearDupSink(
            str(tmp_path / f"ed{n_batches}"), "vec_id",
            embedding_bucket_keys("vec_id", "embedding"),
        )
        ed.init(spark)
        for bid in range(n_batches):
            lo = bid * per
            hi = (bid + 1) * per if bid < n_batches - 1 else len(emb_rows)
            ed.write_batch(
                spark.createDataFrame(
                    emb_rows[lo:hi], "vec_id long, embedding array<double>"),
                bid,
            )
        got_e = {r["vec_id"]: r["is_near_dup"] for r in ed.flags(spark).collect()}
        assert got_e == want_ed, ("embedding", n_batches)

    # first-arrival-wins: a LATE smaller id sharing keys marks ITSELF;
    # replay of an applied batch is a no-op
    late = KeyStateNearDupSink(
        str(tmp_path / "late"), "doc_id", simhash_band_keys("doc_id", "text"))
    late.init(spark)
    late.write_batch(
        spark.createDataFrame([(50, base)], "doc_id long, text string"), 0)
    late.write_batch(
        spark.createDataFrame([(7, base)], "doc_id long, text string"), 1)
    v = late.version
    late.write_batch(  # redelivery with different rows must no-op
        spark.createDataFrame([(99, base)], "doc_id long, text string"), 1)
    assert late.version == v
    got_l = {r["doc_id"]: r["is_near_dup"] for r in late.flags(spark).collect()}
    assert got_l == {50: 0, 7: 1}


def test_scratch_dirs_removed_when_their_process_exits():
    """No JVM: a process's scratch dirs go when it exits, a forked child
    leaves its parent's alone, and a dir already gone is no error."""
    import os
    import subprocess
    import sys

    script = (
        "import os\n"
        "from flinkrealtimedatawarehouse_spark.streaming import runner\n"
        "a, b, c = (runner.scratch_dir('exitprobe') for _ in range(3))\n"
        "os.rmdir(c)\n"
        "if os.fork() == 0:\n"
        "    raise SystemExit(0)\n"  # the child runs its atexit handlers
        "os.wait()\n"
        "assert os.path.isdir(a) and os.path.isdir(b)\n"
        "print(a, b, c)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=root, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    paths = out.stdout.split()
    assert len(paths) == 3 and all("exitprobe_" in p for p in paths)
    assert not any(os.path.exists(p) for p in paths)


def test_write_json_atomic_replaces_whole_file(tmp_path):
    import json

    from flinkrealtimedatawarehouse_spark.streaming.snapshots import write_json_atomic

    path = tmp_path / "layout.json"
    write_json_atomic(str(path), {"n_buckets": 64})
    write_json_atomic(str(path), {"n_buckets": 8})
    assert json.loads(path.read_text()) == {"n_buckets": 8}
    assert [p.name for p in tmp_path.iterdir()] == ["layout.json"]  # no temp file left


def test_tiered_read_repeated_part_vals_reads_each_row_once(spark, tmp_path):
    """A part value named twice selects its leaves once, in a chunk and
    in the live tail alike. Spark itself drops a repeated root path, so
    the rows were right before too; but every repeat counted towards the
    24-root cap of one explicit-path reader, and past it the read fell
    back to listing and scanning every leaf."""
    from flinkrealtimedatawarehouse_spark.streaming.compaction import TieredAppendStore

    tail = tmp_path / "tail"
    store = TieredAppendStore(str(tail), "bucket", compact_every=1, keep_recent=1)
    for b in range(3):
        rows = [(b * 10 + i, i % 2) for i in range(4)]
        spark.createDataFrame(rows, "id long, bucket int").write.partitionBy("bucket").parquet(
            str(tail / f"batch={b}")
        )
    assert store.maybe_compact(spark, 2)["folded_through"] >= 0  # a chunk and a tail
    once = sorted(r.id for r in store.read(spark, part_vals=[1]).collect())
    assert once == [1, 3, 11, 13, 21, 23]
    assert sorted(r.id for r in store.read(spark, part_vals=[1, 1]).collect()) == once
    assert sorted(r.id for r in store.read(spark, 1, part_vals=[1, 0, 1]).collect()) == [0, 1, 2, 3, 10, 11, 12, 13]
    files = store.read(spark, part_vals=[1] * 25).inputFiles()
    assert files and all("/bucket=1/" in f for f in files)  # still the pruned read


@pytest.mark.slow
def test_tiered_read_part_vals_equals_filtered_full_read(spark, tmp_path):
    """Round 15 (guide §6): pruned tiered reads are CONSTRUCTED from the
    selected partition-value directories (explicit paths + basePath)
    instead of listing the whole batch=/bucket= tree and filtering. The
    contract is literal row-set equality with read().filter(isin) — at
    every as-of horizon, pre- and post-compaction, including selections
    with missing/absent partition values."""
    import random

    from flinkrealtimedatawarehouse_spark.streaming.searchindex import (
        PostingsIndexSink,
    )

    random.seed(43)
    vocab = ["alpha", "beta", "gamma", "delta", "zeta", "omega"]
    n_batches, per_batch = 12, 3
    rows = [(i, " ".join(random.choices(vocab, k=6)))
            for i in range(n_batches * per_batch)]
    idx = str(tmp_path / "pvals")
    sink = PostingsIndexSink(
        idx, "doc_id", "text", n_buckets=8,
        compact_every=4, keep_recent=2, max_chunks=2,
    )
    for bid in range(n_batches):
        sink.write_batch(
            _docs(spark, rows[bid * per_batch:(bid + 1) * per_batch]), bid
        )
    store = sink.store
    assert store.folded_through() >= 0  # compaction really ran
    all_buckets = sorted(
        r.bucket for r in store.read(spark).select("bucket").distinct().collect()
    )
    assert len(all_buckets) >= 2
    cases = [
        (None, all_buckets[:1]),              # single bucket, full depth
        (None, all_buckets),                  # everything, full depth
        (None, [10**6]),                      # absent value -> empty
        (None, all_buckets[:2] + [10**6]),    # mixed present/absent
        (1, all_buckets[:2]),                 # horizon inside a chunk
        (store.folded_through(), all_buckets[:2]),  # chunk boundary
        (n_batches - 1, all_buckets[:2]),     # live tail horizon
    ]
    from pyspark.sql import functions as F

    for as_of, sel in cases:
        expect = sorted(
            tuple(r) for r in store.read(spark, as_of)
            .filter(F.col("bucket").isin(sel))
            .select("doc_id", "dl", "term", "tf", "bucket", "batch")
            .collect()
        )
        got = sorted(
            tuple(r) for r in store.read(spark, as_of, part_vals=sel)
            .select("doc_id", "dl", "term", "tf", "bucket", "batch")
            .collect()
        )
        assert got == expect, (as_of, sel)


def test_postings_observed_stats_match_second_pass(spark, tmp_path):
    """Round 15: pins the postings stats fold's behavior independent of
    its implementation (an observation-based one-pass variant was tried
    and reverted — measured slower): the folded totals must equal a
    direct recompute over the corpus, an all-empty-token batch must
    advance the version without changing the totals, and as-of stats at
    every horizon must match the prefix."""
    from pyspark.sql import functions as F

    from flinkrealtimedatawarehouse_spark.datapipeline.hashing import spark_tokens
    from flinkrealtimedatawarehouse_spark.streaming.searchindex import (
        PostingsIndexSink,
        _stats_sink,
    )

    batches = [
        [(0, "alpha beta beta"), (1, "gamma")],
        [(2, "??? !!!"), (3, "...")],          # tokenizes to nothing
        [(4, "alpha alpha delta zeta")],
    ]
    idx = str(tmp_path / "obstats")
    sink = PostingsIndexSink(idx, "doc_id", "text", n_buckets=4,
                             compact_every=None)
    for bid, rows in enumerate(batches):
        sink.write_batch(_docs(spark, rows), bid)

    def expected(prefix_rows):
        toks = _docs(spark, prefix_rows).select(
            spark_tokens(F.col("text")).alias("toks")
        ).filter(F.size("toks") > 0)
        r = toks.agg(F.count(F.lit(1)), F.sum(F.size("toks"))).first()
        return (float(r[0]), float(r[1]))

    stats = _stats_sink(idx, read_only=True)
    # one committed version per batch (version == batch id, the sink's
    # as-of contract), the empty-token batch included
    assert stats.version == len(batches) - 1
    flat: list = []
    for bid, rows in enumerate(batches):
        flat += rows
        got = stats.read_version(spark, bid).first()
        assert (got["n_docs"], got["sum_dl"]) == expected(flat), bid
    cur = stats.current(spark).first()
    assert (cur["n_docs"], cur["sum_dl"]) == expected(flat)
    # replay: a redelivered batch is a no-op on the totals and version
    sink.write_batch(_docs(spark, batches[1]), 1)
    assert _stats_sink(idx, read_only=True).version == len(batches) - 1
