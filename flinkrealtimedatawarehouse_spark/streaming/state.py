"""Keyed-state streaming operators (T5/T7 + streaming A5/W1).

``streaming_dedup`` is the UV dedup (rt/app/dwd/UniqueVisitApp.java:52-90):
first event per (key, day) passes, duplicates drop; the reference's 24 h
state TTL becomes watermark-driven state eviction.

``bounce_stream`` is the CEP bounce state machine
(rt/app/dwd/UserJumpDetailApp.java:54-108) as an
``applyInPandasWithState`` operator with event-time timeouts (T7):

- per key (mid), buffer incoming page events in group state. The group
  state is kept per hash bucket of the key (``BOUNCE_BUCKETS`` of them),
  so one vectorised Python call decides a whole bucket of keys per batch
  instead of one call per key; the bucket count is fixed because it is
  the state key;
- an entry event e (empty last_page_id) is *decidable* once the watermark
  passes ``e.ts + gap`` — at that point every event that could precede
  e's true successor has arrived (later-arriving older rows would be
  late-dropped), so the strict-next rule evaluates exactly:
  bounce unless the next event exists, is a continuation (non-entry),
  and arrived within ``gap`` seconds;
- decided entries are emitted and evicted; buffered events older than the
  key's decision horizon are evicted with them, so state per key is
  bounded by ``gap + delay`` seconds of events regardless of stream
  length — the same bound Flink's CEP ``within(10s)`` + 1 s watermark
  gives — and a bucket's state row holds that tail for each of its keys.

This emit-on-watermark discipline makes the operator deterministic on
replay: output = pure function of (data, gap, delay), letting the DuckDB
oracle reproduce it with a lead() + final-watermark-cutoff query even
though the operator itself is arbitrary stateful code.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T


def streaming_dedup(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    grain: str = "day",
    delay: str = "25 hours",
) -> DataFrame:
    """Streaming A5/T5: watermark-evicted first-per-key-per-grain pass-through.

    Emits the key columns of the first-seen row per (key, event-time grain).
    Rows emit immediately (streaming dedup is append-on-arrival); the
    watermark exists purely for STATE EVICTION, mirroring the reference's
    24 h keyed-state TTL (rt/app/dwd/UniqueVisitApp.java:52-90): the event
    time is truncated to ``grain``, watermarked with ``delay``, and included
    in the dropDuplicates subset — Spark only evicts dedup state when the
    watermarked column is among the subset keys, so state is bounded to
    ~``delay``/``grain`` grains of keys regardless of stream length.

    Output is projected to the key columns so the result is
    order-insensitive (which physical row of a dup-group survives a given
    batch split is not part of the contract, the key set is).
    """
    grain_ts = "__grain_ts"
    prepared = events.withColumn(
        grain_ts, F.date_trunc(grain, F.col(ts_col))
    ).withWatermark(grain_ts, delay)
    return (
        prepared.select(*key_cols, grain_ts)
        .dropDuplicates(key_cols + [grain_ts])
        .select(*key_cols)
    )


def streaming_dedup_within_watermark(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    delay: str = "24 hours",
) -> DataFrame:
    """TTL-style streaming dedup via ``dropDuplicatesWithinWatermark`` —
    the closest one-call match to the reference's 24 h OnCreateAndWrite
    keyed-state TTL (rt/app/dwd/UniqueVisitApp.java:66-70): state for a
    key is dropped once the watermark passes delay beyond the FIRST
    sighting, so a re-visit more than ``delay`` later emits again.

    Contrast with ``streaming_dedup``: there the dedup horizon is a fixed
    calendar grain (one row per key per day, Flink's state cleared at a
    boundary); here it is a sliding TTL from first sight (one row per key
    per ``delay``-length quiet period). Both keep state bounded by the
    watermark; which matches depends on whether the product metric is
    calendar UV or session-ish uniqueness.
    """
    return (
        events.withWatermark(ts_col, delay)
        .select(*key_cols, ts_col)
        .dropDuplicatesWithinWatermark(key_cols)
        .select(*key_cols)
    )


BOUNCE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("is_bounce", T.IntegerType()),
    ]
)

BOUNCE_TS_OUT_SCHEMA = T.StructType(
    list(BOUNCE_OUT_SCHEMA) + [T.StructField("entry_ts", T.TimestampType())]
)

# Bounce state is kept per hash bucket of the user, not per user: one
# Python call per bucket and batch instead of one per user. The count is a
# fixed constant, not a parameter, because it is part of the state layout:
# the bucket is the state key, so a checkpoint written under one count
# cannot resume under another.
BOUNCE_BUCKETS = 32

_BOUNCE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.ArrayType(T.LongType())),
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("event_id", T.ArrayType(T.LongType())),
        T.StructField("is_entry", T.ArrayType(T.IntegerType())),
    ]
)

_NO_ENTRY = np.iinfo(np.int64).max


def _bounce_fn(gap_s: int, emit_ts: bool = False):
    # gap comparisons run at full microsecond precision (the data has µs
    # timestamps); the decidability cutoff runs at ms because Spark tracks
    # event-time stats (and hence the watermark) in milliseconds.
    gap_us = gap_s * 1_000_000

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # one bucket's buffered events: parallel (user, ts_us, event_id,
        # is_entry) arrays, several users interleaved
        parts: list[list[np.ndarray]] = [[np.empty(0, np.int64)] for _ in range(4)]
        if state.exists:
            for part, col in zip(parts, state.get):
                part.append(np.asarray(col, dtype=np.int64))
        if not state.hasTimedOut:
            for pdf in pdfs:
                parts[0].append(pdf["user_id"].to_numpy(np.int64))
                # pandas datetime64[ns] -> int64 ns -> µs
                parts[1].append(pdf["ts"].astype("int64").to_numpy() // 1_000)
                parts[2].append(pdf["event_id"].to_numpy(np.int64))
                parts[3].append(pdf["ie"].to_numpy(np.int64))
        uid, ts_us, ev_id, is_entry = (np.concatenate(p) for p in parts)
        wm_us = state.getCurrentWatermarkMs() * 1_000

        # canonical order per user: (ts, event_id) — the tiebreak the batch
        # lead() uses (operators/bounce.py)
        order = np.lexsort((ev_id, ts_us, uid))
        uid, ts_us, ev_id = uid[order], ts_us[order], ev_id[order]
        is_entry = is_entry[order] != 0

        # strict successor = the next row of the same user
        new_user = np.ones(len(uid), dtype=bool)
        new_user[1:] = uid[1:] != uid[:-1]
        has_next = np.append(~new_user[1:], False)
        next_ts = np.append(ts_us[1:], 0)
        next_entry = np.append(is_entry[1:], False)
        survives = has_next & (next_ts - ts_us < gap_us) & ~next_entry

        # decidable once the watermark passes ts + gap: the true successor
        # (if any) has arrived; with none, the entry timed out (T7)
        decided = is_entry & (ts_us + gap_us < wm_us)
        undecided = is_entry & ~decided

        # evict each user's rows that can no longer be the successor of an
        # undecided entry: its horizon is its first undecided entry, else
        # the watermark (decided entries always precede undecided ones, so
        # they are always evicted — no double emission on replay)
        first = np.minimum.reduceat(
            np.where(undecided, ts_us, _NO_ENTRY), np.flatnonzero(new_user)
        )
        horizon = np.where(first == _NO_ENTRY, wm_us, first)
        keep = ts_us >= horizon[np.cumsum(new_user) - 1]
        if keep.any():
            state.update((
                uid[keep].tolist(),
                ts_us[keep].tolist(),
                ev_id[keep].tolist(),
                is_entry[keep].astype(int).tolist(),
            ))
            if undecided.any():
                # Spark fires when timeoutTimestamp < watermark (strict);
                # tts = floor_ms(ts) + gap_ms makes "fires" ⇔ the µs
                # decidability predicate ts_us + gap_us < wm_us (wm is
                # ms-granular), so emission matches the oracle exactly
                state.setTimeoutTimestamp(int(ts_us[undecided].min()) // 1_000 + gap_s * 1_000)
        else:
            state.remove()

        cols = {
            "user_id": uid[decided],
            "event_id": ev_id[decided],
            "is_bounce": (~survives[decided]).astype(np.int32),
        }
        if emit_ts:
            cols["entry_ts"] = pd.to_datetime(pd.Series(ts_us[decided], dtype="int64"), unit="us")
        yield pd.DataFrame(cols)

    return fn


def bounce_stream(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    entry_pred=None,
    gap_s: int = 300,
    delay: str = "30 seconds",
    emit_ts: bool = False,
) -> DataFrame:
    """Streaming W1: bounce detection with event-time timeouts.

    ``entry_pred`` is the session-entry predicate (the reference tests
    ``last_page_id`` empty — UserJumpDetailApp.java:63-71). Emits
    (user_id, event_id, is_bounce) for every *decided* entry event, in
    the first batch whose watermark passes entry.ts + gap. With
    ``emit_ts`` the entry's event time rides along as ``entry_ts`` so a
    downstream event-time operator can consume the decision stream
    (see ``bounce_stats_stream``).

    State is grouped by ``pmod(xxhash64(user), BOUNCE_BUCKETS)``: one
    state row per bucket holds the buffered events of all its users, and
    one vectorised Python call per bucket decides them all. A bucket's
    timer is the earliest deadline of its undecided entries, so every
    entry still emits in the batch a per-user timer would have fired in.
    The state stays bounded: per bucket, the events of its users from
    ``gap + delay`` before the watermark on, at most ``BOUNCE_BUCKETS``
    state rows in all. Checkpoints written by the earlier per-user layout
    (key = user, no ``user_id`` array) do not resume under this one.
    """
    if entry_pred is None:
        entry_pred = F.col("event_type") == "view"
    user_id = F.col(key).cast("long")
    prepared = events.withColumn("ie", entry_pred.cast("int")).select(
        F.pmod(F.xxhash64(user_id), F.lit(BOUNCE_BUCKETS)).alias("bucket"),
        user_id.alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.col("event_id").cast("long"),
        "ie",
    )
    return (
        prepared.withWatermark("ts", delay)
        .groupBy("bucket")
        .applyInPandasWithState(
            _bounce_fn(gap_s, emit_ts=emit_ts),
            outputStructType=BOUNCE_TS_OUT_SCHEMA if emit_ts else BOUNCE_OUT_SCHEMA,
            stateStructType=_BOUNCE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _delay_seconds(delay: str) -> int:
    """Parse a '30 seconds' / '2 minutes' / '1 hour' interval to seconds."""
    n, unit = delay.split()
    mult = {"second": 1, "minute": 60, "hour": 3600}[unit.rstrip("s")]
    return int(n) * mult


# Stream-start confs the T7→A1 chain needs; scope them to the one run
# (runner.scoped_conf / run_to_memory(conf_overrides=...)) — never set them
# on the shared session (see bounce_stats_stream's docstring).
CHAIN_STREAM_CONFS = {
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled": "false",
    "spark.sql.streaming.multipleWatermarkPolicy": "max",
}


def bounce_stats_stream(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    entry_pred=None,
    gap_s: int = 300,
    delay: str = "30 seconds",
    duration: str = "10 minutes",
) -> DataFrame:
    """Multi-stateful chain (T7 → A1): the CEP bounce decision stream
    feeds a watermarked tumble in the SAME checkpointed query, mirroring
    the reference's VisitorStatsApp consuming UserJumpDetailApp's output
    topic (rt/app/dws/VisitorStatsApp.java:126) — but as one job with no
    intermediate Kafka hop.

    Watermark discipline: the bounce operator emits a decision in the
    first batch whose watermark exceeds ``entry_ts + gap`` — so the
    decision's *decide time* (entry_ts + gap) is never behind the
    previous batch's watermark, but the entry time itself can be, by up
    to ``gap``. Windowing the aggregation on entry_ts is therefore WRONG:
    an entry in the last ``gap`` seconds of its tumble emits after the
    watermark may already have passed the window end, and Spark's
    late-row filter (previous-batch watermark, SPARK-40925) silently
    drops it — probed empirically, pinned by
    tests/test_streaming.py::test_stream_bounce_chain_entry_late_in_window.
    The aggregation instead windows on decide_ts with the window phase
    shifted by ``gap % duration``: ``window(decide_ts, d, d,
    startTime=gap % d)`` is exactly ``window(entry_ts, d)`` translated by
    +gap, so shifting the emitted bounds back by ``gap`` yields the
    ENTRY-window rollup while no decision row is ever late by
    construction.

    Spark's static checker rejects any stateful operator downstream of
    applyInPandasWithState because it cannot see this bound, so the
    query requires ``spark.sql.streaming.statefulOperator.
    checkCorrectness.enabled=false``, and ``multipleWatermarkPolicy=
    max`` so the downstream watermark node (which starts at epoch 0 and
    only ever lags the source) cannot hold the global watermark at 0 and
    deadlock the bounce operator's timers. Both confs are consulted at
    STREAM START and are semantic for every other query on the session
    ('max' would let one branch of a two-watermark join outrun the
    other's still-live rows), so this function does NOT set them
    session-wide: start the query under ``CHAIN_STREAM_CONFS`` — e.g.
    ``runner.run_to_memory(..., conf_overrides=CHAIN_STREAM_CONFS)`` —
    which scopes them to the one run and restores the defaults after.
    """
    decided = bounce_stream(
        events, key, ts_col, entry_pred, gap_s, delay, emit_ts=True
    )
    gap_ival = F.expr(f"INTERVAL {gap_s} SECONDS")
    phase = f"{gap_s % _delay_seconds(duration)} seconds"
    return (
        decided.withColumn("decide_ts", F.col("entry_ts") + gap_ival)
        .withWatermark("decide_ts", delay)
        .groupBy(F.window(F.col("decide_ts"), duration, duration, phase))
        .agg(
            F.count(F.lit(1)).alias("entry_ct"),
            F.sum("is_bounce").alias("bounce_ct"),
            F.size(F.collect_set("user_id")).alias("uv_ct"),
        )
        .select(
            F.date_format(F.col("window.start") - gap_ival, "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format(F.col("window.end") - gap_ival, "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "entry_ct",
            "bounce_ct",
            "uv_ct",
        )
    )


FUNNEL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("depth", T.IntegerType()),
    ]
)

_FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("tidx", T.ArrayType(T.IntegerType())),
    ]
)


def _funnel_fn(n_steps: int, window_s: int):
    window_us = window_s * 1_000_000

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            ts_us, tidx = state.get
            ts_us, tidx = list(ts_us), list(tidx)
        else:
            ts_us, tidx = [], []

        if -1 in tidx:
            # tombstone: this user's funnel is already decided. Batch
            # semantics anchor on the user's FIRST step-1 event ever, so a
            # later step-1 must NOT re-open the funnel; the done-bit is
            # the per-user memory any engine needs for that contract
            # (O(users) state, one tiny row each — the documented cost).
            for pdf in pdfs:
                pass  # drain and ignore post-decision events
            yield pd.DataFrame({"user_id": [], "depth": []})
            return

        if not state.hasTimedOut:
            for pdf in pdfs:
                # non-step rows (tidx < 0) already did their job JVM-side —
                # advancing the watermark — and never enter the buffer
                step_rows = pdf[pdf["tidx"] >= 0]
                ts_us.extend((step_rows["ts"].astype("int64") // 1_000).tolist())
                tidx.extend(step_rows["tidx"].astype("int32").tolist())

        wm_us = state.getCurrentWatermarkMs() * 1_000
        anchors = [t for t, x in zip(ts_us, tidx) if x == 0]
        anchor = min(anchors) if anchors else None

        if anchor is not None and anchor + window_us < wm_us:
            # decidable: every event that can extend the chain (ts <=
            # anchor+window) is on or behind the watermark — run the same
            # greedy min-chain as the batch operator and finalize
            deadline = anchor + window_us
            t_prev, depth = anchor, 1
            for step in range(1, n_steps):
                cand = [
                    t for t, x in zip(ts_us, tidx)
                    if x == step and t_prev <= t <= deadline
                ]
                if not cand:
                    break
                t_prev = min(cand)
                depth += 1
            state.update(([0], [-1]))  # tombstone, no timer
            yield pd.DataFrame({"user_id": [user_id], "depth": [depth]})
            return

        if anchor is None:
            # no anchor yet: a future first-step event cannot be earlier
            # than the watermark (later rows would be late-dropped), so
            # buffered followers behind the watermark can never qualify
            keep = [i for i in range(len(ts_us)) if ts_us[i] >= wm_us]
        else:
            # anchor can only move earlier; events past the current
            # deadline can never join the chain
            keep = [i for i in range(len(ts_us)) if ts_us[i] <= anchor + window_us]
        if keep:
            state.update((
                [ts_us[i] for i in keep],
                [tidx[i] for i in keep],
            ))
            if anchor is not None:
                # fires when wm_ms > floor_ms(deadline)  ⇔  deadline < wm
                # at ms granularity (same convention as _bounce_fn)
                state.setTimeoutTimestamp((anchor + window_us) // 1_000)
        else:
            state.remove()
        yield pd.DataFrame({"user_id": [], "depth": []})

    return fn


def funnel_stream(
    events: DataFrame,
    steps: list[str],
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    window_s: int = 1800,
    delay: str = "30 seconds",
) -> DataFrame:
    """Streaming k-step ordered funnel — the CEP generalization of
    ``bounce_stream`` (the reference's CEP handles exactly one 2-step
    pattern; this is the k-step form product analytics needs), with the
    SAME greedy semantics as the batch ``operators.behavior.funnel_counts``:
    anchor = the user's earliest step-1 event, each later step = earliest
    qualifying event within ``window_s`` of the anchor.

    Emits (user_id, depth) exactly once per user with an anchor, when the
    watermark passes anchor + window (event-time timer, T7). State buffers
    only events inside the user's open funnel window (pre-anchor followers
    behind the watermark are evicted — they can never qualify), the same
    bound a Flink CEP operator pays for the pattern buffer — plus one
    tombstone row per decided user, the per-user memory the batch
    "first anchor ever" contract inherently requires.
    """
    # Non-step rows map to -2 and are NOT filtered here: a pre-watermark
    # filter would be pushed to the scan and could prune the very rows
    # (e.g. a replay sentinel) that advance the watermark. They are
    # dropped Python-side before entering any buffer; pre-filter the
    # SOURCE to step types when volume matters (keeping any watermark
    # sentinel in the allowed set, as the gate queries do).
    mapping = F.lit(-2)
    for i, s in reversed(list(enumerate(steps))):
        mapping = F.when(F.col(type_col) == s, F.lit(i)).otherwise(mapping)
    prepared = events.select(
        F.col(key).cast("long").alias("user_id"),
        F.col(ts_col).alias("ts"),
        mapping.cast("int").alias("tidx"),
    )
    return (
        prepared.withWatermark("ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_fn(len(steps), window_s),
            outputStructType=FUNNEL_OUT_SCHEMA,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
