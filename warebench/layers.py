"""Per-layer metrics of a traced run, named ``<layer>.<subject>.<measure>``.

Layers are the program's modules: ``session``, ``runner`` (micro-batch
execution), ``state``/``windows`` (stateful operators), ``sinks``/
``partstore``/``compaction`` (durable stores) and ``serving``. Every run
reports every metric; a layer the workload does not touch reads 0.

Sources:
- micro-batch phases and state sizes: the listener's progress reports;
- jobs, tasks, executor/GC time and bytes: Spark's event log, each job
  tied to its query and batch by the ``sql.streaming.queryId`` and
  ``streaming.sql.batchId`` properties (jobs a ``foreachBatch`` function
  starts carry them too), and to a dashboard query by ``warebench.op``;
- store sizes: the store directories after the run;
- everything else: spans timed around each call from outside.
"""

from __future__ import annotations

from collections import defaultdict

from probes import p50

STREAM_QUERIES = ("dedup", "bounce", "visitor")
STORE_QUERIES = ("gold", "scd2", "postings")
STATE_OPS = {"dedup": "state.dedup", "bounce": "state.bounce", "visitor": "windows.visitor"}
STORES = {"gold": "sinks.gold", "scd2": "partstore.scd2", "postings": "compaction.postings"}
VIEWS = ("ads_gmv_day", "ads_top_brand", "ads_hourly", "ads_keyword_score", "ads_top_part",
         "ads_visitor_newflag", "ads_province", "ads_rolling_gmv", "ads_hour_matrix",
         "ads_top_brand_wide", "ads_top_part_wide", "ads_gmv_day_wide")
PHASES = {"batch_ms": "triggerExecution", "add_batch_ms": "addBatch",
          "planning_ms": "queryPlanning", "offset_commit_ms": "commitOffsets"}
JOB_MEASURES = {"jobs_per_batch": ("jobs", "count"), "tasks_per_batch": ("tasks", "count"),
                "executor_run_ms": ("run_ms", "ms"), "gc_ms": ("gc_ms", "ms"),
                "shuffle_bytes": ("shuffle_bytes", "bytes"), "input_bytes": ("input_bytes", "bytes")}


def _names() -> dict[str, str]:
    out = {"session.start_s": "s", "session.heap_mb": "MB"}
    for q in STREAM_QUERIES:
        for m in PHASES:
            out[f"runner.{q}.{m}_p50"] = "ms"
    for q, layer in STATE_OPS.items():
        out[f"{layer}.state_rows"] = "count"
        out[f"{layer}.state_bytes"] = "bytes"
        out[f"{layer}.rows_dropped_by_watermark"] = "count"
    for q, layer in STORES.items():
        out[f"runner.{q}.batch_ms_p50"] = "ms"
        out[f"{layer}.bytes_written"] = "bytes"
        out[f"{layer}.files_written"] = "count"
        out[f"{layer}.read_ms_p50"] = "ms"
    for q in STREAM_QUERIES + STORE_QUERIES:
        for m, (_, unit) in JOB_MEASURES.items():
            out[f"runner.{q}.{m}"] = unit
    for v in VIEWS:
        out[f"serving.{v}.ms_p50"] = "ms"
    out.update({"serving.plan_ms_p50": "ms", "serving.jobs_per_query": "count",
                "serving.scan_bytes_per_query": "bytes",
                "serving.shuffle_bytes_per_query": "bytes", "serving.wide_build_s": "s"})
    return out


PER_LAYER = _names()


def size_mb(jvm_size: str) -> float:
    """A JVM size string ('7737m', '2g') in MiB."""
    s = jvm_size.strip().lower()
    mult = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    return float(s[:-1]) * mult[s[-1]] if s[-1] in mult else float(s) / 2**20


def per_layer(w, jobs, session_start_s, heap_mb, stores, tracer) -> dict[str, float]:
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"], m["session.heap_mb"] = session_start_s, heap_mb
    per_batch = _jobs_per_batch(w, jobs)
    for q, batches in w.batches.items():
        if q in STREAM_QUERIES:
            for name, key in PHASES.items():
                m[f"runner.{q}.{name}_p50"] = p50([b["durationMs"].get(key, 0) for b in batches])
            ops = [b.get("stateOperators", []) for b in batches]
            layer = STATE_OPS[q]
            m[f"{layer}.state_rows"] = max(sum(o.get("numRowsTotal", 0) for o in x) for x in ops)
            m[f"{layer}.state_bytes"] = max(sum(o.get("memoryUsedBytes", 0) for o in x) for x in ops)
            m[f"{layer}.rows_dropped_by_watermark"] = w.dropped_by_watermark(q)
        else:
            m[f"runner.{q}.batch_ms_p50"] = p50(
                [b["durationMs"].get("triggerExecution", 0) for b in batches])
        for name, (field, _) in JOB_MEASURES.items():
            m[f"runner.{q}.{name}"] = p50([agg[field] for agg in per_batch[q]])
    for q, (nbytes, nfiles) in stores.items():
        m[f"{STORES[q]}.bytes_written"], m[f"{STORES[q]}.files_written"] = nbytes, nfiles
        m[f"{STORES[q]}.read_ms_p50"] = p50(w.reads_by_store[q])
    view_ms = getattr(w, "view_ms", {})
    for v in VIEWS:
        m[f"serving.{v}.ms_p50"] = p50(view_ms.get(v, []))
    if view_ms:
        _serving(m, w, jobs, tracer)
    return m


def _jobs_per_batch(w, jobs) -> dict[str, list[dict]]:
    """Per query, one aggregate per micro-batch of the jobs it ran."""
    owner = {qid: q for q, ids in w.query_ids.items() for qid in ids}
    agg: dict[tuple, dict] = {}
    for q, batches in w.batches.items():
        for b in batches:
            agg[(q, b["batchId"])] = dict.fromkeys(
                ("jobs", "tasks", "run_ms", "gc_ms", "shuffle_bytes", "input_bytes"), 0)
    for j in jobs:
        qid = j["props"].get("sql.streaming.queryId")
        bid = j["props"].get("streaming.sql.batchId")
        a = agg.get((owner.get(qid), int(bid) if bid is not None else None))
        if a is None:
            continue
        a["jobs"] += 1
        for f in ("tasks", "run_ms", "gc_ms", "shuffle_bytes", "input_bytes"):
            a[f] += j[f]
    out = defaultdict(list)
    for (q, _), a in sorted(agg.items()):
        out[q].append(a)
    return out


def _serving(m, w, jobs, tracer):
    by_op = defaultdict(list)
    for j in jobs:
        op = j["props"].get("warebench.op")
        if op is not None:
            by_op[int(op)].append(j)
    starts = {s["op"]: s["start"] for s in tracer.spans if "op" in s}
    m["serving.plan_ms_p50"] = p50([(min(j["start"] for j in js) - starts[op]) * 1000
                                    for op, js in by_op.items() if op in starts])
    ops = sorted(starts)
    m["serving.jobs_per_query"] = p50([len(by_op.get(op, [])) for op in ops])
    m["serving.scan_bytes_per_query"] = p50([sum(j["input_bytes"] for j in by_op.get(op, []))
                                             for op in ops])
    m["serving.shuffle_bytes_per_query"] = p50([sum(j["shuffle_bytes"] for j in by_op.get(op, []))
                                                for op in ops])
    m["serving.wide_build_s"] = w.wide_build_s
