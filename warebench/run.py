#!/usr/bin/env python3
"""Warehouse benchmark: one workload, one seed, one fresh process.

    python3 warebench/run.py --workload clickstream --seed 1 --seconds 10 --trace 0

Runs whole rounds of the workload's operations until ``--seconds`` have
been measured, checks every output against an independent DuckDB
computation, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics, and writes
the spans to ``warebench/out/trace-<workload>-seed<n>.json``.

Everything the run writes stays under ``warebench/out`` and the
repository's ``.scratch``, and is removed at exit except the result and
trace files.
"""

from __future__ import annotations

import time

T_IMPORT = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path[:0] = [ROOT, HERE]

UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "op_p50_ms": "ms",
         "read_p50_ms": "ms", "peak_rss_mb": "MB"}


try:
    import duckdb  # noqa: F401
    import numpy  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark  # noqa: F401

    import flinkrealtimedatawarehouse_spark  # noqa: F401
except ImportError as e:
    print(f"warebench: cannot import {e.name!r}; run from the root of a "
          "repository checkout with its dependencies installed", file=sys.stderr)
    sys.exit(2)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import probes  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload not in WORKLOADS:
        print(f"warebench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    try:
        t_proc = probes.process_start_time()
    except (OSError, ValueError, StopIteration):
        t_proc = T_IMPORT
    sampler = probes.RssSampler().start()
    pid = os.getpid()
    tmp, work = os.path.join(OUT, f"tmp-{pid}"), os.path.join(OUT, f"work-{pid}")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    # keep the JVM's and Python's temporary files inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_JVM_OPTS"] = " ".join(filter(None, [
        os.environ.get("SPARK_GRAFT_JVM_OPTS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    scratch = os.path.join(ROOT, ".scratch")
    had_scratch = os.path.isdir(scratch)
    ctx = Ctx(args, work)
    try:
        t_gen = time.time()
        ctx.data = gen.ensure(args.seed)
        ctx.gen_s = time.time() - t_gen
        result = run(ctx, args, tmp, t_proc, sampler)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.close()
        for d in glob.glob(os.path.join(scratch, f"*_{pid}_*")):
            shutil.rmtree(d, ignore_errors=True)
        if not had_scratch and os.path.isdir(scratch) and not os.listdir(scratch):
            os.rmdir(scratch)
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


class Ctx:
    """What a workload sees: the session, listener, tracer and oracle."""

    def __init__(self, args, work: str):
        self.seed, self.work = args.seed, work
        self.spark = self.log = self.con = self.tracer = None
        self.data, self.gen_s = None, 0.0

    def close(self):
        """Stop the session, end the JVM and every process it started."""
        if self.con is not None:
            self.con.close()
            self.con = None
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 20
        while (left := probes.descendants(os.getpid())) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        for p in left:
            try:
                os.waitpid(p, 0)
            except OSError:
                pass
        self.spark = None


def run(ctx, args, tmp, t_proc, sampler) -> dict:
    from flinkrealtimedatawarehouse_spark.session import available_memory_bytes, get_spark

    mem_avail_mb = available_memory_bytes() / 2**20
    conf = {"spark.local.dir": tmp}
    log_dir = os.path.join(tmp, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    ctx.tracer = probes.Tracer(enabled=bool(args.trace))
    with ctx.tracer.span("session.start") as sp:
        ctx.spark = get_spark("warebench", extra_conf=conf)
    session_start_s = sp.seconds
    ctx.log = probes.ProgressLog()
    ctx.spark.streams.addListener(ctx.log)
    ctx.con = oracle.connect()
    w = WORKLOADS[args.workload](ctx)
    with ctx.tracer.span("workload.setup"):
        w.setup()
    t_ready = time.time()
    setup_s = t_ready - t_proc - ctx.gen_s
    r = 0
    with ctx.tracer.span("workload.measure"):
        while True:
            with ctx.tracer.span("round", round=r):
                w.round(r)
            r += 1
            if time.time() - t_ready >= args.seconds:
                break
    stores = {k: probes.dir_usage(p) for k, p in w.stores.items()}
    heap_mb = layers.size_mb(ctx.spark.conf.get("spark.driver.memory"))
    t_measured = time.time()
    ctx.close()
    t_closed = time.time()
    peak_rss_mb = sampler.stop()

    op_p50_ms = probes.p50(w.op_ms)
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": w.rows_per_s(),
        "op_p50_ms": op_p50_ms,
        # only gold_upkeep reads stores; elsewhere the line repeats op_p50_ms
        "read_p50_ms": probes.p50(w.read_ms) if w.read_ms else op_p50_ms,
        "peak_rss_mb": peak_rss_mb,
    }
    info = {"workload": args.workload, "seed": args.seed, "rounds": r,
            "ops": len(w.op_ms), "reads": len(w.read_ms), "rows": w.rows,
            "mem_available_mb": mem_avail_mb, "heap_mb": heap_mb,
            "session_start_s": session_start_s, "gen_s": ctx.gen_s,
            "measure_s": t_measured - t_ready, "close_s": t_closed - t_measured,
            "problems": w.problems, "op_ms": w.op_ms,
            "read_ms": dict(w.reads_by_store),
            "listener_input_rows": {q: sum(b["numInputRows"] for b in bs)
                                    for q, bs in w.batches.items()}}
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}"
    if args.trace:
        jobs = probes.read_event_log(log_dir)
        probes.add_job_spans(ctx.tracer, jobs)
        metrics = layers.per_layer(w, jobs, session_start_s, heap_mb, stores, ctx.tracer)
        untraced = _load(os.path.join(OUT, f"result-{tag}.json"))
        overhead = ({k: e2e[k] - untraced["e2e"][k] for k in e2e}
                    if untraced else None)
        _dump(os.path.join(OUT, f"trace-{tag}.json"), {
            **info, "e2e_traced": e2e, "overhead_vs_untraced": overhead,
            "self_s": ctx.tracer.self_times(), "per_layer": metrics,
            "spans": ctx.tracer.spans})
        units = layers.PER_LAYER
    else:
        metrics = e2e
        _dump(os.path.join(OUT, f"result-{tag}.json"), {**info, "e2e": e2e})
        units = UNITS
    print(json.dumps(info), file=sys.stderr)
    return {"correct": w.failed == 0, "attempted": w.attempted, "failed": w.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}


def _load(path):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _dump(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
