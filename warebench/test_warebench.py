"""The benchmark's own tests: inputs, bookkeeping and clean-up.

    python3 -m pytest warebench/ -q

The clean-up test runs the ``dashboard`` workload once in a subprocess
(one Spark session, about half a minute).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import probes  # noqa: E402


def _tables(d):
    return {os.path.relpath(os.path.join(r, f), d): pq.read_table(os.path.join(r, f))
            for r, _, fs in os.walk(d) for f in fs}


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    gen.generate(3, str(tmp_path / "a"))
    gen.generate(3, str(tmp_path / "b"))
    gen.generate(4, str(tmp_path / "c"))
    a, b, c = (_tables(str(tmp_path / x)) for x in "abc")
    assert a.keys() == b.keys() == c.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["tables/events.parquet"].equals(c["tables/events.parquet"])


def test_event_slices_are_out_of_order_but_never_late(tmp_path):
    gen.generate(5, str(tmp_path))
    d = tmp_path / "streams" / "events"
    files = sorted(os.listdir(d))
    assert len(files) == gen.EVENT_SLICES > 1
    mtimes = [os.path.getmtime(d / f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    late_margin = np.timedelta64(30, "s")  # the operators' watermark delay
    newest, total = None, 0
    for f in files:
        t = pq.read_table(d / f)
        user, stamps = t["user_id"].to_numpy(), t["ts"].to_numpy()
        ts = stamps[user >= 0]
        total += len(ts)
        if newest is not None:
            assert ts.min() >= newest - late_margin
            assert ts.min() < newest  # some rows do arrive out of order
        newest = ts.max() if newest is None else max(newest, ts.max())
    # the watermark row rides in the last slice, past every bounce gap
    # and window end plus the delay
    assert (user == -1).sum() == 1
    assert stamps.max() - newest == np.timedelta64(gen.WATERMARK_PAD_S, "s")
    assert total == pq.ParquetFile(tmp_path / "tables" / "events.parquet").metadata.num_rows


def test_self_time_subtracts_covered_child_intervals():
    t = probes.Tracer(enabled=True)
    root = t.add("root", 0.0, 10.0, None)
    t.add("a", 1.0, 4.0, root)
    t.add("b", 3.0, 5.0, root)  # overlaps a: covered 1..5
    assert t.self_times() == {"root": 6.0, "a": 3.0, "b": 2.0}


def test_job_spans_hang_under_their_batch_query_or_open_span():
    t = probes.Tracer(enabled=True)
    root = t.add("round", 0.0, 10.0, None)
    batch = t.add("batch", 1.0, 2.0, root, query_id="q", batch_id=3)
    query = t.add("serving.v", 3.0, 4.0, root, op=7)
    job = {"end": 0.0, "tasks": 1}
    probes.add_job_spans(t, [
        {**job, "job": 0, "start": 1.5, "props": {"sql.streaming.queryId": "q",
                                                   "streaming.sql.batchId": "3"}},
        {**job, "job": 1, "start": 3.5, "props": {"warebench.op": "7"}},
        {**job, "job": 2, "start": 5.0, "props": {}},
    ])
    assert [s["parent"] for s in t.spans if s["name"] == "job"] == [batch, query, root]


def test_benchmark_json_names_every_reported_metric():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER


def _bench(cwd, *extra):
    return subprocess.run(
        [sys.executable, "warebench/run.py", "--workload", "dashboard", "--seed", "1",
         "--seconds", "1", "--trace", "0", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_without_the_program_the_run_fails_and_prints_no_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "warebench",
                    ignore=shutil.ignore_patterns(".data", "out", "__pycache__"))
    p = _bench(tmp_path)
    assert p.returncode != 0
    assert p.stdout == ""
    assert "flinkrealtimedatawarehouse_spark" in p.stderr


def test_a_run_leaves_scratch_and_its_work_dirs_as_it_found_them():
    scratch = os.path.join(ROOT, ".scratch")
    before = sorted(os.listdir(scratch)) if os.path.isdir(scratch) else None
    p = _bench(ROOT)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    after = sorted(os.listdir(scratch)) if os.path.isdir(scratch) else None
    assert after == before
    out = os.listdir(os.path.join(HERE, "out"))
    assert not [d for d in out if d.startswith(("tmp-", "work-"))]
