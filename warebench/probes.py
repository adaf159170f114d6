"""What the benchmark observes from outside the program.

- ``ProgressLog``: a ``StreamingQueryListener`` that keeps every
  query's progress reports, so per-batch times come from Spark's own
  ``durationMs`` and not from hand timers.
- ``RssSampler``: the summed resident set of this process and every
  process it started (JVM, Python workers), sampled from ``/proc``.
- ``Tracer``: spans (name, start, end, parent) around each call into a
  layer, with self time = duration minus the part its children cover.
- ``read_event_log``: jobs and task metrics from Spark's event log.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


def p50(values):
    return statistics.median(values) if values else 0.0


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, Spark's checksum files excluded."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.endswith(".crc"):
                total += os.path.getsize(os.path.join(d, n))
                files += 1
    return total, files


# --- streaming progress -------------------------------------------------------

class ProgressLog(StreamingQueryListener):
    def __init__(self):
        self.started: list[str] = []
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.terminated: dict[str, str | None] = {}
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self.started.append(str(event.id))
            self._cv.notify_all()

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._cv:
            self.progress[p["id"]].append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated[str(event.id)] = event.exception
            self._cv.notify_all()

    def mark(self) -> int:
        with self._cv:
            return len(self.started)

    def batches_since(self, mark: int, timeout: float = 60.0) -> list[dict]:
        """Progress reports of the queries started after ``mark``, once
        each has reported its termination (the listener bus is ordered,
        so no report of a terminated query is still in flight)."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while True:
                ids = self.started[mark:]
                if ids and all(q in self.terminated for q in ids):
                    break
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"no termination report for queries {ids}")
                self._cv.wait(left)
            for q in ids:
                if self.terminated[q]:
                    raise RuntimeError(f"query {q} failed: {self.terminated[q]}")
            return [p for q in ids for p in self.progress[q]]


def slice_of(progress: dict) -> int:
    """Index of the input file a micro-batch consumed: with one file per
    trigger the file source's log offset counts files. A batch that read
    no new file (a watermark-only batch) belongs to the slice before it."""
    end = progress["sources"][0]["endOffset"]
    if isinstance(end, str):
        end = json.loads(end)
    return int(end["logOffset"])


# --- resident set -----------------------------------------------------------

class RssSampler:
    """Peak summed resident set (MiB) of this process and all its
    descendants, sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kb / 1024

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self):
        table = _process_table()
        total = 0
        for pid in descendants(os.getpid(), include_self=True, table=table):
            ppid, rss_kb, layout = table[pid]
            parent = table.get(ppid)
            if parent is not None and parent[2] == layout:
                # not exec'd since its fork or spawn: it maps its parent's
                # pages (all of them while a spawn shares the address
                # space), so only what it holds beyond the parent counts
                rss_kb = max(0, rss_kb - parent[1])
            total += rss_kb
        self.peak_kb = max(self.peak_kb, total)


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _process_table() -> dict[int, tuple]:
    """pid -> (ppid, rss KiB, program layout) from /proc/*/stat. The layout
    (code start/end, stack start) changes at exec and nowhere else."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            # fields[0] is stat field 3 (state): rss=24, startcode=26,
            # endcode=27, startstack=28
            out[int(stat.split("/")[2])] = (
                int(fields[1]), int(fields[21]) * _PAGE_KB,
                (fields[23], fields[24], fields[25]))
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(root: int, include_self: bool = False, table=None) -> list[int]:
    children = defaultdict(list)
    for pid, (ppid, _, _) in (table if table is not None else _process_table()).items():
        children[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out if include_self else out[1:]


def process_start_time() -> float:
    """Wall-clock start of this process (from /proc), for set-up time."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


# --- spans --------------------------------------------------------------------

class Tracer:
    """Spans kept in memory and written out when the run ends. With
    ``enabled`` False, ``span`` costs one context manager and records
    nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        if self.enabled:
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, **attrs})
        return sid

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the union of
        its children's intervals."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, edge), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            out[s["name"]] += max(0.0, s["end"] - s["start"] - covered)
        return dict(out)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        self.start = time.time()
        self.parent = self.tracer.current()
        self.id = None
        if self.tracer.enabled:
            self.id = self.tracer.add(self.name, self.start, self.start, self.parent, **self.attrs)
            self.tracer._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        if self.id is not None:
            self.tracer.spans[self.id]["end"] = self.end
            self.tracer._stack.pop()
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start


def add_job_spans(tracer: Tracer, jobs: list[dict]) -> None:
    """One ``job`` span per event-log job. Its parent is the micro-batch
    span of its ``sql.streaming.queryId``/``streaming.sql.batchId``, else
    the dashboard query span of its ``warebench.op``, else the innermost
    span open when the job was submitted."""
    owner = {}
    for s in tracer.spans:
        if "batch_id" in s:
            owner[(s["query_id"], str(s["batch_id"]))] = s["id"]
        elif "op" in s:
            owner[str(s["op"])] = s["id"]
    spans = list(tracer.spans)
    for j in jobs:
        if j["end"] is None:
            continue
        p = j["props"]
        parent = owner.get((p.get("sql.streaming.queryId"), p.get("streaming.sql.batchId")),
                           owner.get(p.get("warebench.op")))
        if parent is None:
            open_at = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
            parent = max(open_at, key=lambda s: s["start"])["id"] if open_at else None
        tracer.add("job", j["start"], j["end"], parent, job=j["job"], tasks=j["tasks"])


# --- event log ----------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """One record per job: submission/completion (s), its properties and
    summed task metrics."""
    jobs, stage_job = {}, {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"job": jid, "start": ev["Submission Time"] / 1000,
                                 "end": None, "props": ev.get("Properties") or {},
                                 "tasks": 0, "run_ms": 0, "gc_ms": 0,
                                 "shuffle_bytes": 0, "input_bytes": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["run_ms"] += m.get("Executor Run Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    rd = m.get("Shuffle Read Metrics", {})
                    job["shuffle_bytes"] += (rd.get("Remote Bytes Read", 0)
                                             + rd.get("Local Bytes Read", 0))
                    job["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return sorted(jobs.values(), key=lambda j: j["job"])
