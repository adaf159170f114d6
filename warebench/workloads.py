"""The three workloads. Each is a class with ``setup`` (untimed inputs
registration, counted in set-up time) and ``round`` (one whole round of
the same operations, checked against the oracle).

An operation is timed from outside the program:

- clickstream / gold_upkeep: one input slice; its time is the sum of the
  ``triggerExecution`` times of the micro-batches in which the workload's
  queries consumed that slice (from the listener's progress reports).
- dashboard: one query, wall time of ``spark.sql(...).collect()``.

Reads (``read_ms``, ``gold_upkeep`` only) are current and as-of reads of
a store, collected to the driver. Every output is checked once; a check
that disagrees with the oracle counts as one failed operation.
"""

from __future__ import annotations

import glob
import os
from collections import defaultdict
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq

from pyspark.sql import functions as F
from pyspark.sql import types as T

from flinkrealtimedatawarehouse_spark import serving
from flinkrealtimedatawarehouse_spark.streaming import runner, searchindex, sinks, state, windows

import gen
import oracle
from probes import slice_of

EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])
BOUNCE_GAP_S = 300  # bounce_stream's default gap, restated for the oracle


def _rows(table) -> list[tuple]:
    """An Arrow table's rows as tuples (outside any timed span)."""
    return [tuple(r.values()) for r in table.to_pylist()]


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Workload:
    """Shared bookkeeping: operation and read times, rows, failures, and
    the per-query progress reports the traced run turns into metrics."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.op_ms: list[float] = []
        self.read_ms: list[float] = []
        self.reads_by_store: dict[str, list[float]] = defaultdict(list)
        self.warm: set[str] = set()
        self.rows = 0
        self.op_wall_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.batches: dict[str, list[dict]] = defaultdict(list)
        self.query_ids: dict[str, set] = defaultdict(set)
        self.stores: dict[str, str] = {}
        self.problems: list[str] = []

    def setup(self):
        pass

    def rows_per_s(self) -> float:
        return self.rows / self.op_wall_s

    def check(self, what: str, ok: bool):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def read(self, store: str, fn):
        """One read of a store, returning its rows. The first read of a
        store is not timed: on the gold table it took 2.5-4x as long as
        the next ones, a cost a long-running reader pays once."""
        with self.ctx.tracer.span(f"read.{store}") as sp:
            rows = fn()
        if store in self.warm:
            self.read_ms.append(sp.seconds * 1000)
            self.reads_by_store[store].append(sp.seconds * 1000)
        self.warm.add(store)
        return rows

    def streams(self, calls: dict[str, tuple]):
        """Run the streaming calls one after another; book each query's
        batches per slice. ``calls``: name -> (input dir, fn).

        Input rows are counted from the files, since a ``foreachBatch``
        function that reads its batch twice doubles the source's own
        ``numInputRows``."""
        log, tracer = self.ctx.log, self.ctx.tracer
        results = {}
        per_slice: dict[int, float] = defaultdict(float)
        for name, (d, fn) in calls.items():
            mark = log.mark()
            with tracer.span(f"runner.{name}") as sp:
                results[name] = fn()
            self.op_wall_s += sp.seconds
            self.rows += sum(pq.ParquetFile(f).metadata.num_rows
                             for f in glob.glob(os.path.join(d, "*.parquet")))
            for p in log.batches_since(mark):
                self.batches[name].append(p)
                self.query_ids[name].add(p["id"])
                start = _iso(p["timestamp"])
                end = start + p["durationMs"].get("triggerExecution", 0) / 1000
                tracer.add("batch", start, end, sp.id, query=name,
                           query_id=p["id"], batch_id=p["batchId"])
                per_slice[slice_of(p)] += p["durationMs"].get("triggerExecution", 0)
        self.op_ms.extend(per_slice.values())
        self.attempted += len(per_slice)
        return results

    def dropped_by_watermark(self, name: str) -> int:
        return sum(op.get("numRowsDroppedByWatermark", 0)
                   for p in self.batches[name] for op in p.get("stateOperators", []))


class Clickstream(Workload):
    """UV dedup, bounce detection and 10-minute visitor stats, each a
    checkpointed query over the same event slices, each result checked
    once."""

    def setup(self):
        self.in_dir = os.path.join(self.ctx.data, "streams", "events")
        self.files = sorted(glob.glob(os.path.join(self.in_dir, "*.parquet")))
        self.queries = {
            "dedup": lambda sdf: state.streaming_dedup(
                sdf.withColumn("event_date", F.date_format("ts", "yyyy-MM-dd")),
                ["user_id", "event_date"]),
            "bounce": lambda sdf: state.bounce_stream(sdf),
            "visitor": lambda sdf: windows.visitor_stats_stream(sdf),
        }

    def round(self, r: int):
        spark, con = self.spark, self.ctx.con
        outs = self.streams({
            name: (self.in_dir, lambda build=build, name=name: runner.run_to_memory(
                build(runner.parquet_stream(spark, self.in_dir, EVENT_SCHEMA)), f"wb_{name}"))
            for name, build in self.queries.items()})

        uv = oracle.uv(con, self.files)
        bounce = oracle.bounce(con, self.files, BOUNCE_GAP_S)
        visitor = oracle.visitor(con, self.files)
        n_events = oracle.count_rows(con, self.files)
        dropped = {q: self.dropped_by_watermark(q) for q in self.queries}
        got = _rows(outs["dedup"].filter("user_id >= 0").toArrow())
        self.check("dedup rows", len(got) == len(set(got)) and set(got) == uv
                   and dropped["dedup"] == 0)
        got = _rows(outs["bounce"].filter("user_id >= 0").toArrow())
        self.check("bounce decisions", len(got) == len(bounce)
                   and {e: (u, b) for u, e, b in got} == bounce and dropped["bounce"] == 0)
        got = _rows(outs["visitor"].filter("event_type <> '__wm__'").select(
            "stt", "edt", "event_type", "pv_ct", "value_sum", "uv_ct").toArrow())
        keyed = {g[:3]: g[3:] for g in got}
        self.check("visitor windows", len(keyed) == len(got)
                   and oracle.same_keyed(keyed, visitor)
                   and sum(g[3] for g in got) == n_events and dropped["visitor"] == 0)


class GoldUpkeep(Workload):
    """Change streams folded through the three durable-store families,
    then every store read as it stands now and as of every committed
    batch."""

    def setup(self):
        d = self.ctx.data
        self.tables = os.path.join(d, "tables")
        self.dirs = {f: os.path.join(d, "streams", f) for f in ("lineitem", "dimchanges", "documents")}
        self.files = {f: sorted(glob.glob(os.path.join(p, "*.parquet"))) for f, p in self.dirs.items()}
        # explicit schemas: the upkeep calls take a frame only for its
        # schema and session, so set-up starts no schema-inference job
        self.changes = self.spark.read.schema(
            "id long, name string, segment string, v long, type string"
        ).parquet(self.files["dimchanges"][0])
        self.docs = self.spark.read.schema("doc_id long, text string").parquet(
            self.files["documents"][0])
        self.rng = np.random.default_rng(self.ctx.seed)

    def round(self, r: int):
        spark, con, work = self.spark, self.ctx.con, self.ctx.work
        self.stores = {k: os.path.join(work, f"{k}_r{r}") for k in ("gold", "scd2", "postings")}
        outs = self.streams({
            "gold": (self.dirs["lineitem"], lambda: serving.stream_wide_product_upkeep(
                spark, self.tables, self.stores["gold"], tag="wb_gold",
                staged_dir=self.dirs["lineitem"])),
            "scd2": (self.dirs["dimchanges"], lambda: sinks.stream_scd2_upkeep(
                self.changes, "id", "v", self.stores["scd2"], tag="wb_scd2",
                staged_dir=self.dirs["dimchanges"])),
            "postings": (self.dirs["documents"], lambda: searchindex.stream_postings_upkeep(
                self.docs, "doc_id", "text", self.stores["postings"], tag="wb_postings",
                staged_dir=self.dirs["documents"])),
        })
        gold, scd2, post = outs["gold"], outs["scd2"], outs["postings"]

        gold_cols = serving.WIDE_AGG_KEYS + ["order_amount", "order_ct"]
        scd2_cols = ["id", "name", "segment", "v", "valid_from", "valid_to", "is_current"]
        for b in self._as_of(self.files["lineitem"]):
            got = _rows(self.read("gold", lambda: (
                gold.current(spark) if b is None else gold.read_version(spark, b)
            ).select(*gold_cols).toArrow()))
            keyed = {g[:3]: g[3:] for g in got}
            want = oracle.gold(con, self._upto(self.files["lineitem"], b), self.tables)
            self.check(f"gold as of {b}", len(keyed) == len(got) and oracle.same_keyed(keyed, want))
        for b in self._as_of(self.files["dimchanges"]):
            got = _rows(self.read("scd2", lambda: scd2.history(
                spark, as_of_batch=b).select(*scd2_cols).toArrow()))
            want = oracle.scd2(con, self._upto(self.files["dimchanges"], b))
            self.check(f"scd2 as of {b}", len(got) == len(set(got)) and set(got) == want
                       and self._one_current_contiguous(got))
        for b in self._as_of(self.files["documents"]):
            terms = self._query_terms()
            def search():
                hits = searchindex.streamed_postings_search(
                    spark, self.stores["postings"], "doc_id", " ".join(terms),
                    k=gen.N_DOCS, as_of_batch=b)
                stats = post.stats.current(spark) if b is None else post.stats.read_version(spark, b)
                return (hits.select("doc_id", "n_hit_terms", "score").toArrow(),
                        stats.select("n_docs", "sum_dl").toArrow())
            hits, stats = map(_rows, self.read("postings", search))
            want, n_docs, sum_dl = oracle.postings(
                con, self._upto(self.files["documents"], b), terms)
            self.check(f"postings as of {b} for {terms}", stats == [(n_docs, sum_dl)]
                       and {d: (n, sc) for d, n, sc in hits}.keys() == want.keys()
                       and all(want[d][0] == n and abs(want[d][1] - sc) <= oracle.SCORE_TOL
                               for d, n, sc in hits)
                       and all(x[2] >= y[2] for x, y in zip(hits, hits[1:])))

    def _query_terms(self) -> list[str]:
        """Three distinct vocabulary words."""
        return [gen.WORDS[i] for i in self.rng.choice(len(gen.WORDS), 3, replace=False)]

    @staticmethod
    def _as_of(files):
        """Now, twice (the first read of a store only warms it), and as
        of every committed batch."""
        return [None, None, *range(len(files))]

    @staticmethod
    def _upto(files, b):
        return files if b is None else files[: b + 1]

    @staticmethod
    def _one_current_contiguous(rows) -> bool:
        by_key = defaultdict(list)
        for row in rows:
            by_key[row[0]].append(row)
        for hist in by_key.values():
            hist.sort(key=lambda x: x[4])
            if sum(1 for x in hist if x[6]) > 1:
                return False
            if any(a[5] != b[4] for a, b in zip(hist, hist[1:])):
                return False
        return True


# Dashboard requests: (view, SQL with parameters drawn per request). The
# outer query is plain SQL both engines run verbatim over their own views.
def _requests(rng, days: list[str], provinces: list[str]):
    day = days[rng.integers(len(days))]
    d0 = rng.integers(len(days) - 7)
    lo, hi = (datetime.strptime(days[d0 + k], "%Y%m%d").strftime("%Y-%m-%d") for k in (0, 6))
    n = int(rng.integers(3, 11))
    h = int(rng.integers(0, 19))
    prov = provinces[rng.integers(len(provinces))]
    flag = "1" if rng.random() < 0.5 else "0"
    return {
        "ads_gmv_day": (f"SELECT dt, gmv FROM ads_gmv_day WHERE dt = '{day}'", False),
        "ads_top_brand": (f"SELECT p_brand, order_amount FROM ads_top_brand "
                          f"ORDER BY order_amount DESC, p_brand LIMIT {n}", True),
        "ads_hourly": (f"SELECT hr, new_uv, uv_ct, pv_ct FROM ads_hourly "
                       f"WHERE hr BETWEEN {h} AND {h + 5} ORDER BY hr", True),
        "ads_keyword_score": (f"SELECT keyword, ct FROM ads_keyword_score "
                              f"ORDER BY ct DESC, keyword LIMIT {2 * n}", True),
        "ads_top_part": (f"SELECT p_partkey, order_amount, order_ct FROM ads_top_part "
                         f"ORDER BY order_amount DESC, p_partkey LIMIT {n}", True),
        "ads_visitor_newflag": (f"SELECT is_new, uv_ct, pv_ct, value_sum FROM ads_visitor_newflag "
                                f"WHERE is_new = '{flag}'", False),
        "ads_province": (f"SELECT dt, province_name, order_amount FROM ads_province "
                         f"WHERE dt = '{day}' AND province_name = '{prov}'", False),
        "ads_rolling_gmv": (f"SELECT dt, amount, ma7, cume FROM ads_rolling_gmv "
                            f"WHERE dt BETWEEN '{lo}' AND '{hi}' ORDER BY dt", True),
        "ads_hour_matrix": (f"SELECT hr, click, view, purchase FROM ads_hour_matrix "
                            f"WHERE hr = {h}", False),
        "ads_top_brand_wide": (f"SELECT p_brand, order_amount FROM ads_top_brand_wide "
                               f"ORDER BY order_amount DESC, p_brand LIMIT {n}", True),
        "ads_top_part_wide": (f"SELECT p_partkey, order_amount, order_ct FROM ads_top_part_wide "
                              f"ORDER BY order_amount DESC, p_partkey LIMIT {n}", True),
        "ads_gmv_day_wide": (f"SELECT dt, gmv FROM ads_gmv_day_wide WHERE dt = '{day}'", False),
    }


class Dashboard(Workload):
    """One closed-loop client sending the ADS queries. A pass is one
    refresh of the reference's dashboard: one request per view (the
    reference serves one endpoint per panel), in a seeded order, with the
    parameters drawn per request. Set-up ends with one checked, untimed
    pass, so the timed requests meet a warm server: the first pass's
    median query took 1.4-1.9x that of the third. A round is PASSES
    passes."""

    PASSES = 4

    def setup(self):
        spark, tracer = self.spark, self.ctx.tracer
        self.tables = os.path.join(self.ctx.data, "tables")
        with tracer.span("serving.register"):
            serving.register_serving_views(spark, self.tables)
        wide = os.path.join(self.ctx.work, "product_wide")
        with tracer.span("serving.wide_build") as sp:
            serving.build_wide_product(spark, self.tables, wide)
            serving.register_wide_serving_views(spark, wide)
        self.wide_build_s = sp.seconds
        oracle.register_serving(self.ctx.con, self.tables)
        # rows of the base tables behind the views, read once per pass
        self.pass_rows = sum(
            pq.ParquetFile(os.path.join(self.tables, f"{t}.parquet")).metadata.num_rows
            for t in oracle.BASE_TABLES)
        days = [r[0] for r in self.ctx.con.sql(
            "SELECT DISTINCT dt FROM ads_gmv_day ORDER BY dt").fetchall()]
        provinces = [r[0] for r in self.ctx.con.sql(
            "SELECT n_name FROM nation ORDER BY n_name").fetchall()]
        self.days, self.provinces = days, provinces
        self.rng = np.random.default_rng(self.ctx.seed)
        self.view_ms: dict[str, list[float]] = defaultdict(list)
        self._pass(timed=False)

    def rows_per_s(self) -> float:
        """Base-table rows served per second of a refresh's query time."""
        return self.pass_rows * self.PASSES / (sum(self.op_ms) / 1000)

    def round(self, r: int):
        for _ in range(self.PASSES):
            self._pass()

    def _pass(self, timed: bool = True):
        spark, con, tracer = self.spark, self.ctx.con, self.ctx.tracer
        sc = spark.sparkContext
        reqs = _requests(self.rng, self.days, self.provinces)
        for view in self.rng.permutation(sorted(reqs)):
            sql, ordered = reqs[view]
            attrs = {"op": self.attempted} if timed else {}
            sc.setLocalProperty("warebench.op", str(self.attempted) if timed else None)
            with tracer.span(f"serving.{view}", **attrs) as sp:
                got = [tuple(row) for row in spark.sql(sql).collect()]
            sc.setLocalProperty("warebench.op", None)
            if timed:
                self.op_ms.append(sp.seconds * 1000)
                self.view_ms[view].append(sp.seconds * 1000)
            self.check(f"{view}: {sql}", oracle.same_rows(got, con.sql(sql).fetchall(), ordered))


WORKLOADS = {"clickstream": Clickstream, "gold_upkeep": GoldUpkeep, "dashboard": Dashboard}
