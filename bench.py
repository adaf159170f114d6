"""Headline benchmark: runs representative queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec", "queries":
{name: sec}, "sf": ...} — followed by a short final summary line with the
same headline fields so a tail-capture that truncates the long line still
ends with parseable JSON (round-8 BENCH record had parsed:null because the
full line outgrew the driver's capture window).

Process model: the parent is a pure orchestrator (no SparkSession). Both
the sf0.1 headline tier and the sf1 tier run in FRESH subprocesses with
their own JVMs — round 7 proved in-process tiers inherit page-cache
write-back and JIT state from predecessors (46x cold swings on identical
code), and round 8's sf0.1 tier wobbled +5.4% in-process; isolation makes
drift claims measurable instead of judgment calls. Sequential, never
concurrent (two full-size JVMs OOM this sandbox).

Query set spans the engine's load-bearing paths: the star-schema dim chain
(J3/J4), windowed stats aggs (A1/A2/A3), bounce detection (W1), the 7-way
product union (U2), tokenizer+window (A4), and the data-pipeline ops
(MinHash-LSH dedup, cosine top-k, fingerprinting).
"""

from __future__ import annotations

import json
import os
import sys
import time


def _load_stamp() -> dict:
    """Ambient-load fingerprint stamped into every bench fragment
    (VERDICT r12 task #1): 1/5/15-min load averages plus the count of
    live JVMs on the box. Three rounds of serving-tier regressions
    'resolved on re-measure' traced to concurrent soak/bench JVMs —
    contamination must be self-documenting in the committed record, not
    reconstructed from memory."""
    try:
        la = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        la = None
    n_jvm = 0
    try:
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/comm") as fh:
                    if fh.read().strip() == "java":
                        n_jvm += 1
            except OSError:
                continue  # process exited between listdir and open
    except OSError:
        n_jvm = None
    return {"loadavg": la, "jvms": n_jvm}


def _calibration_stamp() -> dict:
    """Deterministic box-speed microbench stamped next to the load stamps
    (round 15, VERDICT r14 #2/#3): round 14's PERF comparison read a
    uniform 0.77x "regression" that was ambient box drift — untouched
    queries slowed 1.2-1.6x while the optimized ones improved absolutely —
    and nothing in the committed record let the comparison self-attribute.
    Two fixed-work probes whose TIME varies with the box:

    - ``cpu_sec``: SHA-256 over 192 MB of constant buffer — pure
      single-thread CPU speed.
    - ``alloc_sec``: commit + first-touch 256 MiB of fresh anonymous
      memory — the kernel fault path round 14 measured ~50x slow on this
      sandbox's kernel (the growable-heap storm). A box where this reads
      high inflates every allocation-heavy fragment.

    Cross-round rule: quote PERF deltas together with the calibration
    ratio; a delta that matches the calibration ratio is the box, not the
    code."""
    import hashlib
    import mmap

    t0 = time.perf_counter()
    buf = b"\x5a" * (1 << 20)
    h = hashlib.sha256()
    for _ in range(192):
        h.update(buf)
    cpu_sec = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    size = 256 << 20
    mm = mmap.mmap(-1, size)
    try:
        step = mmap.PAGESIZE
        for off in range(0, size, step):
            mm[off] = 1
    finally:
        mm.close()
    alloc_sec = round(time.perf_counter() - t0, 4)
    return {"cpu_sec": cpu_sec, "alloc_sec": alloc_sec}


# Scaling sentinel sizing: 5,000 documents at sf0.1 x AMP x ROUNDS
# xxhash64 evaluations — enough embarrassingly parallel compute that the
# wall tracks 1/cores instead of the fixed scheduling floor. Constants
# are FROZEN like the headline query set (changing them changes what the
# entry measures).
_SENTINEL_AMP = 12000
_SENTINEL_ROUNDS = 60


def _q_scale_sentinel(spark, sf_dir: str):
    """Compute-dense scaling sentinel (round 15, VERDICT r14 #2): every
    frozen sf0.1 headline query is overhead-bound (0.1-0.9 s against a
    ~0.1-0.3 s fixed scheduling floor), so the driver's low-core
    comparison lands on ratios ~1 by construction and `suspect_cpus_
    ignored` fires even though $SPARK_GRAFT_CPUS is honored. This entry
    is the probe the comparison can see: a deterministic hash chain
    amplified from the documents table (explode a fixed sequence per
    doc, iterate xxhash64), fully codegen'd, no shuffle wider than the
    final count — wall time is ~pure executor compute, so 8-vs-32-core
    ratios approach the core ratio. ADDED to the queries dict (the
    contract permits additions); the frozen 13 and their totals-vs-prev
    comparison are unchanged except for this entry's own seconds."""
    from pyspark.sql import functions as F

    from flinkrealtimedatawarehouse_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n_part = spark.sparkContext.defaultParallelism
    rows = docs.repartition(n_part).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_SENTINEL_AMP - 1))).alias("i"),
    )
    h = F.xxhash64("doc_id", "i")
    for _ in range(_SENTINEL_ROUNDS - 1):
        h = F.xxhash64(h)
    # the filter references the full chain, so count() cannot prune the
    # per-row work (h != 0 drops ~2^-64 of rows — effectively none)
    return rows.select(h.alias("h")).filter(F.col("h") != 0)


def _headline():
    # Per-operator functions, NOT the consolidated driver registry — the
    # registry's tagged-union gate entries bundle several operators per
    # slot, which would change what each bench name measures across rounds.
    from flinkrealtimedatawarehouse_spark.benchqueries import pipeline, warehouse

    return {
        "j4_dim_chain_star": warehouse.q_j4,
        "a1_visitor_stats": warehouse.q_a1,
        "a2_product_stats": warehouse.q_a2,
        "a3_province_stats": warehouse.q_a3,
        "a4_keyword_stats": warehouse.q_a4,
        "w1_bounce_detect": warehouse.q_w1,
        "u2_product_union": warehouse.q_u2,
        "dp1_exact_dedup": pipeline.q_exact_dedup,
        "dp2_minhash_lsh_neardup": pipeline.q_minhash_lsh,
        "dp6_cosine_topk": pipeline.q_cosine_topk,
        "dp11_fingerprint": pipeline.q_fingerprint,
        "dp16_corpus_ngrams": pipeline.q_corpus_ngrams,
        "dp17_cosine_topk_batch": pipeline.q_cosine_topk_batch,
    }
    # the scale sentinel is NOT in this dict: it runs in its own JVM
    # (run_sentinel_tier) and the orchestrator merges its seconds into
    # the published queries dict — measured in-tier it contaminated the
    # frozen queries' steady timings (+3.4 s spread across untouched
    # entries in a paired A/B: its compile/GC churn bleeds into later
    # runs in the shared JVM), which would poison round-over-round
    # comparability of the frozen 13.


def _settle_after_generation(sf1_dir: str) -> None:
    """Make 'cold' mean JVM-cold-but-disk-settled after a fresh sf1 write.

    Immediately after writing ~10x data, the page cache is full of dirty
    un-synced pages and the first read competes with write-back (round 7:
    u2 cold 200.7 s vs 4.4 s on identical code). sync() flushes the dirty
    pages, then one sequential Python read per file repopulates the cache
    cleanly — so the cold timing measures codegen + AQE at sf1, not the
    generator's write-back, matching what cached-data rounds measure."""
    os.sync()
    for root, _dirs, files in os.walk(sf1_dir):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "rb") as fh:
                    while fh.read(1 << 22):
                        pass


def run_sf1_tier() -> int:
    """The sf1 tier as its own process entry (`bench.py --sf1-only`):
    prints one JSON line {"sf1": {...}, "sf1_gen_sec": ..., "sf1_fresh_gen":
    ...}. Cold = first run in THIS fresh JVM (codegen + AQE at sf1 size);
    steady = min-of-3 after it. Persisted/checkpointed RDDs are released
    after each query so later queries don't pay their predecessors' memory
    as GC pressure."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from flinkrealtimedatawarehouse_spark.session import get_spark
    from flinkrealtimedatawarehouse_spark.benchqueries import pipeline, tpch, warehouse as wh
    from scripts.gen_sf1 import ensure_sf1, OUT_DIR

    load_start = _load_stamp()
    calib = _calibration_stamp()
    spark = get_spark("bench-sf1")
    fresh = not os.path.exists(os.path.join(OUT_DIR, "_SF1_OK"))
    t0 = time.time()
    sf1_dir = ensure_sf1(spark)
    gen_sec = round(time.time() - t0, 3)
    if fresh:
        t0 = time.time()
        _settle_after_generation(sf1_dir)
        print(f"# sf1 settle after generation: {time.time()-t0:.1f}s", file=sys.stderr)

    sf1_fns = {
        "a3_province_stats": wh.q_a3,
        "a4_keyword_stats": wh.q_a4,
        "j4_dim_chain_star": wh.q_j4,
        "u2_product_union": wh.q_u2,
        "dp2_minhash_lsh_neardup": pipeline.q_minhash_lsh,
        "dp6_cosine_topk": pipeline.q_cosine_topk,
        "dp15s_span_dedup": pipeline.q_span_dedup,
        # the frozen tier times the two batch branches only — the gate's
        # streamed-index branch (q_bm25c) would fold a one-off stream
        # ingest into a steady-state timing (see q_bm25_batch docstring)
        "dp25_bm25": pipeline.q_bm25_batch,
        "tpch7_trade": tpch.q_tpch7,
        "tpch9_profit": tpch.q_tpch9,
        "tpch18_bigqty": tpch.q_tpch18,
    }

    def _release_query_state(s):
        # dp2/dp15s persist + localCheckpoint inside their pipelines;
        # without an explicit release those RDDs outlive the query and the
        # LAST sf1 queries pay their memory as GC pressure (measured:
        # tpch18 1.4 s isolated vs 5.3 s after 10 contaminating
        # predecessors)
        s.catalog.clearCache()
        for rdd in list(s.sparkContext._jsc.getPersistentRDDs().values()):
            try:
                rdd.unpersist()
            except Exception:
                pass

    sf1_queries: dict[str, float] = {}
    sf1_cold: dict[str, float] = {}
    for name, fn in sf1_fns.items():
        try:
            t0 = time.time()
            fn(spark, sf1_dir).count()  # cold: first run in this JVM
            sf1_cold[name] = round(time.time() - t0, 3)
            best, n = float("inf"), -1
            # min-of-3 default (C2 compile bursts span runs); the env knob
            # exists for drift investigations (round-10 VERDICT asked for a
            # load-controlled min-of-5 re-measure of the sf1 tier)
            n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS_SF1", "3")))
            for _ in range(n_runs):
                t0 = time.time()
                n = fn(spark, sf1_dir).count()
                best = min(best, time.time() - t0)
            sf1_queries[name] = round(best, 3)
            print(
                f"# sf1 {name}: {n} rows in {sf1_queries[name]}s "
                f"(cold {sf1_cold[name]}s)",
                file=sys.stderr,
            )
        except Exception as e:
            print(f"# sf1 {name} FAILED: {e}", file=sys.stderr)
        finally:
            # release even when the query FAILED mid-run — a failed dp2/
            # dp15s otherwise leaks its persisted RDDs into every later
            # query's timing (the contamination the comment above measures)
            _release_query_state(spark)

    print(json.dumps({
        "sf1": {
            "value": round(sum(sf1_queries.values()), 3),
            "value_cold": round(sum(sf1_cold.get(n, 0.0) for n in sf1_queries), 3),
            "queries": sf1_queries,
            "queries_cold": {n: sf1_cold[n] for n in sf1_queries if n in sf1_cold},
            "load": {"start": load_start, "end": _load_stamp()},
            "calib": calib,
        },
        "sf1_gen_sec": gen_sec,
        "sf1_fresh_gen": fresh,
    }))
    return 0


_SERVING_QUERY = "fast hash join"  # same vocabulary as the dp25 gate query
_SERVING_QUERIES_8 = [
    (0, "fast hash join"),
    (1, "spark shuffle partition"),
    (2, "sort merge join"),
    (3, "column scan filter"),
    (4, "stream window agg"),
    (5, "broadcast small table"),
    (6, "query plan order"),
    (7, "group key value"),
]


def run_serving_tier() -> int:
    """Streamed serving read paths vs their batch-index twins
    (`bench.py --serving-only`): prints one JSON fragment line
    {"serving": {"sf0.1": {...}, "sf1": {...}}}.

    What this measures (round-9 VERDICT's main evidence gap): the
    streamed index designs trade write-path cost for read-path cost —
    the postings index recomputes df per query over the pruned scan, the
    IVF index folds centroids at read — and until now that per-query
    cost was invisible (the frozen tiers deliberately exclude the one-off
    stream ingest). Per sf: build each index ONCE (wall reported under
    "build"), then time each read path min-of-N in this JVM, exactly the
    frozen tiers' methodology. Keys pair each streamed path with its
    batch twin so the read-path premium is a direct ratio."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from flinkrealtimedatawarehouse_spark.session import get_spark

    spark = get_spark("bench-serving")
    out: dict[str, dict] = {}
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # SPARK_GRAFT_SERVING_SCOPE splits the two sf tiers into separate
    # fresh JVMs (r12 VERDICT #1: the sf1 serving reads regressed
    # 1.2-1.66x in a JVM that had just run the full sf0.1 pass + hibatch
    # staging — the same inherited-GC/JIT class that moved the BUILD
    # figures to isolated subprocesses in r11). The orchestrator invokes
    # this tier once per scope; "both" remains for manual runs.
    scope = os.environ.get("SPARK_GRAFT_SERVING_SCOPE", "both")
    # hibatch (the 48/64-micro-batch auto-compaction evidence) runs at
    # the default sf only: the claim it supports — read latency flat vs
    # batch count — is about directory LAYOUT, not data size, and that
    # many micro-batches at sf1 would add minutes of pure foreachBatch
    # overhead
    if scope in ("both", "sf0"):
        out[os.path.basename(sf_dir.rstrip("/"))] = _serving_measure(
            spark, sf_dir, hibatch=True
        )
    if scope in ("both", "sf1") and os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        from scripts.gen_sf1 import ensure_sf1

        out["sf1"] = _serving_measure(spark, ensure_sf1(spark))
    print(json.dumps({"serving": out}))
    return 0


def _scd2_changes(spark, sf_dir: str):
    """Events replayed as dim changes for the SCD2 serving subject:
    ~20k hashed keys so each micro-batch touches a sparse key subset
    (the realistic dim-change shape — per-batch re-stamp work bounded by
    touched keys' change counts, not history size)."""
    from pyspark.sql import functions as F

    from flinkrealtimedatawarehouse_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.pmod(F.xxhash64("event_id"), F.lit(20000)).alias("pk"),
        F.col("event_id").alias("ver"),
        F.lit("insert").alias("type"),
        F.col("event_type").alias("attr"),
    )


def run_build_one() -> int:
    """One streamed-index build in its own JVM (`bench.py --build-one
    <kind> <sf_dir> <out_dir> <n_batches>`): stages the stream input
    (untimed, test plumbing), runs the build, prints {"build_wall": s}.
    This is the isolated-builds worker — serving-tier BUILD figures taken
    in the shared measurement JVM inherited GC/JIT churn from preceding
    micro-batch commits twice in a row (r10 postings 16.9->10.1 s, r11
    wide 40.1->18.1 s on isolated re-measure), so each build now runs
    fresh by default; read paths stay in the shared JVM as before."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from flinkrealtimedatawarehouse_spark import serving
    from flinkrealtimedatawarehouse_spark.session import get_spark
    from flinkrealtimedatawarehouse_spark.streaming import searchindex, simsearch
    from flinkrealtimedatawarehouse_spark.tables import load_table

    i = sys.argv.index("--build-one")
    kind, sf_dir, out_dir, n_b_s = sys.argv[i + 1:i + 5]
    n_b = int(n_b_s)
    spark = get_spark(f"bench-build-{kind}")
    tag = f"iso_{kind}_{n_b}"
    if kind == "post":
        docs = load_table(spark, sf_dir, "documents")
        staged = searchindex.stage_postings_input(
            docs, "doc_id", "text", n_batches=n_b, tag=tag)
        t0 = time.time()
        searchindex.stream_postings_upkeep(
            docs, "doc_id", "text", out_dir, n_batches=n_b, tag=tag,
            staged_dir=staged)
    elif kind == "ivf":
        emb = load_table(spark, sf_dir, "embeddings")
        staged = simsearch.stage_ivf_input(
            emb, "vec_id", "embedding", "label", n_batches=n_b, tag=tag)
        t0 = time.time()
        simsearch.stream_ivf_upkeep(
            emb, "vec_id", "embedding", "label", out_dir, n_batches=n_b,
            tag=tag, staged_dir=staged)
    elif kind == "wide":
        staged = serving.stage_wide_input(spark, sf_dir, n_batches=n_b, tag=tag)
        t0 = time.time()
        serving.stream_wide_product_upkeep(
            spark, sf_dir, out_dir, n_batches=n_b, tag=tag, staged_dir=staged)
    elif kind == "scd2":
        from flinkrealtimedatawarehouse_spark.streaming import sinks as ssinks

        ch = _scd2_changes(spark, sf_dir)
        staged = ssinks.stage_scd2_input(ch, "ver", n_batches=n_b, tag=tag)
        t0 = time.time()
        ssinks.stream_scd2_upkeep(ch, "pk", "ver", out_dir, n_batches=n_b,
                                  tag=tag, staged_dir=staged)
    else:
        raise SystemExit(f"unknown build kind {kind!r}")
    print(json.dumps({"build_wall": round(time.time() - t0, 3)}))
    return 0


def _serving_measure(spark, sf_dir: str, hibatch: bool = False) -> dict:
    import subprocess

    from pyspark.sql import functions as F

    from flinkrealtimedatawarehouse_spark import serving
    from flinkrealtimedatawarehouse_spark.datapipeline import similarity, textstats
    from flinkrealtimedatawarehouse_spark.streaming import searchindex, simsearch
    from flinkrealtimedatawarehouse_spark.streaming import sinks as ssinks
    from flinkrealtimedatawarehouse_spark.streaming.runner import scratch_dir
    from flinkrealtimedatawarehouse_spark.tables import load_table

    load_start = _load_stamp()
    calib = _calibration_stamp()
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    # isolated builds (default ON, r11 VERDICT #4): each *_stream_upkeep
    # build runs in a fresh subprocess JVM so its wall can't inherit
    # GC/JIT state from this JVM's preceding work; read paths stay here.
    isolated = os.environ.get("SPARK_GRAFT_ISOLATED_BUILDS", "1") != "0"

    def isolated_build(kind: str, out_dir: str, n_batches: int = 4) -> float:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--build-one",
             kind, sf_dir, out_dir, str(n_batches)],
            stdout=subprocess.PIPE,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            timeout=1800,
        )
        if proc.returncode != 0:  # surface the build error, not a JSON parse
            raise RuntimeError(
                f"--build-one {kind} subprocess exited "
                f"{proc.returncode}; stdout tail: "
                f"{proc.stdout.decode(errors='replace')[-2000:]!r}"
            )
        return float(
            json.loads(proc.stdout.decode().strip().splitlines()[-1])
            ["build_wall"]
        )

    def timed(fn):
        fn()  # warm-up: codegen + worker forks, same rule as the tiers
        best = float("inf")
        for _ in range(n_runs):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        return round(best, 3)

    build: dict[str, float] = {}
    queries: dict[str, float] = {}
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    # --- dp25 postings: streamed upkeep vs batch build ---
    # stage the stream's file-source input OUTSIDE the timed window: the
    # staging parquet write is one-off test plumbing (a real deployment
    # reads a Kafka topic), so including it overstated the streamed
    # write-path cost vs the batch build (round-10 ADVICE)
    spost = scratch_dir("serv_spost")
    if isolated:
        build["postings_stream_upkeep"] = isolated_build("post", spost)
    else:
        staged = searchindex.stage_postings_input(
            docs, "doc_id", "text", tag="servpost")
        t0 = time.time()
        searchindex.stream_postings_upkeep(
            docs, "doc_id", "text", spost, tag="servpost", staged_dir=staged)
        build["postings_stream_upkeep"] = round(time.time() - t0, 3)
    bpost = scratch_dir("serv_bpost")
    t0 = time.time()
    textstats.build_postings(docs, "doc_id", "text", bpost)
    build["postings_batch_build"] = round(time.time() - t0, 3)

    queries["post_stream_single"] = timed(
        lambda: searchindex.streamed_postings_search(
            spark, spost, "doc_id", _SERVING_QUERY, k=10).count())
    queries["post_batch_single"] = timed(
        lambda: textstats.postings_search(
            spark, bpost, "doc_id", _SERVING_QUERY, k=10).count())
    queries["post_stream_many8"] = timed(
        lambda: searchindex.streamed_postings_search_many(
            spark, spost, "doc_id", _SERVING_QUERIES_8, k=10).count())
    queries["post_batch_many8"] = timed(
        lambda: textstats.postings_search_many(
            spark, bpost, "doc_id", _SERVING_QUERIES_8, k=10).count())
    queries["post_stream_asof"] = timed(
        lambda: searchindex.streamed_postings_search(
            spark, spost, "doc_id", _SERVING_QUERY, k=10, as_of_batch=2).count())

    if hibatch:
        # Auto-compaction evidence (round-11 lead task): the same index
        # maintained over 48 micro-batches — the tiered policy folds the
        # tail twice (batches 0-15, 16-31), so reads span 2 chunks + a
        # 16-dir tail instead of 48 batch dirs. The claim under test:
        # read latency stays FLAT vs batch count (compare with the
        # 4-batch post_stream_* entries above), including the as-of path
        # whose horizon (batch 2) now lives inside a folded chunk.
        spost48 = scratch_dir("serv_spost48")
        if isolated:
            build["postings_stream_upkeep_48b"] = isolated_build(
                "post", spost48, n_batches=48)
        else:
            staged48 = searchindex.stage_postings_input(
                docs, "doc_id", "text", n_batches=48, tag="servpost48")
            t0 = time.time()
            searchindex.stream_postings_upkeep(
                docs, "doc_id", "text", spost48, n_batches=48,
                tag="servpost48", staged_dir=staged48)
            build["postings_stream_upkeep_48b"] = round(time.time() - t0, 3)
        queries["post_stream_single_48b"] = timed(
            lambda: searchindex.streamed_postings_search(
                spark, spost48, "doc_id", _SERVING_QUERY, k=10).count())
        queries["post_stream_asof_48b"] = timed(
            lambda: searchindex.streamed_postings_search(
                spark, spost48, "doc_id", _SERVING_QUERY, k=10,
                as_of_batch=2).count())

    # --- K3 SCD2 history: partstore as-of reads at depth (r12 task #4) ---
    # The five partstore-backed sinks' as-of reads were test-pinned but
    # never priced in this tier; this subject reads the SCD2 history —
    # current and at a historical version — over the store's run stack.
    # The hibatch twin at 64 batches is the depth claim: size-tiered
    # folds bound the run count, so read latency stays flat in B.
    sscd2 = scratch_dir("serv_scd2")
    if isolated:
        build["scd2_stream_upkeep"] = isolated_build("scd2", sscd2)
    else:
        ch = _scd2_changes(spark, sf_dir)
        staged = ssinks.stage_scd2_input(ch, "ver", tag="servscd2")
        t0 = time.time()
        ssinks.stream_scd2_upkeep(ch, "pk", "ver", sscd2, tag="servscd2",
                                  staged_dir=staged)
        build["scd2_stream_upkeep"] = round(time.time() - t0, 3)
    scd2_sink = ssinks.Scd2HistorySink(sscd2, "pk", "ver", read_only=True)
    queries["scd2_hist_current"] = timed(
        lambda: scd2_sink.history(spark).count())
    queries["scd2_hist_asof"] = timed(
        lambda: scd2_sink.history(spark, as_of_batch=2).count())

    if hibatch:
        sscd2_64 = scratch_dir("serv_scd2_64")
        if isolated:
            build["scd2_stream_upkeep_64b"] = isolated_build(
                "scd2", sscd2_64, n_batches=64)
        else:
            ch = _scd2_changes(spark, sf_dir)
            staged64 = ssinks.stage_scd2_input(ch, "ver", n_batches=64,
                                               tag="servscd264")
            t0 = time.time()
            ssinks.stream_scd2_upkeep(ch, "pk", "ver", sscd2_64,
                                      n_batches=64, tag="servscd264",
                                      staged_dir=staged64)
            build["scd2_stream_upkeep_64b"] = round(time.time() - t0, 3)
        scd2_64 = ssinks.Scd2HistorySink(sscd2_64, "pk", "ver",
                                         read_only=True)
        queries["scd2_hist_current_64b"] = timed(
            lambda: scd2_64.history(spark).count())
        # the as-of horizon (batch 2) sits UNDER dozens of later folds —
        # the manifest lookup must keep it one read, never a delta replay
        queries["scd2_hist_asof_64b"] = timed(
            lambda: scd2_64.history(spark, as_of_batch=2).count())

    # --- dp7 IVF: streamed upkeep vs batch-built persisted index ---
    probes = emb.filter(F.col("vec_id") < 8)
    sivf_dir = scratch_dir("serv_sivf")
    if isolated:
        build["ivf_stream_upkeep"] = isolated_build("ivf", sivf_dir)
        vsink = simsearch.IvfIndexSink(
            sivf_dir, "vec_id", "embedding", "label", read_only=True)
    else:
        staged = simsearch.stage_ivf_input(
            emb, "vec_id", "embedding", "label", tag="servivf")
        t0 = time.time()
        vsink = simsearch.stream_ivf_upkeep(
            emb, "vec_id", "embedding", "label", sivf_dir, tag="servivf",
            staged_dir=staged)
        build["ivf_stream_upkeep"] = round(time.time() - t0, 3)
    bivf = scratch_dir("serv_bivf")
    t0 = time.time()
    similarity.build_ivf_index(emb, bivf, "vec_id", "embedding", "label")
    build["ivf_batch_build"] = round(time.time() - t0, 3)

    queries["ivf_stream_topk"] = timed(
        lambda: simsearch.streamed_ivf_topk(
            spark, vsink, probes, k=5, n_probe=2).count())
    queries["ivf_batch_topk"] = timed(
        lambda: similarity.ivf_index_topk(
            spark, bivf, probes, "vec_id", "embedding", k=5, n_probe=2).count())
    queries["ivf_stream_asof"] = timed(
        lambda: simsearch.streamed_ivf_topk(
            spark, vsink, probes, k=5, n_probe=2, as_of_batch=2).count())

    if hibatch:
        # IVF twin of the 48-batch postings evidence above
        sivf48 = scratch_dir("serv_sivf48")
        if isolated:
            build["ivf_stream_upkeep_48b"] = isolated_build(
                "ivf", sivf48, n_batches=48)
            vsink48 = simsearch.IvfIndexSink(
                sivf48, "vec_id", "embedding", "label", read_only=True)
        else:
            staged48 = simsearch.stage_ivf_input(
                emb, "vec_id", "embedding", "label", n_batches=48,
                tag="servivf48")
            t0 = time.time()
            vsink48 = simsearch.stream_ivf_upkeep(
                emb, "vec_id", "embedding", "label", sivf48, n_batches=48,
                tag="servivf48", staged_dir=staged48)
            build["ivf_stream_upkeep_48b"] = round(time.time() - t0, 3)
        queries["ivf_stream_topk_48b"] = timed(
            lambda: simsearch.streamed_ivf_topk(
                spark, vsink48, probes, k=5, n_probe=2).count())

    # --- J6 wide gold: live (stream-maintained) vs batch-built views ---
    live_dir = scratch_dir("serv_wlive")
    if isolated:
        build["wide_stream_upkeep"] = isolated_build("wide", live_dir)
        live_sink = ssinks.AdditiveGoldSink(
            live_dir, keys=serving.WIDE_AGG_KEYS,
            measures={"order_amount": ("l_extendedprice", "sum"),
                      "order_ct": ("l_extendedprice", "count")},
            read_only=True,
        )
    else:
        staged = serving.stage_wide_input(spark, sf_dir, tag="servwide")
        t0 = time.time()
        # the upkeep stream has drained by the time we read, so its own
        # sink handle serves the reads — no separate read_only twin needed
        live_sink = serving.stream_wide_product_upkeep(
            spark, sf_dir, live_dir, tag="servwide", staged_dir=staged
        )
        build["wide_stream_upkeep"] = round(time.time() - t0, 3)
    wide_dir = scratch_dir("serv_wbatch")
    t0 = time.time()
    serving.build_wide_product(spark, sf_dir, wide_dir)
    build["wide_batch_build"] = round(time.time() - t0, 3)

    serving.register_wide_live_views(spark, live_sink.current(spark))
    serving.register_wide_serving_views(spark, wide_dir)
    queries["wide_live_brand"] = timed(
        lambda: spark.sql("SELECT * FROM ads_top_brand_wide_live").count())
    queries["wide_batch_brand"] = timed(
        lambda: spark.sql("SELECT * FROM ads_top_brand_wide").count())
    queries["wide_live_gmv"] = timed(
        lambda: spark.sql("SELECT * FROM ads_gmv_day_wide_live").count())
    queries["wide_batch_gmv"] = timed(
        lambda: spark.sql("SELECT * FROM ads_gmv_day_wide").count())

    # point-in-time serving over the wide gold table (round-10 VERDICT
    # #7): read_version(b) is a single complete snapshot dir, so the
    # as-of read should price like the live read plus one marker lookup
    live_sink.read_version(spark, 2).createOrReplaceTempView("product_wide_asof")
    queries["wide_asof_brand"] = timed(
        lambda: spark.sql(
            "SELECT p_brand, round(sum(order_amount), 2) AS order_amount "
            "FROM product_wide_asof GROUP BY p_brand HAVING order_amount > 0 "
            "ORDER BY order_amount DESC, p_brand LIMIT 10").count())
    queries["wide_asof_gmv"] = timed(
        lambda: spark.sql(
            "SELECT dt, round(sum(order_amount), 2) AS gmv "
            "FROM product_wide_asof GROUP BY dt").count())

    for name in sorted(queries):
        print(f"# serving {os.path.basename(sf_dir)} {name}: {queries[name]}s",
              file=sys.stderr)
    return {"queries": queries, "build": build, "isolated": isolated,
            "load": {"start": load_start, "end": _load_stamp()},
            "calib": calib}


def run_sentinel_tier() -> int:
    """The scaling sentinel in ITS OWN fresh JVM (`bench.py
    --sentinel-only`): prints {"sentinel": {"steady": s, "cold": s}}.
    Same methodology as the tiers (cold = first run, steady = min-of-N);
    isolated because a compute-dense job inside the shared headline JVM
    measurably inflates the frozen queries that run after it."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from flinkrealtimedatawarehouse_spark.session import get_spark

    spark = get_spark("bench-sentinel")
    t0 = time.time()
    _q_scale_sentinel(spark, sf_dir).count()
    cold = round(time.time() - t0, 3)
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    best = float("inf")
    for _ in range(n_runs):
        t0 = time.time()
        _q_scale_sentinel(spark, sf_dir).count()
        best = min(best, time.time() - t0)
    print(json.dumps({"sentinel": {"steady": round(best, 3), "cold": cold,
                                   "load": _load_stamp()}}))
    return 0


def run_headline_tier() -> int:
    """The sf0.1 headline tier as its own process entry
    (`bench.py --headline-only`): prints one JSON fragment line
    {"headline": {...}}. Fresh JVM per invocation so cold = one-shot job
    and steady timings can't inherit JIT/page-cache state from other
    tiers (round 8's in-process run drifted +5.4% on untouched code)."""
    print(json.dumps(_collect_headline()))
    return 0


def _collect_headline() -> dict:
    """Run the sf0.1 headline + extras tiers in THIS process and return
    the {"headline": {...}} fragment. Stops the SparkSession on the way
    out so the in-process fallback in main() doesn't hold a live context
    while the sf1 subprocess JVM runs."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from flinkrealtimedatawarehouse_spark.session import get_spark

    load_start = _load_stamp()
    calib = _calibration_stamp()
    spark = get_spark("bench")
    registry = _headline()

    # Warm-up pass, TIMED and reported as the COLD numbers: the first
    # execution of each query in this JVM pays whole-stage codegen
    # compilation for the plans AQE picks at this data size, Python/Arrow
    # worker forks, and parquet footer reads — i.e. what a one-shot job
    # run would see. The later min-of-N is the steady-state a long-lived
    # executor serving a repeated workload sees. BOTH are published
    # (value_cold / value) so round-over-round comparisons never conflate
    # a methodology change with a plan change; a cold/steady ratio > ~3x
    # on a query flags codegen-compile pathology for the plan audit.
    cold: dict[str, float] = {}
    for name, fn in registry.items():
        try:
            t0 = time.time()
            fn(spark, sf_dir).count()
            cold[name] = round(time.time() - t0, 3)
        except Exception as e:  # warm-up must never fail the bench
            print(f"# warmup {name} skipped: {e}", file=sys.stderr)

    # Timed: N runs per query, report the MIN (steady-state). Single-shot
    # timings on this box are dominated by nondeterministic JVM JIT bursts
    # (measured: the same query swings 1 s ↔ 13 s with 19× CPU burn while
    # GC stays <200 ms — C2 recompilation of generated code), so min-of-N
    # is the reproducible statistic for plan quality, same methodology as
    # JMH/hyperfine. Every run executes the full plan; nothing is cached
    # between runs (no .persist anywhere in the bench queries).
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    timings: dict[str, float] = {}
    for name, fn in registry.items():
        best, n = float("inf"), -1
        try:
            for _ in range(n_runs):
                t0 = time.time()
                n = fn(spark, sf_dir).count()
                best = min(best, time.time() - t0)
        except Exception as e:
            # one broken query must not void the other timings — report it
            # on stderr and leave it out of the JSON (a missing key is an
            # explicit signal; Infinity would be invalid JSON)
            print(f"# {name} FAILED: {e}", file=sys.stderr)
            continue
        timings[name] = round(best, 3)
        ratio = cold.get(name, 0.0) / best if best > 0 else 0.0
        flag = "  [cold/steady > 3x]" if ratio > 3 else ""
        print(
            f"# {name}: {n} rows in {timings[name]}s (min of {n_runs}; "
            f"cold {cold.get(name, float('nan'))}s){flag}",
            file=sys.stderr,
        )

    # Extras: timed the same way (min-of-N after one warm-up) but kept OUT
    # of the headline metric and its "queries" dict so `value` stays
    # comparable across rounds (the headline set is frozen).
    from flinkrealtimedatawarehouse_spark.benchqueries import pipeline, tpch, warehouse as wh

    extra_fns = {
        "tpch1_pricing": tpch.q_tpch1,
        "tpch3_topn": tpch.q_tpch3,
        "tpch4_semijoin": tpch.q_tpch4,
        "tpch5_region": tpch.q_tpch5,
        "tpch6_scanagg": tpch.q_tpch6,
        "tpch10_returns": tpch.q_tpch10,
        "tpch14_promo": tpch.q_tpch14,
        "tpch19_brackets": tpch.q_tpch19,
        "tpch18_bigqty": tpch.q_tpch18,
        "tpch13_histogram": tpch.q_tpch13,
        "tpch15_topsupp": tpch.q_tpch15,
        "tpch17_smallqty": tpch.q_tpch17,
        "tpch22_noorders": tpch.q_tpch22,
        "tpch2_mincost": tpch.q_tpch2,
        "tpch11_important": tpch.q_tpch11,
        "tpch12_shipmode": tpch.q_tpch12,
        "tpch16_supplier_cnt": tpch.q_tpch16,
        "tpch20_potential": tpch.q_tpch20,
        "tpch21_waiting": tpch.q_tpch21,
        "a8f_funnel": wh.q_a8f,
        "a8t_retention": wh.q_a8t,
        "dp15s_span_dedup": pipeline.q_span_dedup,
    }
    extras: dict[str, float] = {}
    for name, fn in extra_fns.items():
        try:
            fn(spark, sf_dir).count()  # warm-up
            best = float("inf")
            for _ in range(n_runs):
                t0 = time.time()
                n = fn(spark, sf_dir).count()
                best = min(best, time.time() - t0)
        except Exception as e:
            print(f"# extra {name} FAILED: {e}", file=sys.stderr)
            continue
        extras[name] = round(best, 3)
        print(f"# extra {name}: {n} rows in {extras[name]}s", file=sys.stderr)

    spark.stop()
    return {
        "headline": {
            "value": round(sum(timings.values()), 3),
            "value_cold": round(sum(cold.get(n, 0.0) for n in timings), 3),
            "queries": timings,
            "queries_cold": {n: cold[n] for n in timings if n in cold},
            "extras": extras,
            "cold_incomplete": [n for n in timings if n not in cold],
            "load": {"start": load_start, "end": _load_stamp()},
            "calib": calib,
        }
    }


def _run_tier_subprocess(flag: str, timeout: int,
                         env: dict | None = None) -> dict | None:
    """Run one bench tier in a fresh subprocess and parse its final JSON
    fragment line. Returns None on any failure (caller falls back).
    ``env`` adds/overrides environment variables for the child."""
    import subprocess

    child_env = None
    if env:
        child_env = dict(os.environ)
        child_env.update(env)
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), flag],
            stdout=subprocess.PIPE,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            timeout=timeout,
            env=child_env,
        )
        line = proc.stdout.decode().strip().splitlines()[-1]
        return json.loads(line)
    except Exception as e:
        print(f"# tier {flag} subprocess failed: {e}", file=sys.stderr)
        return None


def main() -> int:
    if "--sf1-only" in sys.argv:
        return run_sf1_tier()
    if "--headline-only" in sys.argv:
        return run_headline_tier()
    if "--serving-only" in sys.argv:
        return run_serving_tier()
    if "--sentinel-only" in sys.argv:
        return run_sentinel_tier()
    if "--build-one" in sys.argv:
        return run_build_one()

    # Orchestrator: no SparkSession here. Tiers run SEQUENTIALLY in fresh
    # subprocesses (two concurrent full-size JVMs would exceed this
    # sandbox's memory).
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    head_frag = _run_tier_subprocess("--headline-only", timeout=3600)
    if head_frag is None:
        # fallback: run in this process (still a fresh JVM — the parent
        # never started one) so a subprocess-plumbing bug can't void the
        # whole bench record; flows through the normal output path below
        # so the tail still ends with the {"metric": ...} summary line
        # the driver parses
        print("# falling back to in-process headline tier", file=sys.stderr)
        head_frag = _collect_headline()
    head = head_frag["headline"]


    # sf1 HEADLINE tier (frozen since round 6): at sf0.1 every headline
    # query is overhead-bound (0.1-0.9 s against ~0.1-0.3 s fixed
    # task-scheduling cost), so a plan regression under ~2x is invisible
    # — sf0.1 above is the smoke tier. These 11 queries re-run at a 10x
    # deterministic amplification (scripts/gen_sf1.py, cached on disk)
    # where plan quality, not overhead, dominates the timing; the set is
    # FROZEN for round-over-round comparability (same rule as the sf0.1
    # headline set) and paired with the DuckDB yardstick recorded by
    # scripts/sf1_yardstick.py in SCALE.md. Disable with
    # SPARK_GRAFT_SF1=0.
    sf1_out: dict = {"value": 0.0, "value_cold": 0.0, "queries": {}, "queries_cold": {}}
    sf1_gen_sec = None
    sf1_fresh_gen = None
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        sf1_frag = _run_tier_subprocess("--sf1-only", timeout=3600)
        if sf1_frag is not None:
            sf1_out = sf1_frag["sf1"]
            sf1_gen_sec = sf1_frag.get("sf1_gen_sec")
            sf1_fresh_gen = sf1_frag.get("sf1_fresh_gen")

    # serving tier (round 10): streamed-index read paths vs batch twins.
    # Its own fresh JVM like the other tiers; disable with
    # SPARK_GRAFT_SERVING=0.
    serving_out: dict = {}
    if os.environ.get("SPARK_GRAFT_SERVING", "1") != "0":
        # two fresh JVMs — the sf1 READ tier must not inherit the sf0.1
        # pass's GC/JIT state (r12 VERDICT #1; same isolation the builds
        # got in r11)
        serving_frag = _run_tier_subprocess(
            "--serving-only", timeout=3600,
            env={"SPARK_GRAFT_SERVING_SCOPE": "sf0"})
        if serving_frag is not None:
            serving_out = serving_frag["serving"]
        if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
            sf1_serv_frag = _run_tier_subprocess(
                "--serving-only", timeout=3600,
                env={"SPARK_GRAFT_SERVING_SCOPE": "sf1"})
            if sf1_serv_frag is not None:
                serving_out.update(sf1_serv_frag["serving"])

    # Scaling sentinel (round 15, VERDICT r14 #2): ADDED to the queries
    # dict (the contract permits additions; the frozen 13 are untouched
    # and measured exactly as before — the sentinel runs in its own JVM
    # because in-tier it contaminated their steady timings, and LAST so
    # its JVM's shutdown tail cannot contaminate the sf1/serving tiers).
    # Its seconds join the published totals, so the round-over-round
    # TOTAL gains one new ~1-1.5 s entry; per-query comparisons are
    # unaffected.
    sent_frag = _run_tier_subprocess("--sentinel-only", timeout=1200)
    if sent_frag is not None:
        sent = sent_frag["sentinel"]
        head["queries"]["scale_sentinel_hash"] = sent["steady"]
        head["queries_cold"]["scale_sentinel_hash"] = sent["cold"]
        head["value"] = round(head["value"] + sent["steady"], 3)
        head["value_cold"] = round(head["value_cold"] + sent["cold"], 3)

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = None
    from flinkrealtimedatawarehouse_spark.session import default_cpus

    out = {
        "metric": "headline_total_wall",
        "value": head["value"],
        "value_cold": head["value_cold"],
        "unit": "sec",
        "queries": head["queries"],
        "queries_cold": head["queries_cold"],
        "extras": head["extras"],
        "sf1": sf1_out,
        "serving": serving_out,
        "sf": sf,
        # the core count the tiers ran at (round 15, VERDICT r14 #2: the
        # driver's low-core comparison needs it in the record itself)
        "cpus": default_cpus(),
        # orchestrator-level ambient fingerprint at record time; each
        # tier fragment carries its own start/end stamps
        "load": _load_stamp(),
        # orchestrator-level (no-JVM, post-tiers) box calibration; each
        # tier fragment also carries its own (round 15, VERDICT r14 #3)
        "calib": _calibration_stamp(),
    }
    if sf1_gen_sec is not None:
        out["sf1_gen_sec"] = sf1_gen_sec
    if sf1_fresh_gen is not None:
        out["sf1_fresh_gen"] = sf1_fresh_gen
    # a query whose warm-up failed contributes nothing to value_cold and
    # its cold/steady flag can never fire — say so in the JSON instead of
    # letting the cold total silently read as an improvement
    if head.get("cold_incomplete"):
        out["cold_incomplete"] = head["cold_incomplete"]
    print(json.dumps(out))

    # Self-contained round record: the driver's tail capture truncates the
    # long line above (round 9's extras/sf1 detail survived only via the
    # tail fragment), so the FULL record also lands in a committed file.
    try:
        repo = os.path.dirname(os.path.abspath(__file__))
        detail_path = os.environ.get(
            "SPARK_GRAFT_BENCH_DETAIL", os.path.join(repo, "BENCH_DETAIL.json")
        )
        with open(detail_path, "w") as f:
            json.dump(out, f, indent=1)
        # ALSO stamp the current round's committed artifact so the detail
        # file the judge reads always matches the driver's BENCH_r<N>.json
        # (round 10 committed a stale mid-round run). Round inference:
        # BENCH_r<N>.json is written by the driver AFTER bench runs, so
        # the current round = max recorded round + 1; every full bench run
        # this round overwrites the same file, leaving the LAST (= the
        # driver's own) run as the artifact. The inference is wrong in
        # exactly one case: a manual re-run AFTER the driver already
        # recorded the current round's BENCH_r<N>.json would infer N+1
        # and pre-seed a stale detail file for the NEXT round — the very
        # class this stamp exists to prevent. SPARK_GRAFT_ROUND pins the
        # round explicitly for such re-runs (the builder's in-round
        # measurement runs set it; the driver's own run relies on the
        # inference, which is correct there by construction).
        import re as _re

        env_round = os.environ.get("SPARK_GRAFT_ROUND")
        if env_round:
            cur = int(env_round)
        else:
            rounds = [
                int(m.group(1))
                for f_ in os.listdir(repo)
                if (m := _re.fullmatch(r"BENCH_r(\d+)\.json", f_))
            ]
            cur = (max(rounds) + 1) if rounds else 1
        with open(os.path.join(repo, f"BENCH_DETAIL_r{cur:02d}.json"), "w") as f:
            json.dump(out, f, indent=1)
    except OSError as e:
        print(f"# bench detail write failed: {e}", file=sys.stderr)

    # FINAL short summary line — the full line above outgrew the driver's
    # tail-capture window in round 8 (BENCH_r08.json parsed:null). The
    # tail must always END with complete parseable JSON, so the last line
    # is a compact record: headline totals + the frozen 13-query dict +
    # sf1 totals, no extras/sf1-per-query detail (those stay on the long
    # line one above for humans and un-truncated captures).
    print(json.dumps({
        "metric": "headline_total_wall",
        "value": head["value"],
        "value_cold": head["value_cold"],
        "unit": "sec",
        "queries": head["queries"],
        "sf": sf,
        "cpus": out["cpus"],
        "calib": out["calib"],
        "sf1_value": sf1_out.get("value"),
        "sf1_value_cold": sf1_out.get("value_cold"),
        "serving_totals": {
            label: round(sum(d.get("queries", {}).values()), 3)
            for label, d in serving_out.items()
        },
        "summary_line": True,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
