"""Seeded inputs for the warehouse benchmark (numpy + pyarrow, no Spark).

One call, ``ensure(seed)``, returns the directory of a seed's inputs and
writes them first if they are not cached yet:

- ``tables/<name>.parquet``: every table ``tables.load_table`` knows, in
  the column types it reads (the dashboard registers all of them, and
  the gold upkeep looks up ``orders`` and ``part``).
- ``streams/<family>/slice-NNN.parquet``: one file per micro-batch, with
  strictly increasing mtimes in the recent past so the file source
  replays them in order. The last event slice also carries the
  watermark row (user -1, type ``__wm__``) far past the last event:
  once that batch commits, the watermark passes every window end and
  bounce timer, and the trailing no-data batch flushes them all.

The make-up follows the program's own sf0.1 test tables, profiled in
DuckDB (the figures are in README.md, "Inputs"): every key, event type,
time, price and word is drawn uniformly, line items per order are
Poisson(4) and event values exponential with mean 50. The row counts are
the benchmark's own sizes, and the other tables keep sf0.1's ratio to
the line items.

The same seed always gives byte-identical rows. A cache directory is
published with one rename, so an interrupted generation is never read.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_ROOT = os.path.join(HERE, ".data")
FORMAT = 7  # bump when the generated make-up changes, to miss old caches

# --- sizes ------------------------------------------------------------------
N_USERS = 1_500
N_DAYS = 30
N_EVENTS = 100_000
EVENT_SLICES = 2
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENT_VALUE_MEAN = 50.0
# an out-of-order row sits at most this far behind the newest row of the
# slice before it: below the 30 s watermark delay of the stateful
# operators, so no row is ever late-dropped
OOO_MAX_S = 20
WATERMARK_PAD_S = 2 * 3600  # past bounce gap (300 s) and window (600 s) + delay

# line items: ~50k per micro-batch; the dimensions keep sf0.1's ratios
# (600k line items : 150k orders : 20k parts : 15k customers : 1k suppliers)
GOLD_SLICES = 2
LINES_PER_ORDER = 4
N_ORDERS = 25_000
N_PARTS = N_ORDERS * 20 // 150
N_CUSTOMERS = N_ORDERS * 15 // 150
N_SUPPLIERS = N_ORDERS // 150
N_EMBEDDINGS = N_ORDERS * 2 // 150
ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2_405  # 1995-01-01 .. 2001-08-01

# SCD2 feed: ~8k changes per micro-batch over the customer keys
N_DIM_CHANGES = 16_000
SCD2_SLICES = 2
DELETE_SHARE = 0.1

# documents: ~400 per micro-batch
N_DOCS = 800
POSTINGS_SLICES = 2
DOC_TOKENS = (10, 100)  # uniform, end exclusive
DUP_SHARE = 0.05
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
         "value", "vector", "window"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
N_SOURCES = 20

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]


def seed_dir(seed: int) -> str:
    return os.path.join(DATA_ROOT, f"v{FORMAT}_seed{seed}")


def ensure(seed: int) -> str:
    """The seed's input directory, generated on first use."""
    out = seed_dir(seed)
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        generate(seed, tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, out)
    except OSError:  # another process published it first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _write_slices(tables: list[pa.Table], d: str) -> None:
    """Slice files with strictly increasing mtimes, all in the past."""
    os.makedirs(d, exist_ok=True)
    names = [f"slice-{i:03d}.parquet" for i in range(len(tables))]
    base = time.time() - 3600
    for i, (t, name) in enumerate(zip(tables, names)):
        p = os.path.join(d, name)
        pq.write_table(t, p)
        os.utime(p, (base + i, base + i))


def _equal_slices(table: pa.Table, n: int) -> list[pa.Table]:
    cuts = np.linspace(0, table.num_rows, n + 1).astype(int)
    return [table.slice(a, b - a) for a, b in zip(cuts[:-1], cuts[1:])]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> np.ndarray:
    return np.array(values)[rng.integers(0, len(values), n)]


def generate(seed: int, out: str) -> None:
    rng = np.random.default_rng(seed)
    tdir = os.path.join(out, "tables")
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(len(REGIONS), dtype=np.int32)),
        "r_name": REGIONS,
    }), os.path.join(tdir, "region.parquet"))
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % len(REGIONS)),
    }), os.path.join(tdir, "nation.parquet"))
    _gen_commerce(rng, out)
    _gen_events(rng, out)
    _gen_dim_changes(rng, out)
    _gen_documents(rng, out)


def _gen_commerce(rng, out: str) -> None:
    tdir = os.path.join(out, "tables")
    custkey = np.arange(N_CUSTOMERS, dtype=np.int64)
    _write(pa.table({
        "c_custkey": custkey,
        "c_name": [f"Customer#{k:09d}" for k in custkey],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMERS),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMERS),
    }), os.path.join(tdir, "customer.parquet"))
    suppkey = np.arange(N_SUPPLIERS, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": suppkey,
        "s_name": [f"Supplier#{k:09d}" for k in suppkey],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIERS),
    }), os.path.join(tdir, "supplier.parquet"))
    partkey = np.arange(N_PARTS, dtype=np.int64)
    _write(pa.table({
        "p_partkey": partkey,
        "p_name": np.char.add(np.char.add(_pick(rng, PART_ADJ, N_PARTS), " "),
                              _pick(rng, PART_NOUN, N_PARTS)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, N_PARTS).astype(str)),
        "p_type": _pick(rng, PART_TYPES, N_PARTS),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS).astype(np.int32)),
        "p_retailprice": np.round(900 + (partkey % 1000) / 10, 2),
    }), os.path.join(tdir, "part.parquet"))

    # orders: dates at midnight, independent of the key
    orderkey = np.arange(N_ORDERS, dtype=np.int64)
    days = ORDER_DAY0 + rng.integers(0, ORDER_DAYS, N_ORDERS).astype("timedelta64[D]")
    _write(pa.table({
        "o_orderkey": orderkey,
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000, 500_000, N_ORDERS),
        "o_orderdate": pa.array(days.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], N_ORDERS),
    }), os.path.join(tdir, "orders.parquet"))
    # line items in order-key order, Poisson(4) per order (some orders
    # have none), every other column independent of the order
    l_orderkey = np.repeat(orderkey, rng.poisson(LINES_PER_ORDER, N_ORDERS))
    n_li = len(l_orderkey)
    ship = ORDER_DAY0 + rng.integers(1, ORDER_DAYS + 95, n_li).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, N_PARTS, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    _write(lineitem, os.path.join(tdir, "lineitem.parquet"))
    # the gold stream: the line items cut into equal order-key ranges, as
    # runner.stage_stream_dir cuts on l_orderkey (the projection
    # stream_wide_product_upkeep reads)
    gold = lineitem.select(["l_orderkey", "l_partkey", "l_extendedprice"])
    _write_slices(_equal_slices(gold, GOLD_SLICES), os.path.join(out, "streams", "lineitem"))

    emb = rng.standard_normal((N_EMBEDDINGS, 64)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32)),
    }), os.path.join(tdir, "embeddings.parquet"))


def _gen_events(rng, out: str) -> None:
    """Events spread uniformly over users, types and the 30 days."""
    n = N_EVENTS
    us = np.sort(rng.integers(0, N_DAYS * 86_400 * 1_000_000, n))
    uid = rng.integers(0, N_USERS, n).astype(np.int64)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.exponential(EVENT_VALUE_MEAN, n), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    event_id = np.arange(n, dtype=np.int64)
    ts = EVENTS_T0 + us.astype("timedelta64[us]")

    def table(idx, tz):
        return pa.table({
            "event_id": event_id[idx],
            "ts": pa.array(ts[idx], pa.timestamp("us", tz=tz)),
            "user_id": uid[idx],
            "event_type": EVENT_TYPES[etype[idx]],
            "value": value[idx],
            "props": pa.array(props[idx], pa.string()),
        })

    _write(table(np.arange(n), None), os.path.join(out, "tables", "events.parquet"))

    # time slices of about equal size. Each cut sits where the OOO_MAX_S
    # before it hold the most rows; all of those but the newest move into
    # the next slice, so they arrive after a newer row (out of order) yet
    # within the watermark delay of it (not late)
    ooo_us = OOO_MAX_S * 1_000_000
    slice_of = np.zeros(n, dtype=np.int64)
    for k in range(1, EVENT_SLICES):
        mid = n * k // EVENT_SLICES
        cand = np.arange(mid - n // 20, mid + n // 20)
        dense = cand - np.searchsorted(us, us[cand - 1] - ooo_us, side="right")
        cut = int(cand[np.argmax(dense)])
        slice_of[cut:] = k
        slice_of[(np.arange(n) < cut - 1) & (us > us[cut - 1] - ooo_us)] = k
    slices = [table(rng.permutation(np.flatnonzero(slice_of == k)), "UTC")
              for k in range(EVENT_SLICES)]
    wm = pa.table({
        "event_id": pa.array([-1], pa.int64()),
        "ts": pa.array(ts[-1:] + np.timedelta64(WATERMARK_PAD_S, "s"), pa.timestamp("us", tz="UTC")),
        "user_id": pa.array([-1], pa.int64()),
        "event_type": ["__wm__"],
        "value": pa.array([0.0]),
        "props": pa.array([None], pa.string()),
    })
    slices[-1] = pa.concat_tables([slices[-1], wm])
    _write_slices(slices, os.path.join(out, "streams", "events"))


def _gen_dim_changes(rng, out: str) -> None:
    """SCD2 feed over the customer keys: per key an insert, then updates,
    and for DELETE_SHARE of the keys a closing delete; version = global
    change sequence number."""
    key = rng.integers(0, N_CUSTOMERS, N_DIM_CHANGES).astype(np.int64)
    v = np.arange(1, N_DIM_CHANGES + 1, dtype=np.int64)
    first = np.zeros(N_DIM_CHANGES, dtype=bool)
    _, first_idx = np.unique(key, return_index=True)
    first[first_idx] = True
    last = np.zeros(N_DIM_CHANGES, dtype=bool)
    _, last_rev = np.unique(key[::-1], return_index=True)
    last[N_DIM_CHANGES - 1 - last_rev] = True
    delete = last & ~first & (rng.random(N_DIM_CHANGES) < DELETE_SHARE)
    ctype = np.where(first, "insert", np.where(delete, "delete", "update"))
    name = np.array([f"Customer#{k:09d}-{x}" for k, x in zip(key, v)], dtype=object)
    name[delete] = None
    seg = _pick(rng, SEGMENTS, N_DIM_CHANGES).astype(object)
    seg[delete] = None
    changes = pa.table({
        "id": key,
        "name": pa.array(name, pa.string()),
        "segment": pa.array(seg, pa.string()),
        "v": v,
        "type": ctype,
    })
    _write_slices(_equal_slices(changes, SCD2_SLICES), os.path.join(out, "streams", "dimchanges"))


def _gen_documents(rng, out: str) -> None:
    """Lower-case documents of uniform length over a uniform 30-word
    vocabulary, single-spaced; DUP_SHARE of them repeat an earlier
    document with " dup" appended (sf0.1's near duplicates)."""
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(*DOC_TOKENS))])
             for _ in range(N_DOCS)]
    for i in np.flatnonzero(rng.random(N_DOCS) < DUP_SHARE):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    doc_id = np.arange(N_DOCS, dtype=np.int64)
    docs = pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": np.char.add("src", (doc_id % N_SOURCES).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    _write(docs, os.path.join(out, "tables", "documents.parquet"))
    _write_slices(_equal_slices(docs.select(["doc_id", "text"]), POSTINGS_SLICES),
                  os.path.join(out, "streams", "documents"))
