"""Independent answers for every output the benchmark checks, computed in
DuckDB over the generated files (never a saved copy of earlier output).

Counts and keys compare exactly. Money sums compare within ``MONEY_TOL``:
Spark's summation order changes with partitioning and slice cuts.
"""

from __future__ import annotations

import math

import duckdb

MONEY_TOL = 0.01 + 1e-9
# a BM25 score is a sum of per-term scores each rounded to 1e-6
SCORE_TOL = 1e-5


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    return con


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


# --- clickstream --------------------------------------------------------------

def _real_events(files: list[str]) -> str:
    return f"(SELECT * FROM read_parquet({_files(files)}) WHERE user_id >= 0)"


def uv(con, files: list[str]) -> set[tuple]:
    """UniqueVisit: distinct (user, UTC day)."""
    return set(con.sql(f"""
        SELECT DISTINCT user_id, strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d')
        FROM {_real_events(files)}""").fetchall())


def visitor(con, files: list[str]) -> dict[tuple, tuple]:
    """10-minute tumbles per event type: (pv_ct, value_sum, uv_ct)."""
    rows = con.sql(f"""
        WITH e AS (SELECT epoch_us(ts) // 600000000 * 600000000 AS w, *
                   FROM {_real_events(files)})
        SELECT strftime(make_timestamp(w), '%Y-%m-%d %H:%M:%S'),
               strftime(make_timestamp(w + 600000000), '%Y-%m-%d %H:%M:%S'),
               event_type, count(*), round(sum(value), 2), count(DISTINCT user_id)
        FROM e GROUP BY ALL""").fetchall()
    return {r[:3]: r[3:] for r in rows}


def bounce(con, files: list[str], gap_s: int) -> dict[int, tuple]:
    """Per entry ('view') event: bounce unless the user's next event, in
    (ts, event_id) order, is a non-entry less than ``gap_s`` later."""
    rows = con.sql(f"""
        WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t,
                          event_type = 'view' AS ie FROM {_real_events(files)}),
        l AS (SELECT *, lead(t) OVER w AS nt, lead(ie) OVER w AS nie FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        SELECT event_id, user_id,
               CASE WHEN nt IS NOT NULL AND nt - t < {gap_s * 1_000_000} AND NOT nie
                    THEN 0 ELSE 1 END
        FROM l WHERE ie""").fetchall()
    return {r[0]: r[1:] for r in rows}


def count_rows(con, files: list[str]) -> int:
    return con.sql(f"SELECT count(*) FROM {_real_events(files)}").fetchone()[0]


# --- durable stores -----------------------------------------------------------

def gold(con, files: list[str], tables: str) -> dict[tuple, tuple]:
    """The wide product table: line items joined to part and order date,
    summed per (day, part, brand)."""
    rows = con.sql(f"""
        SELECT strftime(o.o_orderdate, '%Y%m%d'), l.l_partkey, p.p_brand,
               sum(l.l_extendedprice), count(*)
        FROM read_parquet({_files(files)}) l
        JOIN '{tables}/part.parquet' p ON l.l_partkey = p.p_partkey
        JOIN '{tables}/orders.parquet' o ON l.l_orderkey = o.o_orderkey
        GROUP BY ALL""").fetchall()
    return {r[:3]: r[3:] for r in rows}


def scd2(con, files: list[str]) -> set[tuple]:
    """Type-2 history: one interval per non-delete change, closed by the
    key's next change (a delete closes without opening)."""
    return set(con.sql(f"""
        WITH c AS (SELECT *, lead(v) OVER (PARTITION BY id ORDER BY v) AS nv
                   FROM read_parquet({_files(files)}))
        SELECT id, name, segment, v, v, nv, nv IS NULL
        FROM c WHERE type <> 'delete'""").fetchall())


def postings(con, files: list[str], terms: list[str], k1: float = 1.2,
             b: float = 0.75) -> tuple[dict[int, tuple], int, int]:
    """BM25 over the documents under the index's tokenizer (lower-case,
    split on non-alphanumerics): {doc_id: (matched terms, score)} for the
    query ``terms``, plus the corpus scalars (n_docs, sum of lengths)."""
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE toks AS
        SELECT doc_id, t FROM (
          SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                     s -> length(s) > 0) AS t
          FROM read_parquet({_files(files)})) WHERE len(t) > 0""")
    n_docs, sum_dl = con.sql("SELECT count(*), sum(len(t)) FROM toks").fetchone()
    in_terms = ", ".join(f"'{t}'" for t in terms)
    rows = con.sql(f"""
        WITH tf AS (SELECT doc_id, len(t) AS dl, term, count(*) AS tf
                    FROM (SELECT doc_id, t, unnest(t) AS term FROM toks)
                    WHERE term IN ({in_terms}) GROUP BY ALL),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        SELECT doc_id, count(*),
               sum(ln(1 + ({n_docs} - df + 0.5) / (df + 0.5)) * tf * {k1 + 1}
                   / (tf + {k1} * (1 - {b} + {b} * dl / {sum_dl / n_docs})))
        FROM tf JOIN df USING (term) GROUP BY doc_id""").fetchall()
    return {r[0]: r[1:] for r in rows}, n_docs, int(sum_dl)


# --- serving ------------------------------------------------------------------

# The ADS views, written for DuckDB from their definitions in serving.py.
DUCK_VIEWS = {
    "ads_gmv_day": """
        SELECT strftime(o_orderdate, '%Y%m%d') AS dt, round(sum(o_totalprice), 2) AS gmv
        FROM orders GROUP BY 1""",
    "ads_top_brand": """
        SELECT p_brand, round(sum(l_extendedprice), 2) AS order_amount
        FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand HAVING round(sum(l_extendedprice), 2) > 0
        ORDER BY order_amount DESC, p_brand LIMIT 10""",
    "ads_hourly": """
        WITH vs AS (
          SELECT date_trunc('hour', ts) AS stt,
                 CASE WHEN event_type = 'signup' THEN '1' ELSE '0' END AS is_new,
                 count(DISTINCT user_id) AS uv_ct, count(*) AS pv_ct
          FROM events GROUP BY 1, 2)
        SELECT hour(stt) AS hr, sum(IF(is_new = '1', uv_ct, 0)) AS new_uv,
               sum(uv_ct) AS uv_ct, sum(pv_ct) AS pv_ct
        FROM vs GROUP BY hr ORDER BY hr""",
    "ads_keyword_score": """
        WITH toks AS (
          SELECT source, unnest(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                   s -> length(s) > 0)) AS word
          FROM documents),
        k AS (SELECT word, source, count(*) AS ct FROM toks GROUP BY 1, 2)
        SELECT word AS keyword,
               sum(ct * CASE source WHEN 'src0' THEN 10 WHEN 'src1' THEN 3
                                    WHEN 'src2' THEN 2 WHEN 'src3' THEN 1 ELSE 0 END) AS ct
        FROM k GROUP BY 1 ORDER BY ct DESC, keyword LIMIT 20""",
    "ads_top_part": """
        SELECT p_partkey, round(sum(l_extendedprice), 2) AS order_amount, count(*) AS order_ct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_partkey HAVING round(sum(l_extendedprice), 2) > 0
        ORDER BY order_amount DESC, p_partkey LIMIT 10""",
    "ads_visitor_newflag": """
        SELECT CASE WHEN event_type = 'signup' THEN '1' ELSE '0' END AS is_new,
               count(DISTINCT user_id) AS uv_ct, count(*) AS pv_ct,
               round(sum(value), 2) AS value_sum
        FROM events GROUP BY 1""",
    "ads_province": """
        SELECT strftime(o_orderdate, '%Y%m%d') AS dt, n_name AS province_name,
               round(sum(o_totalprice), 2) AS order_amount
        FROM orders JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2""",
    "ads_rolling_gmv": """
        WITH d AS (
          SELECT CAST(o_orderdate AS DATE) AS dt,
                 date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dayn,
                 round(sum(o_totalprice), 2) AS amount
          FROM orders GROUP BY 1, 2)
        SELECT strftime(dt, '%Y-%m-%d') AS dt, amount,
               round(avg(amount) OVER (ORDER BY dayn
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS ma7,
               round(sum(amount) OVER (ORDER BY dayn ROWS UNBOUNDED PRECEDING), 2) AS cume
        FROM d""",
    "ads_hour_matrix": """
        SELECT hour(ts) AS hr,
               count(*) FILTER (WHERE event_type = 'click') AS click,
               count(*) FILTER (WHERE event_type = 'view') AS "view",
               count(*) FILTER (WHERE event_type = 'purchase') AS purchase
        FROM events GROUP BY 1""",
    "product_wide": """
        SELECT l.l_orderkey, l.l_partkey, p.p_brand, l.l_extendedprice,
               strftime(o.o_orderdate, '%Y%m%d') AS dt
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey""",
    "ads_top_brand_wide": """
        SELECT p_brand, round(sum(l_extendedprice), 2) AS order_amount
        FROM product_wide GROUP BY p_brand HAVING round(sum(l_extendedprice), 2) > 0
        ORDER BY order_amount DESC, p_brand LIMIT 10""",
    "ads_top_part_wide": """
        SELECT l_partkey AS p_partkey, round(sum(l_extendedprice), 2) AS order_amount,
               count(*) AS order_ct
        FROM product_wide GROUP BY l_partkey HAVING round(sum(l_extendedprice), 2) > 0
        ORDER BY order_amount DESC, p_partkey LIMIT 10""",
    "ads_gmv_day_wide": """
        SELECT dt, round(sum(l_extendedprice), 2) AS gmv FROM product_wide GROUP BY dt""",
}


BASE_TABLES = ("orders", "lineitem", "part", "customer", "nation", "events", "documents")


def register_serving(con, tables: str) -> None:
    for name in BASE_TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{tables}/{name}.parquet'")
    # materialised once, so each request's check only filters a small table
    for name, sql in DUCK_VIEWS.items():
        con.execute(f"CREATE OR REPLACE TABLE {name} AS {sql}")


# --- comparison ---------------------------------------------------------------

def same_value(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, abs_tol=MONEY_TOL)
    return a == b


def same_rows(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    """Row lists equal, exactly but for floats; unordered results are
    compared after sorting on their non-float columns."""
    if len(got) != len(want):
        return False
    if not ordered:
        def key(r):
            return tuple("" if isinstance(v, float) else (v is None, str(v)) for v in r)
        got, want = sorted(got, key=key), sorted(want, key=key)
    return all(len(g) == len(w) and all(same_value(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


def same_keyed(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        all(same_value(x, y) for x, y in zip(got[k], want[k])) for k in want)
