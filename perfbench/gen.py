"""Seeded input generators for every workload.

Bulk data comes out of DuckDB, keyed on ``hash(row, seed, salt)`` rather
than a stateful RNG, so the output does not depend on DuckDB's thread
schedule: the same seed gives byte-identical files. The SQL statement
log comes from ``random.Random(seed)``.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import os
import random

import duckdb

# --------------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------------

BASE_DATE = dt.date(2024, 3, 1)


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # one thread keeps COPY's row order (and so the bytes) fixed
    con.execute("SET threads = 1")
    return con


def _h(seed: int, salt: str, col: str = "i") -> str:
    """SQL for a non-negative pseudo-random integer per row."""
    return f"CAST(hash({col}, {int(seed)}, '{salt}') >> 2 AS BIGINT)"


class Zipf:
    """Zipf(s) sampler over 0..n-1: rank 0 is the hottest key."""

    def __init__(self, n: int, s: float = 1.1) -> None:
        self.cum = list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


# --------------------------------------------------------------------------
# ingest_publish: four-domain raw drops
# --------------------------------------------------------------------------

# A quarter of the paper-scale drop (300k orders and events, 60k leads,
# 15k products). At nproc = 4 a warm drop takes ~6.8 s at this size,
# ~9.5 s at full size and ~5 s at 1/12 of it: the 44 Spark jobs of a drop
# cost ~4.5 s whatever its size, and data-proportional work is about a
# third of a drop here (README, "Sizes").
DROP_SIZES = {"erp_orders": 75_000, "crm_leads": 15_000, "web_events": 75_000, "products": 3_750}
N_STORES = 40
LATE_SHARE_PCT = 5  # rows of drop d (d >= 1) that belong to day d-1
CORRUPT_PER_MILLE = 4  # malformed web_events JSON lines per 1000


def drop_date(drop_no: int) -> dt.date:
    return BASE_DATE + dt.timedelta(days=drop_no)


def write_ingest_drop(con, out_dir: str, seed: int, drop_no: int) -> dict:
    """One raw drop for all four domains under ``out_dir``.

    Returns ``{"paths": {domain: file}, "rows": {domain: n}, "corrupt": n}``.
    ERP orders, CRM leads and products are headered CSV; web events are
    JSON lines, with a few truncated (malformed) lines that the reader
    must quarantine. From the second drop on, a small share of orders,
    leads and events carry the previous day's ``dt`` (late arrivals that
    make the fact MERGE rewrite an existing day)."""
    os.makedirs(out_dir, exist_ok=True)
    d0, d1 = drop_date(drop_no), drop_date(max(drop_no - 1, 0))
    late = LATE_SHARE_PCT if drop_no > 0 else 0
    seed = seed * 1000 + drop_no
    n = DROP_SIZES

    def dt_expr(salt: str) -> str:
        return (
            f"CASE WHEN {_h(seed, salt + 'late')} % 100 < {late} "
            f"THEN '{d1}' ELSE '{d0}' END"
        )

    def store(salt: str) -> str:
        return f"'store_' || ({_h(seed, salt + 'st')} % {N_STORES})"

    paths = {d: os.path.join(out_dir, f"{d}.{'jsonl' if d == 'web_events' else 'csv'}") for d in n}
    con.execute(
        f"""COPY (
          SELECT CAST({drop_no} * 10000000 + i AS VARCHAR) AS order_id,
                 'C' || ({_h(seed, 'cu')} % 20000) AS customer_id,
                 {store('o')} AS store_id,
                 {dt_expr('o')} AS dt,
                 printf('%d.%02d', ({_h(seed, 'v')} % 50000) // 100,
                        {_h(seed, 'v')} % 100) AS order_value,
                 ['completed', 'pending', 'cancelled'][1 + {_h(seed, 's')} % 3]
                   AS status
          FROM range({n['erp_orders']}) t(i) ORDER BY i
        ) TO '{paths['erp_orders']}' (HEADER, DELIMITER ',')"""
    )
    con.execute(
        f"""COPY (
          SELECT 'L' || ({drop_no} * 10000000 + i) AS lead_id,
                 'Lead ' || i AS name,
                 'user' || i || '@example.com' AS email,
                 ['web', 'referral', 'ads'][1 + {_h(seed, 'src')} % 3] AS source,
                 ['new', 'contacted', 'converted'][1 + {_h(seed, 'ls')} % 3]
                   AS status,
                 {store('l')} AS store_id,
                 {dt_expr('l')} AS dt
          FROM range({n['crm_leads']}) t(i) ORDER BY i
        ) TO '{paths['crm_leads']}' (HEADER, DELIMITER ',')"""
    )
    con.execute(
        f"""COPY (
          SELECT 'P' || i AS product_id,
                 'Product ' || i AS name,
                 ['tools', 'garden', 'kitchen', 'toys'][1 + {_h(seed, 'c')} % 4]
                   AS category,
                 printf('%d.%02d', ({_h(seed, 'p')} % 20000) // 100,
                        {_h(seed, 'p')} % 100) AS price,
                 CASE WHEN {_h(seed, 'a')} % 5 = 0 THEN 'false' ELSE 'true' END
                   AS active,
                 {store('p')} AS store_id,
                 '{d0}' AS dt
          FROM range({n['products']}) t(i) ORDER BY i
        ) TO '{paths['products']}' (HEADER, DELIMITER ',')"""
    )
    lines = con.execute(
        f"""SELECT CASE WHEN {_h(seed, 'bad')} % 1000 < {CORRUPT_PER_MILLE}
                   THEN left(js, length(js) // 2) ELSE js END
            FROM (
              SELECT i, format(
                '{{{{"event_id":"E{drop_no}_{{}}","visitor_id":"V{{}}","store_id":"{{}}",'
                || '"dt":"{{}}","page":"/p{{}}","event_type":"{{}}",'
                || '"metadata":{{{{"ref":"{{}}"}}}}}}}}',
                i, {_h(seed, 'vis')} % 5000, {store('e')}, {dt_expr('e')},
                {_h(seed, 'pg')} % 50,
                ['view', 'click', 'purchase'][1 + {_h(seed, 'et')} % 3],
                ['mail', 'search', 'direct'][1 + {_h(seed, 'rf')} % 3]) AS js
              FROM range({n['web_events']}) t(i)
            ) ORDER BY i"""
    ).fetchall()
    corrupt = 0
    with open(paths["web_events"], "w") as fh:
        for (line,) in lines:
            corrupt += not line.endswith("}")
            fh.write(line + "\n")
    return {"paths": paths, "rows": dict(n), "corrupt": corrupt}


# --------------------------------------------------------------------------
# table_upserts: base table + SQL statement stream
# --------------------------------------------------------------------------

UPSERT_CUSTS = 26_800
UPSERT_DAYS = 7  # ~150k base rows, one dt-clustered file per day
UPSERT_COLS = "cust_id, dt, revenue, order_count"
# Statements of one kind do the same amount of work whatever the seed: a
# MERGE carries a fixed number of keys, a DELETE removes one customer
# (present on most days), an UPDATE spans three days.
MERGE_KEYS = 40


def write_upsert_base(con, out_dir: str, seed: int) -> list[str]:
    """Daily-orders-shaped base table as one parquet file per day, in day
    order; returns the file paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for d in range(UPSERT_DAYS):
        paths.append(os.path.join(out_dir, f"day{d:02d}.parquet"))
        con.execute(
            f"""COPY (
              SELECT CAST(c AS BIGINT) AS cust_id,
                     DATE '{BASE_DATE}' + {d} AS dt,
                     CAST(({_h(seed, 'rv', f'c * 100 + {d}')} % 100000) / 100 AS DECIMAL(12,2))
                       AS revenue,
                     CAST(1 + {_h(seed, 'oc', f'c * 100 + {d}')} % 9 AS BIGINT) AS order_count
              FROM range({UPSERT_CUSTS}) a(c)
              WHERE {_h(seed, 'keep', f'c * 100 + {d}')} % 10 < 8
              ORDER BY c
            ) TO '{paths[-1]}' (FORMAT PARQUET)"""
        )
    return paths


# The statement log, in fixed kinds and order so every seed runs the same
# mix; the seed picks keys, days and values. "+mor" is the
# /*+ MERGE_ON_READ */ form. The warm-up writes run during set-up; after
# them a MERGE runs near its steady speed. Each unit then carries nine
# writes: six MERGEs in a row, a copy-on-write DELETE and UPDATE, and one
# merge-on-read write, an UPDATE and a DELETE in turn. A MERGE right after
# OPTIMIZE, REFRESH or a merge-on-read write costs more than one after a
# MERGE, so running the MERGEs back to back makes them alike, and the
# unit's median write is the middle one of them: the copy-on-write
# DELETE and UPDATE fall below them, the merge-on-read write above. The
# unit ends with its maintenance: an OPTIMIZE (which folds the
# merge-on-read delete files back in), a REFRESH MATERIALIZED VIEW and a
# VACUUM that keeps two versions. REFRESH runs before VACUUM: the view's
# incremental refresh reads the base's change feed from its last refresh
# on. VACUUM drops the older versions, so it also writes a manifest
# checkpoint at its horizon.
UPSERT_WARMUP = ["merge", "merge", "merge"]
UPSERT_UNITS = [
    ["merge"] * 6 + ["delete", "update", mor, "optimize", "refresh", "vacuum"]
    for mor in ("update+mor", "delete+mor")
]
MAINTENANCE = {
    "refresh": "REFRESH MATERIALIZED VIEW {mv}",
    "vacuum": "VACUUM {table} RETAIN 2 VERSIONS NO RETENTION CHECK",
    "optimize": "OPTIMIZE {table}",
}


def upsert_statements(seed: int, n_units: int) -> list[list[dict]]:
    """The seeded statement log for ``table_upserts``: the warm-up
    statements, then ``n_units`` maintenance units.

    Each entry is ``{"kind", "sql", ...}``; MERGE entries also carry
    ``source_sql`` (a ``VALUES`` temp-view definition of the Zipf-skewed
    key set) and ``rows``. A point or ``dt``-range ``select`` follows
    every write."""
    table, mv = "daily", "daily_mv"  # the names TableUpserts registers
    rng = random.Random(seed)
    zipf = Zipf(UPSERT_CUSTS)
    days = UPSERT_DAYS + 4  # merges also insert a few days past the base
    writes = 0
    deleted: set[int] = set()

    def live_customer() -> int:
        """A Zipf-drawn customer no earlier DELETE removed, so that every
        DELETE and UPDATE finds rows to rewrite."""
        while True:
            c = zipf.draw(rng)
            if c not in deleted:
                return c

    def write(kind: str) -> list[dict]:
        nonlocal writes
        kind, _, mode = kind.partition("+")
        writes += 1
        hint = "/*+ MERGE_ON_READ */ " if mode == "mor" else ""
        if kind == "merge":
            keys = set()
            while len(keys) < MERGE_KEYS:
                keys.add((zipf.draw(rng), rng.randrange(days)))
            rows = [
                (c, str(BASE_DATE + dt.timedelta(days=d)),
                 f"{rng.randrange(1000)}.{rng.randrange(100):02d}", rng.randint(1, 9))
                for c, d in sorted(keys)
            ]
            vals = ", ".join(f"({c}, DATE '{d}', {v}, {o})" for c, d, v, o in rows)
            st = {
                "kind": "merge",
                "source_sql": (
                    "CREATE OR REPLACE TEMP VIEW upd AS SELECT CAST(c AS BIGINT) AS cust_id, "
                    "d AS dt, CAST(v AS DECIMAL(12,2)) AS revenue, CAST(o AS BIGINT) AS order_count "
                    f"FROM VALUES {vals} AS s(c, d, v, o)"
                ),
                "rows": rows,
                "sql": (
                    f"MERGE INTO {table} USING upd ON {table}.cust_id = upd.cust_id "
                    f"AND {table}.dt = upd.dt WHEN MATCHED THEN UPDATE SET * "
                    "WHEN NOT MATCHED THEN INSERT *"
                ),
            }
        elif kind == "delete":
            c = live_customer()
            deleted.add(c)
            st = {"kind": "delete", "sql": f"DELETE {hint}FROM {table} WHERE cust_id = {c}"}
        else:
            c = live_customer()
            d = BASE_DATE + dt.timedelta(days=rng.randrange(UPSERT_DAYS - 2))
            st = {
                "kind": "update",
                "sql": f"UPDATE {hint}{table} SET revenue = revenue + 1.25, "
                f"order_count = order_count + 1 WHERE cust_id = {c} "
                f"AND dt BETWEEN DATE '{d}' AND DATE '{d + dt.timedelta(days=2)}'",
            }
        if writes % 2:
            c = zipf.draw(rng)
            sel = f"SELECT {UPSERT_COLS} FROM {table} WHERE cust_id = {c}"
        else:
            d = BASE_DATE + dt.timedelta(days=rng.randrange(days))
            sel = (
                f"SELECT dt, COUNT(*) AS n, SUM(revenue) AS revenue FROM {table} "
                f"WHERE dt BETWEEN DATE '{d}' AND DATE '{d + dt.timedelta(days=2)}' GROUP BY dt"
            )
        return [st, {"kind": "select", "sql": sel}]

    def step(kind: str) -> list[dict]:
        if kind in MAINTENANCE:
            return [{"kind": kind, "sql": MAINTENANCE[kind].format(table=table, mv=mv)}]
        return write(kind)

    log = [[st for kind in UPSERT_WARMUP for st in step(kind)]]
    for u in range(n_units):
        log.append([st for kind in UPSERT_UNITS[u % len(UPSERT_UNITS)] for st in step(kind)])
    return log
