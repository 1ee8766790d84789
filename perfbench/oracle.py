"""Untimed DuckDB output checks, one per workload.

Every check returns the mismatches it found; the caller counts each as a
failed op. Rows are compared as multisets after canonicalisation
(decimals normalised, dates and timestamps as ISO text); floats match
within a relative ``REL_TOL``.
"""

from __future__ import annotations

import collections
import datetime as dt
import decimal
import math

import gen

REL_TOL = 1e-10


def _canon(v):
    if isinstance(v, decimal.Decimal):
        return str(v.normalize()) if v != 0 else "0"
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return v


def canon_rows(rows) -> list[tuple]:
    return [tuple(_canon(v) for v in r) for r in rows]


def _by_exact_part(rows) -> dict:
    """Rows grouped by their non-float values; each group holds the
    sorted float parts."""
    groups = collections.defaultdict(list)
    for r in rows:
        groups[tuple(v for v in r if not isinstance(v, float))].append(
            tuple(v for v in r if isinstance(v, float))
        )
    return {k: sorted(v) for k, v in groups.items()}


def _close(a: tuple, b: tuple) -> bool:
    return len(a) == len(b) and all(
        math.isclose(x, y, rel_tol=REL_TOL, abs_tol=1e-9) for x, y in zip(a, b)
    )


def diff_rows(got, want) -> tuple[list[str], set]:
    """Multiset difference of two canonical row lists: (messages, the
    non-float parts of the rows that differ). Floats match within
    ``REL_TOL``: Spark and DuckDB add doubles in different orders."""
    g, w = _by_exact_part(got), _by_exact_part(want)
    msgs, bad = [], set()
    n = 0
    for key in sorted(set(g) | set(w), key=repr):
        a, b = g.get(key, []), w.get(key, [])
        k = abs(len(a) - len(b)) + sum(not _close(x, y) for x, y in zip(a, b))
        if k:
            n += k
            bad.add(key)
            if len(msgs) < 3:
                msgs.append(f"rows {key}: floats {a[:2]} != expected {b[:2]}")
    if n > len(msgs):
        msgs.append(f"... {n} differing rows in total")
    return msgs, bad


# --------------------------------------------------------------------------
# ingest_publish
# --------------------------------------------------------------------------

FACT_COLS = ["store_id", "dt", "revenue", "order_count", "converted_leads", "sessions"]


def ingest_oracle(con, drops: list[dict]) -> list[tuple]:
    """The fact after every drop was published: each (store_id, dt) key
    holds the metrics of the LAST drop that carried it (each run merges
    its own recomputed groups on the key, the dbt incremental contract)."""

    def union(domain: str, reader: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {i} AS drop_no, * FROM {reader.format(path=d['paths'][domain])}"
            for i, d in enumerate(drops)
        )

    csv = "read_csv('{path}', header = true, all_varchar = true)"
    lines = (
        "(SELECT unnest(string_split(content, chr(10))) AS line FROM read_text('{path}'))"
    )
    return con.execute(
        f"""
        WITH o AS (
          SELECT drop_no, store_id, CAST(dt AS DATE) AS dt,
                 SUM(CAST(order_value AS DECIMAL(12,2))) AS revenue, COUNT(*) AS order_count
          FROM ({union('erp_orders', csv)}) GROUP BY ALL),
        l AS (
          SELECT drop_no, store_id, CAST(dt AS DATE) AS dt,
                 COUNT(*) FILTER (WHERE status = 'converted') AS converted_leads
          FROM ({union('crm_leads', csv)}) GROUP BY ALL),
        w AS (
          SELECT drop_no, json_extract_string(line, '$.store_id') AS store_id,
                 CAST(json_extract_string(line, '$.dt') AS DATE) AS dt, COUNT(*) AS sessions
          FROM ({union('web_events', lines)})
          WHERE line <> '' AND json_valid(line) GROUP BY ALL),
        f AS (
          SELECT drop_no, store_id, dt,
                 COALESCE(revenue, 0) AS revenue, COALESCE(order_count, 0) AS order_count,
                 COALESCE(converted_leads, 0) AS converted_leads,
                 COALESCE(sessions, 0) AS sessions
          FROM o FULL JOIN l USING (drop_no, store_id, dt)
                 FULL JOIN w USING (drop_no, store_id, dt))
        SELECT {', '.join(FACT_COLS)} FROM f
        QUALIFY row_number() OVER (PARTITION BY store_id, dt ORDER BY drop_no DESC) = 1
        """
    ).fetchall()


def check_ingest(con, drops: list[dict], fact_rows) -> tuple[int, list[str]]:
    """(failed ops, messages): a drop fails if any fact row for its day
    differs from the oracle."""
    msgs, bad = diff_rows(canon_rows(fact_rows), canon_rows(ingest_oracle(con, drops)))
    if not msgs:
        return 0, []
    bad_days = {key[1] for key in bad}
    failed = sum(1 for i in range(len(drops)) if gen.drop_date(i).isoformat() in bad_days)
    return max(failed, 1), msgs


# --------------------------------------------------------------------------
# table_upserts
# --------------------------------------------------------------------------


class UpsertReplay:
    """DuckDB replay of the executed statement log over the same base files."""

    table = "daily"  # the statement log's table name

    def __init__(self, con, base_paths: list[str]) -> None:
        self.con = con
        files = ", ".join(f"'{p}'" for p in base_paths)
        con.execute(f"CREATE OR REPLACE TABLE {self.table} AS SELECT * FROM read_parquet([{files}])")

    def apply(self, st: dict) -> None:
        t = self.table
        if st["kind"] == "merge":
            vals = ", ".join(
                f"({c}, DATE '{d}', CAST({v} AS DECIMAL(12,2)), {o})" for c, d, v, o in st["rows"]
            )
            self.con.execute(
                f"DELETE FROM {t} WHERE (cust_id, dt) IN "
                f"(SELECT (c, d) FROM (VALUES {vals}) s(c, d, v, o))"
            )
            self.con.execute(f"INSERT INTO {t} VALUES {vals}")
        elif st["kind"] in ("delete", "update"):
            self.con.execute(st["sql"])

    def query(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def snapshot(self) -> list[tuple]:
        return self.query(f"SELECT {gen.UPSERT_COLS} FROM {self.table}")


def snapshot_diff(con, got_parquet: str, want_table: str) -> int:
    """Rows in one snapshot but not the other, counted as multisets.
    The upsert table holds no floats, so the comparison is exact."""
    got = f"read_parquet('{got_parquet}')"
    return con.execute(
        f"""SELECT (SELECT count(*) FROM (SELECT {gen.UPSERT_COLS} FROM {got}
                    EXCEPT ALL SELECT {gen.UPSERT_COLS} FROM {want_table}))
                 + (SELECT count(*) FROM (SELECT {gen.UPSERT_COLS} FROM {want_table}
                    EXCEPT ALL SELECT {gen.UPSERT_COLS} FROM {got}))"""
    ).fetchone()[0]


def check_upserts(con, base_paths: list[str], executed: list[dict], final: str, version) -> tuple[int, list[str]]:
    """Replays ``executed`` (the statement log entries that ran, each with
    its recorded ``result`` rows for SELECTs and ``version`` for writes)
    and compares every SELECT's result, the final snapshot and the
    ``version = (version, snapshot)`` time-travel snapshot; snapshots are
    parquet files the engine wrote."""
    replay = UpsertReplay(con, base_paths)
    failed, msgs = 0, []
    for st in executed:
        if st.get("error"):
            continue
        replay.apply(st)
        if st["kind"] == "select":
            m, _ = diff_rows(canon_rows(st["result"]), canon_rows(replay.query(st["sql"])))
            if m:
                failed += 1
                msgs.append(f"select {st['sql']!r}: {m[0]}")
        if version is not None and st.get("version") == version[0]:
            con.execute(f"CREATE OR REPLACE TABLE at_version AS SELECT * FROM {replay.table}")
    n = snapshot_diff(con, final, replay.table)
    if n:
        failed += 1
        msgs.append(f"final snapshot: {n} rows differ")
    if version is not None:
        n = snapshot_diff(con, version[1], "at_version")
        if n:
            failed += 1
            msgs.append(f"VERSION AS OF {version[0]}: {n} rows differ")
    return failed, msgs
