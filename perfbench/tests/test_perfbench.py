"""Self-tests for the benchmark (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


# --------------------------------------------------------------------------
# generators are deterministic per seed
# --------------------------------------------------------------------------


def _generate_all(root: str, seed: int) -> None:
    con = gen.connect()
    for k in range(2):
        gen.write_ingest_drop(con, os.path.join(root, f"drop{k}"), seed, k)
    gen.write_upsert_base(con, os.path.join(root, "base"), seed)


def test_generators_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    _generate_all(a, 5)
    _generate_all(b, 5)
    _generate_all(c, 6)
    ta, tb, tc = _tree(a), _tree(b), _tree(c)
    assert ta == tb
    assert ta.keys() == tc.keys()
    assert ta["drop1/erp_orders.csv"] != tc["drop1/erp_orders.csv"]
    assert ta["base/day00.parquet"] != tc["base/day00.parquet"]


def test_statement_log_deterministic():
    assert gen.upsert_statements(3, 4) == gen.upsert_statements(3, 4)
    assert gen.upsert_statements(3, 4) != gen.upsert_statements(4, 4)

    def kinds(seed):
        return [[s["kind"] for s in unit] for unit in gen.upsert_statements(seed, 4)]

    assert kinds(3) == kinds(9)  # fixed mix: the seed picks keys, days and values
    # every unit carries all the maintenance, so a one-unit window runs it
    for unit in kinds(3)[1:]:
        assert {"merge", "delete", "update", "select", "refresh", "optimize", "vacuum"} <= set(unit)
        assert unit.index("refresh") < unit.index("vacuum")  # the view reads the change feed


def test_ingest_drop_has_quarantinable_rows(tmp_path):
    d = gen.write_ingest_drop(gen.connect(), str(tmp_path), 1, 1)
    with open(d["paths"]["web_events"]) as fh:
        lines = fh.read().splitlines()
    assert len(lines) == d["rows"]["web_events"]
    assert 0 < d["corrupt"] == sum(not ln.endswith("}") for ln in lines)


# --------------------------------------------------------------------------
# every output check catches a planted wrong row
# --------------------------------------------------------------------------


def _plant(rows: list[tuple], col: int | None = None) -> list[tuple]:
    """``rows`` with one value of its first row changed (by default in
    the first numeric column)."""
    bad = list(rows)
    r = list(bad[0])
    if col is None:
        col = next(i for i, v in enumerate(r) if isinstance(v, (int, float)))
    r[col] = r[col] + 1
    bad[0] = tuple(r)
    return bad


def test_ingest_check_catches_wrong_row(tmp_path):
    con = gen.connect()
    drops = [gen.write_ingest_drop(con, str(tmp_path / f"d{k}"), 2, k) for k in range(3)]
    want = oracle.ingest_oracle(con, drops)
    assert oracle.check_ingest(con, drops, want) == (0, [])
    failed, msgs = oracle.check_ingest(con, drops, _plant(want, 3))
    assert failed >= 1 and msgs
    failed, _ = oracle.check_ingest(con, drops, want[1:])  # a lost row
    assert failed >= 1


def test_upsert_check_catches_wrong_row(tmp_path):
    con = gen.connect()
    base = gen.write_upsert_base(con, str(tmp_path / "base"), 3)
    log = [s for unit in gen.upsert_statements(3, 3) for s in unit]
    log = [s for s in log if s["kind"] in ("merge", "delete", "update", "select")]
    # the "engine" here is a second replay, so a clean run must pass
    engine = oracle.UpsertReplay(gen.connect(), base)

    def snapshot(name, rows=None):
        path = str(tmp_path / f"{name}.parquet")
        engine.con.execute(f"CREATE OR REPLACE TABLE snap AS SELECT * FROM {engine.table}")
        if rows is not None:  # plant a wrong value in one row
            engine.con.execute(
                f"UPDATE snap SET order_count = order_count + 1 WHERE rowid = {rows}"
            )
        engine.con.execute(f"COPY snap TO '{path}' (FORMAT PARQUET)")
        return path

    executed, version_at = [], None
    for i, st in enumerate(log):
        rec = dict(st, version=i + 1)
        engine.apply(st)
        if st["kind"] == "select":
            rec["result"] = engine.query(st["sql"])
        if i == 10:
            version_at = (rec["version"], snapshot("v"), snapshot("v_bad", 7))
        executed.append(rec)
    final, final_bad = snapshot("final"), snapshot("final_bad", 3)
    good_v = version_at[:2]
    assert oracle.check_upserts(con, base, executed, final, good_v) == (0, [])
    assert oracle.check_upserts(con, base, executed, final_bad, good_v)[0] == 1
    wrong_v = (version_at[0], version_at[2])
    assert oracle.check_upserts(con, base, executed, final, wrong_v)[0] == 1
    sel = next(i for i, s in enumerate(executed) if s["kind"] == "select" and s["result"])
    executed[sel] = dict(executed[sel], result=_plant(executed[sel]["result"], 0))
    assert oracle.check_upserts(con, base, executed, final, good_v)[0] == 1


def test_float_tolerance_is_relative():
    a = [("F", 1201, 173572694.15000013)]
    b = [("F", 1201, 173572694.14999998)]  # same sum, other addition order
    assert oracle.diff_rows(oracle.canon_rows(a), oracle.canon_rows(b))[0] == []
    c = [("F", 1201, 173572695.15)]
    assert oracle.diff_rows(oracle.canon_rows(a), oracle.canon_rows(c))[0]


# --------------------------------------------------------------------------
# spans nest correctly
# --------------------------------------------------------------------------


def test_spans_nest_and_self_times_are_non_negative():
    tr = spans.Tracer()

    def leaf():
        with tr.span("leaf"):
            time.sleep(0.01)

    with tr.op(1, "op", ambient=True):
        with tr.span("outer"):
            time.sleep(0.005)
            with ThreadPoolExecutor(3) as pool:  # spans from pool threads
                list(pool.map(lambda _: leaf(), range(3)))
            with tr.span("inner"):
                leaf()
    leaf()  # outside any op: passes through unrecorded
    assert tr.spans and all(s.op == 1 for s in tr.spans)
    assert spans.check_nesting(tr.spans) == []
    by_parent = {}
    for s in tr.spans:
        by_parent.setdefault(s.parent, []).append(s)
    for s in tr.spans:
        kids = by_parent.get(s.id, [])
        assert spans.covered(s, kids) <= s.end - s.start + 1e-9
    st = tr.self_times()
    assert all(v >= 0 for v in st.values())
    assert st["leaf"] >= 0.04 - 1e-3
    assert 0 < spans.Tracer.span_cost(1000) < 1e-3
    # outer's self time excludes its overlapping pool-thread children
    outer = next(s for s in tr.spans if s.name == "outer")
    assert st["outer"] < outer.end - outer.start


def test_covered_merges_overlaps_and_clips():
    P = spans.Span(1, None, "p", 1, 0.0, 10.0)
    kids = [
        spans.Span(2, 1, "a", 1, 1.0, 4.0),
        spans.Span(3, 1, "b", 1, 3.0, 5.0),
        spans.Span(4, 1, "c", 1, 9.0, 12.0),  # clipped to the parent
    ]
    assert spans.covered(P, kids) == pytest.approx(5.0)
    bad = dataclasses.replace(kids[2], parent=1)
    assert spans.check_nesting([P, bad])


def test_patch_and_unpatch_restore_originals():
    class Target:
        def f(self, x):
            return x + 1

    tr = spans.Tracer()
    orig = Target.__dict__["f"]
    tr.patch(Target, "f", "t.f")
    with tr.op(1, "op"):
        assert Target().f(1) == 2
    assert [s.name for s in tr.spans] == ["t.f", "op"]
    tr.unpatch()
    assert Target.__dict__["f"] is orig


# --------------------------------------------------------------------------
# outside a checkout the benchmark refuses to run
# --------------------------------------------------------------------------


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "table_upserts", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_tail_percentile_needs_ten_samples_beyond_it():
    import probes

    assert probes.percentile_tail([1.0] * 19) == (None, None)
    assert probes.percentile_tail([float(i) for i in range(20)])[1] == 50.0
    assert probes.percentile_tail([float(i) for i in range(100)])[1] == 90.0
    assert probes.percentile_tail([float(i) for i in range(1000)])[1] == 99.0
