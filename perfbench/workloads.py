"""The workloads. Each calls only the package's public API
(``LakehousePipeline``, ``LakehouseSession.sql``, ``VersionedTable`` and
``plans.matview``) and is measured from outside.

A workload has ``setup()`` (counted in ``setup_s``), ``run(deadline)``
(the timed window), ``check()`` (untimed DuckDB comparison) and
``report()`` (its own end-to-end extras and per-layer counters).
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import duckdb

import gen
import oracle
import probes


@dataclass
class Op:
    id: int
    kind: str
    start: float = 0.0
    end: float = 0.0
    traced: bool = False
    ok: bool = True
    error: str = ""
    cost: dict = field(default_factory=dict)

    @property
    def latency(self) -> float:
        return self.end - self.start


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object | None = None  # spans.Tracer in traced runs
    jobs: probes.JobCounter | None = None

    @property
    def tracing(self) -> bool:
        return self.tracer is not None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()


def run_op(ctx: Ctx, op: Op, fn, *, ambient=False) -> Op:
    """Run one op: time it, catch its failure, and in traced runs give
    it a job group and count the Spark work it caused."""
    sc = ctx.spark.sparkContext
    group = f"pb-{threading.get_ident()}-{op.id}"
    # the no-group bucket holds the jobs of the package's pool threads
    before = ctx.jobs.job_ids([None, group]) if ctx.jobs else None
    if ctx.jobs:
        sc.setJobGroup(group, op.kind)
    op.traced = ctx.tracing
    scope = ctx.tracer.op(op.id, op.kind, ambient) if ctx.tracer else nullcontext()
    op.start = time.perf_counter()
    try:
        with scope:
            fn()
    except Exception as exc:  # an op failure is counted, never fatal
        op.ok, op.error = False, f"{type(exc).__name__}: {exc}"[:400]
    op.end = time.perf_counter()
    if ctx.jobs:
        op.cost = ctx.jobs.cost(ctx.jobs.job_ids([None, group]) - before)
        sc.setLocalProperty("spark.jobGroup.id", None)
    return op


def closed_loop(ctx: Ctx, specs, do, deadline: float, after=None, ambient=False) -> list[Op]:
    """Issue the next op as soon as the previous one completes until the
    deadline passes; the op in flight at the deadline runs to the end.
    ``after(op)`` runs untimed between ops."""
    ops = []
    for i, spec in enumerate(specs):
        if time.perf_counter() >= deadline:
            break
        ops.append(run_op(ctx, Op(i, spec["kind"]), lambda s=spec: do(s), ambient=ambient))
        if after:
            after(ops[-1])
    return ops


class TableWatch:
    """Outside-in write-side counters for a set of table roots, sampled
    untimed after each op of the window: the data files that appear
    (bytes written), the live files of the heads, the growth of the
    logs and the commits made in the window. Commits are collected at
    every sample because VACUUM drops old versions from the history."""

    def __init__(self, roots: list[str]) -> None:
        self.roots = roots
        self.seen: dict[str, int] = {}
        self.commits: dict[tuple[str, int], dict] = {}  # (root, version) -> meta
        self.written, self.live = 0, []
        self.sample()
        self.written, self.live = 0, []
        self.before = set(self.commits)
        self.log0 = self.log_bytes()

    def log_bytes(self) -> int:
        return sum(probes.tree_bytes(os.path.join(r, "_log"))[0] for r in self.roots)

    def heads(self) -> list[list[dict]]:
        from aws_lakehouse_project_spark.plans.versioned import VersionedTable

        return [VersionedTable(r).history() for r in self.roots]

    def sample(self, _op=None) -> None:
        for root in self.roots:
            data = os.path.join(root, "data")
            for rel, size in probes.file_set(data).items():
                key = os.path.join(data, rel)
                if key not in self.seen:
                    self.seen[key] = size
                    self.written += size
        heads = self.heads()
        for root, hist in zip(self.roots, heads):
            for h in hist:
                self.commits.setdefault((root, h["version"]), h["meta"])
        self.live.append(sum(h[-1]["n_files"] for h in heads if h))

    def layer(self, user_bytes: float, n_ops: int) -> dict:
        """Per-op write-side metrics of the window."""
        win = [m for k, m in self.commits.items() if k not in self.before]
        touched = [m["touched_files"] for m in win if "touched_files" in m]
        n = max(1, n_ops)
        return {
            "versioned.commits_per_op": len(win) / n,
            "versioned.touched_files_per_commit": sum(touched) / len(touched) if touched else 0.0,
            "versioned.bytes_written_per_user_byte": self.written / user_bytes if user_bytes else 0.0,
            "versioned.log_bytes_per_op": (self.log_bytes() - self.log0) / n,
            "versioned.files_live": probes.mean(self.live),
        }


class Workload:
    name = ""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.con = gen.connect()
        self.ops: list[Op] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, *parts)

    def elapsed(self) -> float:
        """Timed wall clock: first op issued to last op completed."""
        if not self.ops:
            return 0.0
        return max(o.end for o in self.ops) - min(o.start for o in self.ops)

    def measured(self) -> list[Op]:
        """The ops whose latency is the workload's op latency."""
        return self.ops

    def latencies(self) -> list[float]:
        return [o.latency for o in self.measured() if o.ok]


# --------------------------------------------------------------------------
# ingest_publish
# --------------------------------------------------------------------------


class IngestPublish(Workload):
    """One op = one four-domain raw drop through
    ``LakehousePipeline(versioned_publish=True).run_all()``."""

    name = "ingest_publish"

    # the first drop creates every table and warms the JIT; from the third
    # drop on, drop times are flat
    WARMUP = 2

    def setup(self) -> None:
        # a warm drop takes >= ~4 s at nproc = 4; more are made on demand
        self.drops = []
        for k in range(self.WARMUP + 1 + int(self.ctx.seconds / 4)):
            self.add_drop(k)
        self.curated = self.path("curated")
        for k in range(self.WARMUP):
            self.publish_drop(k)

    def add_drop(self, k: int) -> dict:
        self.drops.append(
            gen.write_ingest_drop(self.con, self.path("raw", f"drop{k:03d}"), self.ctx.seed, k)
        )
        return self.drops[-1]

    def publish_drop(self, k: int) -> None:
        from aws_lakehouse_project_spark.pipeline import LakehousePipeline, PipelineConfig

        cfg = PipelineConfig(
            raw_paths=self.drops[k]["paths"], curated_dir=self.curated, versioned_publish=True
        )
        LakehousePipeline(self.spark, cfg).run_all()

    def table_roots(self) -> list[str]:
        return [os.path.join(self.curated, d) for d in self.drops[0]["paths"]] + [
            os.path.join(self.curated, "fct_daily_store_metrics")
        ]

    def run(self, deadline: float) -> list[Op]:
        self.watch = TableWatch(self.table_roots()) if self.ctx.tracing else None

        def specs():
            k = self.WARMUP
            while True:
                if k == len(self.drops):  # outside the op's timing
                    self.add_drop(k)
                yield {"kind": "drop", "k": k}
                k += 1

        def do(spec):
            self.publish_drop(spec["k"])

        after = self.watch.sample if self.watch else None
        return closed_loop(self.ctx, specs(), do, deadline, after=after, ambient=True)

    def check(self) -> tuple[int, list[str]]:
        from aws_lakehouse_project_spark.plans.versioned import VersionedTable

        n = self.WARMUP + len(self.ops)
        fact = VersionedTable(os.path.join(self.curated, "fct_daily_store_metrics"))
        rows = fact.read(self.spark).select(*oracle.FACT_COLS).collect()
        return oracle.check_ingest(duckdb.connect(), self.drops[:n], rows)

    def drop_rows(self, k: int) -> int:
        return sum(self.drops[k]["rows"].values()) - self.drops[k]["corrupt"]

    def report(self) -> tuple[dict, dict]:
        from aws_lakehouse_project_spark.plans.lakehouse_sql import LakehouseSession

        done = [o for o in self.ops if o.ok]
        rows = sum(self.drop_rows(self.WARMUP + o.id) for o in done)
        ls = LakehouseSession(self.spark)
        names = []
        for root in self.table_roots():
            names.append(os.path.basename(root))
            ls.create(names[-1], root)
        extra = {
            "rows_per_s": rows / self.elapsed() if self.elapsed() else 0.0,
            "storage_amp": probes.storage_amp(ls, names),
        }
        layer = {}
        if self.ctx.tracing:
            raw_bytes = sum(
                os.path.getsize(p) for o in self.ops for p in self.drops[self.WARMUP + o.id]["paths"].values()
            )
            layer = self.watch.layer(raw_bytes, len(self.ops))
        return extra, layer


# --------------------------------------------------------------------------
# table_upserts
# --------------------------------------------------------------------------


class TableUpserts(Workload):
    """One op = one write statement of the seeded log (MERGE, DELETE,
    UPDATE), sent as SQL text through ``LakehouseSession.sql`` (MERGE
    sources are ``VALUES`` temp views). The reads and maintenance of the
    log run between the writes, on the same closed loop."""

    name = "table_upserts"
    DML = {"merge", "delete", "update"}

    def setup(self) -> None:
        from aws_lakehouse_project_spark.plans.lakehouse_sql import LakehouseSession

        self.base = gen.write_upsert_base(self.con, self.path("base"), self.ctx.seed)
        # a unit takes ~30 s at nproc = 4; enough for an engine several times faster
        self.log = gen.upsert_statements(self.ctx.seed, 2 + int(self.ctx.seconds / 5))
        self.ls = LakehouseSession(self.spark)
        self.vt = self.ls.create("daily", self.path("daily"), stats_cols=["dt"], change_feed=True)
        self.vt.write_full(self.spark.read.parquet(*self.base))
        self.ls.create("daily_mv", self.path("daily_mv"))
        self.ls.sql(
            "CREATE MATERIALIZED VIEW daily_mv AS SELECT dt, SUM(revenue) AS revenue, "
            "COUNT(*) AS n FROM daily GROUP BY dt"
        )
        self.executed: list[dict] = []
        self.read_lat: list[float] = []
        self.files_ratio: list[float] = []
        self.folded = 0
        for st in self.log[0]:  # the warm-up writes and their reads
            self.execute(st)

    def execute(self, st: dict) -> None:
        rec = dict(st)
        self.executed.append(rec)
        kind = st["kind"]
        try:
            if kind == "select":
                with self.ctx.span("query.plan"):
                    with self.ctx.span("lakehouse_sql.select"):
                        df = self.ls.sql(st["sql"])
                    df._jdf.queryExecution().executedPlan()  # noqa: SLF001
                with self.ctx.span("query.exec"):
                    rec["result"] = df.collect()
                return
            with self.ctx.span(f"lakehouse_sql.{kind}"):
                if kind == "merge":
                    self.spark.sql(st["source_sql"])
                df = self.ls.sql(st["sql"])
            row = df.first().asDict()
            if kind != "refresh":  # REFRESH reports the view's version
                rec["version"] = row.get("version")
        except Exception as exc:
            rec["error"] = str(exc)[:400]
            raise

    def run(self, deadline: float) -> list[Op]:
        """Whole units only: a unit (nine writes with their reads and
        maintenance) starts while the deadline has not passed and runs
        to its end."""
        self.watch = TableWatch([self.path("daily"), self.path("daily_mv")]) if self.ctx.tracing else None
        ops = []
        for unit in self.log[1:]:
            if time.perf_counter() >= deadline:
                break
            for st in unit:
                ops.append(self.step(len(ops), st))
        return ops

    def step(self, i: int, st: dict) -> Op:
        wm = None
        if self.ctx.tracing and st["kind"] == "refresh":
            from aws_lakehouse_project_spark.plans.matview import definition

            wm = definition(self.ls.table("daily_mv"))["base_version"]
        op = run_op(self.ctx, Op(i, st["kind"]), lambda: self.execute(st))
        if op.ok and st["kind"] == "select":
            self.read_lat.append(op.latency)
        if self.watch:  # untimed, between ops
            self.watch.sample()
            if op.ok and st["kind"] == "select":
                self.files_ratio.append(self.read_files_ratio(st["sql"]))
            if op.ok and wm is not None:
                head = self.vt.latest_version()
                if head > wm:
                    self.folded += self.vt.changes(self.spark, wm, head).count()
        return op

    def measured(self) -> list[Op]:
        """The op here is a write (MERGE, DELETE, UPDATE). SELECTs are
        ``read_p50_s``; REFRESH, OPTIMIZE and VACUUM are maintenance on a
        fixed cadence between them."""
        return [o for o in self.ops if o.kind in self.DML]

    def read_files_ratio(self, sql: str) -> float:
        live = self.vt.history()[-1]["n_files"]
        return len(self.ls.sql(sql).inputFiles()) / live if live else 0.0

    def snapshot(self, name: str, version: int | None = None) -> str:
        """The table (at ``version``) written out as parquet for the check."""
        path = self.path("check", name)
        at = "" if version is None else f" VERSION AS OF {version}"
        self.ls.sql(f"SELECT {gen.UPSERT_COLS} FROM daily{at}").write.parquet(path)
        return os.path.join(path, "*.parquet")

    def check(self) -> tuple[int, list[str]]:
        final = self.snapshot("final")
        retained = set(self.vt.versions())
        cand = [s["version"] for s in self.executed if s.get("version") in retained]
        version = (cand[0], self.snapshot("version", cand[0])) if cand else None
        return oracle.check_upserts(duckdb.connect(), self.base, self.executed, final, version)

    def report(self) -> tuple[dict, dict]:
        extra = {
            "read_p50_s": probes.median(self.read_lat),
            "storage_amp": probes.storage_amp(self.ls, ["daily", "daily_mv"]),
        }
        layer = {}
        if self.ctx.tracing:
            live = self.vt.history()[-1]
            row_bytes = probes.table_detail(self.ls, "daily")["size_bytes"] / max(1, live["n_rows"])
            window = self.executed[len(self.log[0]) :]
            user_rows = sum(len(s["rows"]) for s in window if s["kind"] == "merge")
            layer = self.watch.layer(user_rows * row_bytes, len(self.measured()))
            layer["versioned.files_read_ratio"] = probes.mean(self.files_ratio)
            layer["matview.change_rows_folded"] = self.folded
        return extra, layer


WORKLOADS = {w.name: w for w in (IngestPublish, TableUpserts)}
