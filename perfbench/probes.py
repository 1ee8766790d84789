"""Outside-in counters: host steal, process memory, Spark's status
tracker and the table directories. Nothing here edits the package; every
number is read from ``/proc``, the Spark status tracker, public table
methods or the file system."""

from __future__ import annotations

import os
import statistics


def proc_stat_cpu() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    """Pid of the JVM that pyspark launched for this process."""
    return spark.sparkContext._gateway.proc.pid  # noqa: SLF001


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python process plus its JVM."""
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid(spark))) / 1024.0


def stamp(spark, seed: int, workload: str) -> dict:
    """What a later A/B comparison needs to know about this run's host."""
    import pyspark

    sc = spark.sparkContext
    return {
        "workload": workload,
        "seed": seed,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),  # noqa: SLF001
    }


class JobCounter:
    """Spark jobs, stages and tasks per op from the status tracker (works
    with the UI disabled). An op's jobs are the job ids that appeared in
    the watched job groups between two snapshots; ``None`` is the
    no-group bucket, where pool threads that never set a group land."""

    def __init__(self, spark) -> None:
        self.tracker = spark.sparkContext.statusTracker()

    def job_ids(self, groups) -> set[int]:
        out: set[int] = set()
        for g in groups:
            out.update(self.tracker.getJobIdsForGroup(g))
        return out

    def cost(self, job_ids) -> dict:
        stages = tasks = failed = 0
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped (reused shuffle) or evicted
                stages += 1
                tasks += st.numCompletedTasks + st.numFailedTasks
                failed += st.numFailedTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def tree_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``root``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except OSError:
                pass
    return size, files


def file_set(root: str) -> dict[str, int]:
    """{relative path: size} of the files under ``root``."""
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except OSError:
                pass
    return out


def table_detail(lsession, name: str) -> dict:
    """``DESCRIBE DETAIL`` of a registered table as a dict."""
    return lsession.sql(f"DESCRIBE DETAIL {name}").first().asDict()


def storage_amp(lsession, names) -> float:
    """Bytes on disk under the table roots / bytes of the live snapshots'
    data files (1.0 = no dead files, logs or sidecars)."""
    on_disk = live = 0
    for n in names:
        d = table_detail(lsession, n)
        on_disk += tree_bytes(d["location"])[0]
        live += d["size_bytes"]
    return on_disk / live if live else 0.0


def percentile_tail(samples: list[float]) -> tuple[float | None, int | None]:
    """The highest of p50/p90/p99/p99.9 that has at least ten samples
    beyond it, as (value, percentile); (None, None) if even p50 does not."""
    per_mille = [pm for pm in (500, 900, 990, 999) if len(samples) * (1000 - pm) >= 10_000]
    if not per_mille:
        return None, None
    pm = per_mille[-1]
    return statistics.quantiles(samples, n=1000, method="inclusive")[pm - 1], pm / 10


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0
