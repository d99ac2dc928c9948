"""Outside-in engine counters: per-operation Spark job groups, stage
metrics from the status store, JVM GC time and process peak RSS.

Every operation runs under its own job group. After it ends, its jobs are
looked up by group and their stages summed from
``statusStore().lastStageAttempt(stage_id)``, which works with the UI off.
Streaming queries run their micro-batch jobs under a job group named after
the query's run id, so callers add those run ids to the operation's groups.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    ("spark.input_bytes", "inputBytes"),
    ("spark.shuffle_read_bytes", "shuffleReadBytes"),
    ("spark.shuffle_write_bytes", "shuffleWriteBytes"),
)


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


class SparkCounters:
    """Reads job and stage data of one SparkContext."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def job_ids(self, groups: list[str]) -> list[int]:
        ids: set[int] = set()
        for g in groups:
            ids.update(self.tracker.getJobIdsForGroup(g) or [])
        return sorted(ids)

    def summarize(self, job_ids: list[int], wall_s: float) -> dict[str, float]:
        """Sum the jobs' stages. ``spark.exec_s`` is the wall time covered by
        at least one job; ``spark.driver_gap_s`` is the rest of ``wall_s``."""
        out = {"spark.jobs": float(len(job_ids)), "spark.stages": 0.0,
               "spark.tasks": 0.0, "spark.executor_run_s": 0.0}
        out.update({name: 0.0 for name, _ in STAGE_FIELDS})
        spans: list[tuple[int, int]] = []
        seen: set[int] = set()
        for jid in job_ids:
            job = self.store.job(jid)
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is not None and end is not None:
                spans.append((start, end))
            for sid in _seq(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never attempted (skipped)
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numCompleteTasks()
                out["spark.executor_run_s"] += st.executorRunTime() / 1000.0
                for name, attr in STAGE_FIELDS:
                    out[name] += float(getattr(st, attr)())
        covered = 0
        cur_s = cur_e = None
        for s, e in sorted(spans):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out["spark.exec_s"] = covered / 1000.0
        out["spark.driver_gap_s"] = max(0.0, wall_s - covered / 1000.0)
        return out


def gc_totals(spark) -> tuple[float, int]:
    """(seconds, collections) summed over the driver JVM's collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    secs, count = 0.0, 0
    for bean in mf.getGarbageCollectorMXBeans():
        secs += max(0, bean.getCollectionTime()) / 1000.0
        count += max(0, bean.getCollectionCount())
    return secs, count


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs,
    since boot (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")
