"""Per-op Spark engine metrics, read from the JVM status store.

An op runs under its own job group. Afterwards, outside the timed region,
``StageCollector.collect`` reads the group's jobs, the stages those jobs
ran (``AppStatusStore.stageData`` through its full 5-argument Java
signature, since py4j cannot fill Scala default arguments) and task-time
quantiles of the op's longest stage, and returns the ``spark.*`` metrics.
"""

from __future__ import annotations

MB = float(1 << 20)

# Metrics that add up across the ops of a pass.
SUMMED = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "input_rows",
    "job_wall_s",
    "driver_gap_s",
)


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch milliseconds."""
    return float(opt.get().getTime()) if opt.isDefined() else None


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class StageCollector:
    """Reads one op's jobs, stages and task times from the status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._jvm = sc._jvm
        gw = sc._gateway
        self._no_status = self._jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(self._jvm.double, 0)
        self._quantiles = gw.new_array(self._jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self.cores = sc.defaultParallelism
        self._seen_ungrouped = set(self._tracker.getJobIdsForGroup(None))

    def job_ids(self, group: str) -> list[int]:
        """The group's jobs, plus jobs submitted with no group since the
        last call: threads an op starts do not inherit the job group."""
        ungrouped = set(self._tracker.getJobIdsForGroup(None))
        new = ungrouped - self._seen_ungrouped
        self._seen_ungrouped = ungrouped
        return sorted(set(self._tracker.getJobIdsForGroup(group)) | new)

    def collect(self, group: str, wall_s: float) -> dict[str, float]:
        """``spark.*`` metrics of the op run under ``group`` that took
        ``wall_s`` seconds of wall time."""
        m = dict.fromkeys(SUMMED, 0.0)
        job_spans: list[tuple[float, float]] = []
        stage_ids: set[int] = set()
        for jid in self.job_ids(group):
            job = self._store.job(jid)
            m["jobs"] += 1
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is not None and end is not None:
                job_spans.append((start, end))
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        longest = None  # (wall ms, stage id, attempt id)
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                m["stages"] += 1
                m["tasks"] += st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
                m["executor_run_s"] += st.executorRunTime() / 1e3
                m["executor_cpu_s"] += st.executorCpuTime() / 1e9
                m["jvm_gc_s"] += st.jvmGcTime() / 1e3
                m["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                m["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                m["spill_mb"] += st.diskBytesSpilled() / MB
                m["input_rows"] += st.inputRecords()
                first, done = _opt_ms(st.firstTaskLaunchedTime()), _opt_ms(st.completionTime())
                if first is not None and done is not None:
                    if longest is None or done - first > longest[0]:
                        longest = (done - first, sid, st.attemptId())
        m["job_wall_s"] = interval_union(job_spans) / 1e3
        m["driver_gap_s"] = max(0.0, wall_s - m["job_wall_s"])
        m["core_util"] = m["executor_run_s"] / (wall_s * self.cores) if wall_s > 0 else 0.0
        m["task_p50_s"], m["task_max_s"] = self._task_quantiles(longest)
        m["hot_task_ratio"] = (
            m["task_max_s"] / m["task_p50_s"] if m["task_p50_s"] > 0 else 0.0
        )
        return m

    def _task_quantiles(self, longest) -> tuple[float, float]:
        """(median, max) task run time in seconds on the longest stage."""
        if longest is None:
            return 0.0, 0.0
        _, sid, attempt = longest
        dist = self._store.taskSummary(sid, attempt, self._quantiles)
        if not dist.isDefined():
            return 0.0, 0.0
        run = dist.get().executorRunTime()
        return run.apply(0) / 1e3, run.apply(1) / 1e3


def sum_ops(per_op: list[dict[str, float]], wall_s: float, cores: int) -> dict[str, float]:
    """Fold per-op metrics into one pass: counts and times add up,
    ``core_util`` is recomputed over the pass, and the task-skew figures
    are those of the op with the most skewed longest stage."""
    out = {k: sum(m[k] for m in per_op) for k in SUMMED}
    out["core_util"] = out["executor_run_s"] / (wall_s * cores) if wall_s > 0 else 0.0
    worst = max(per_op, key=lambda m: m["hot_task_ratio"], default=None)
    for k in ("task_max_s", "task_p50_s", "hot_task_ratio"):
        out[k] = worst[k] if worst else 0.0
    return out


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set size (``VmHWM``) of the gateway JVM, in MiB."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
