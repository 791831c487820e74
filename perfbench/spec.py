"""What the benchmark reports: metric names, units, directions and bounds.

``python3 perfbench/run.py --write-spec`` writes ``BENCHMARK.json`` from
this file, so the two never disagree.
"""

from __future__ import annotations

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 10

# (name, unit, better, bound): bound is the share of the parent's median
# by which the metric may worsen before a change counts as a regression.
# The times are CPU seconds of the process tree (see cputime.py); their
# wall-clock counterparts are the per-layer wall.* metrics.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("cold_pass_cpu_s", "s", "lower", 0.25),
    ("warm_pass_cpu_s", "s", "lower", 0.25),
    ("op_success_rate", "ratio", "higher", 0.01),
)

# Per-op figures reported for every op of every workload (0 where the
# workload does not run the op).
OPS = (
    "skew_join_inner_exact",
    "skew_join_inner_cms",
    "dedup_family_build",
    "dedup_minhash_docs",
    "dedup_family_release",
)

# Layers whose self time the traced run reports (span-name prefixes).
SELF_LAYERS = ("harness", "sources", "queries", "skew_join", "cms", "dedup", "spark")

PER_LAYER = (
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.jvm_gc_s", "s", "lower"),
    ("spark.shuffle_write_mb", "MiB", "lower"),
    ("spark.shuffle_read_mb", "MiB", "lower"),
    ("spark.spill_mb", "MiB", "lower"),
    ("spark.input_rows", "count", "lower"),
    ("spark.job_wall_s", "s", "lower"),
    ("spark.driver_gap_s", "s", "lower"),
    ("spark.core_util", "ratio", "higher"),
    ("spark.task_max_s", "s", "lower"),
    ("spark.task_p50_s", "s", "lower"),
    ("spark.hot_task_ratio", "ratio", "lower"),
    ("jvm.peak_rss_mb", "MiB", "lower"),
    ("setup.first_s", "s", "lower"),
    ("setup.first_cpu_s", "s", "lower"),
    ("wall.setup_s", "s", "lower"),
    ("wall.cold_pass_s", "s", "lower"),
    ("wall.warm_pass_s", "s", "lower"),
    ("host.steal_share", "ratio", "lower"),
    ("sources.load_tables_s", "s", "lower"),
    ("sources.load_tables_calls", "count", "lower"),
    ("queries.construct_s", "s", "lower"),
    ("queries.execute_s", "s", "lower"),
    ("queries.family_build_s", "s", "lower"),
    ("queries.family_build_tasks", "count", "lower"),
    ("queries.family_release_s", "s", "lower"),
    ("queries.family_cached_mb", "MiB", "lower"),
    ("queries.leaked_entries", "count", "lower"),
    ("skew_join.call_s", "s", "lower"),
    ("skew_join.exec_s", "s", "lower"),
    ("skew_join.partition_skew_ratio", "ratio", "lower"),
    ("cms.build_s", "s", "lower"),
    ("cms.calls", "count", "lower"),
    ("dedup.shingles_s", "s", "lower"),
    ("dedup.minhash_pairs_s", "s", "lower"),
    ("baseline.plain_join_s", "s", "lower"),
    ("baseline.aqe_join_s", "s", "lower"),
    ("baseline.skew_join_s", "s", "lower"),
    ("baseline.plain_hot_task_ratio", "ratio", "lower"),
    ("baseline.aqe_hot_task_ratio", "ratio", "lower"),
    ("baseline.skew_join_hot_task_ratio", "ratio", "lower"),
    ("baseline.plain_partition_skew_ratio", "ratio", "lower"),
    ("baseline.aqe_partition_skew_ratio", "ratio", "lower"),
    *((f"op.{name}_s", "s", "lower") for name in OPS),
    *((f"self.{layer}_s", "s", "lower") for layer in SELF_LAYERS),
    ("trace.overhead_s", "s", "lower"),
)


def benchmark_json(workloads) -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in workloads],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }
