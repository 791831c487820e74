"""Tests of the benchmark's own machinery: the status-store collector, the
tracer and the output checksum.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.collector import StageCollector, interval_union  # noqa: E402
from perfbench.tracer import Span, Tracer  # noqa: E402
from perfbench.workloads import Op, checksum  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield s
    s.stop()


def _tiny_join(spark):
    # different partition counts, so the two sides share no exchange
    a = spark.range(0, 1000, 1, 2)
    b = spark.range(0, 1000, 1, 3)
    return a.join(b, "id")


def test_collector_pins_job_stage_and_task_counts(spark):
    collector = StageCollector(spark)
    sc = spark.sparkContext
    sc.setJobGroup("tiny-join", "tiny join")
    t0 = time.perf_counter()
    _tiny_join(spark).write.mode("overwrite").format("noop").save()
    wall = time.perf_counter() - t0
    sc._jsc.clearJobGroup()
    m = collector.collect("tiny-join", wall)
    # one job: shuffle-map stages of 2 and 3 tasks, one 4-task join stage
    assert (m["jobs"], m["stages"], m["tasks"]) == (1, 3, 9)
    assert m["input_rows"] == 2000  # each range side counts its 1000 rows as input
    assert m["shuffle_write_mb"] > 0 and m["shuffle_read_mb"] > 0
    assert 0 < m["job_wall_s"] <= wall
    assert m["driver_gap_s"] == pytest.approx(wall - m["job_wall_s"])
    assert m["task_max_s"] >= m["task_p50_s"] >= 0


def test_collection_runs_outside_the_timed_region(spark):
    from perfbench.run import Runner

    runner = Runner(None, spark, 2, trace=True)
    called_at = []
    real_collect = runner.collector.collect

    def spy(group, wall_s):
        called_at.append(time.perf_counter())
        jobs_before = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
        m = real_collect(group, wall_s)
        # reading the status store starts no Spark job
        assert len(spark.sparkContext.statusTracker().getJobIdsForGroup(None)) == jobs_before
        return m

    runner.collector.collect = spy
    op = Op("tiny_join", lambda: _tiny_join(spark), "skew_join")
    before = time.perf_counter()
    rec = runner._run_op(op, "timed-op", traced=True, frames={})
    assert rec["error"] is None
    assert called_at and called_at[0] - before >= rec["wall_s"]
    assert (rec["spark"]["jobs"], rec["spark"]["stages"], rec["spark"]["tasks"]) == (1, 3, 9)


def test_interval_union():
    assert interval_union([]) == 0
    assert interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    assert interval_union([(0, 10), (2, 3)]) == 10


def test_tree_cpu_counts_children_while_running_and_after_exit():
    import subprocess

    from perfbench.cputime import tree_cpu_s

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn + "input()"], stdin=subprocess.PIPE)
    try:
        deadline = time.monotonic() + 30
        while tree_cpu_s() - before < 0.5 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert tree_cpu_s() - before >= 0.5  # a live child's CPU counts
    finally:
        child.communicate(b"\n")
    # reaped: its CPU moved into this process's cutime/cstime
    assert tree_cpu_s() - before >= 0.5


def test_tracer_patches_every_module_that_holds_a_function():
    from spark_skew_join_spark import queries
    from spark_skew_join_spark.sources import tables

    original = tables.load_tables
    assert queries.load_tables is original
    tracer = Tracer()
    tracer.install()
    try:
        assert tables.load_tables is not original
        assert queries.load_tables is tables.load_tables
        assert queries.load_tables.__perfbench_original__ is original
    finally:
        tracer.uninstall()
    assert tables.load_tables is original and queries.load_tables is original


def test_self_time_subtracts_covered_child_time():
    tracer = Tracer()
    tracer.spans = [
        Span(0, "harness.op", 0.0, 10.0, None, "op"),
        Span(1, "queries.q", 1.0, 6.0, 0, "op"),
        Span(2, "sources.load_tables", 2.0, 3.0, 1, "op"),
        Span(3, "spark.execute", 6.0, 9.0, 0, "op"),
    ]
    st = tracer.self_times({"op"})
    assert st == pytest.approx({"harness": 2.0, "queries": 4.0, "sources": 1.0, "spark": 3.0})
    assert tracer.totals("sources.load_tables", {"op"}) == (1.0, 1)


def test_checksum_is_a_multiset_fingerprint(spark):
    rows = [(1, "a", 0.5), (2, "b", 0.25), (2, "b", 0.25)]
    schema = "k bigint, s string, x double"
    base = checksum(spark.createDataFrame(rows, schema))
    assert base[0] == 3
    assert checksum(spark.createDataFrame(list(reversed(rows)), schema)) == base
    assert checksum(spark.createDataFrame(rows[:2] + [(2, "c", 0.25)], schema)) != base


def test_benchmark_json_is_written_from_the_spec():
    import json

    from perfbench import spec
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == spec.benchmark_json(WORKLOADS.values())


def test_spec_names_every_op_of_every_workload(tmp_path):
    from perfbench import spec
    from perfbench.workloads import WORKLOADS

    names = {
        op.name
        for cls in WORKLOADS.values()
        for op in cls(str(tmp_path), 0).pass_ops()
    }
    assert names == set(spec.OPS)
