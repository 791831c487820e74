"""Benchmark of spark_skew_join_spark: one workload per process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --write-spec
    python3 perfbench/run.py --workload doc_near_dup_pipeline --record-checksums

A run starts a fresh local[nproc] session (``setup``), makes one cold pass
over the workload's ops, then warm passes until ``--seconds`` have gone
and at least ``min_warm_passes`` were made, then sets up three more times
in the same process. Outputs of the
cold pass are checked outside the timed region. Each op is timed in wall seconds and in CPU seconds of the
process tree (``cputime.py``); the end-to-end metrics are CPU seconds.
With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` warm passes alternate untraced and traced, per-op Spark
metrics are read from the status store after each op, and the last line
holds the per-layer metrics. Everything the run writes stays under
``perfbench/.work`` (removed at exit) and ``perfbench/results``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import spec  # noqa: E402
from perfbench.collector import MB  # noqa: E402
from perfbench.cputime import steal_ticks, tree_cpu_s  # noqa: E402
from perfbench.workloads import WORKLOADS, CheckResult, ZipfSkewJoin  # noqa: E402

# A run must end within this many seconds, or it stops with an error.
RUN_BUDGET_S = 170
# Session restarts after the warm passes; setup_s is their median.
RESTARTS = 3
# The gateway JVM's heap, fixed (read by sources.tables.get_spark).
HEAP = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def program_importable() -> bool:
    try:
        import spark_skew_join_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test: {e}")
        return False
    return True


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


# -- session lifetime ---------------------------------------------------------


def prepare_env(work: str) -> None:
    """Keep the JVM's temp files, Spark's local dirs and the warehouse
    inside ``work``, and let Python workers import the program."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # -XX:-UsePerfData: each JVM (the launcher's too) would otherwise write
    # /tmp/hsperfdata_<user>.
    # -XX:TieredStopAtLevel=1: JIT with C1 only. With C2 the CPU time per
    # pass kept falling for five passes (80, 40, 34, 28, 25 s on an earlier,
    # larger doc_near_dup_pipeline, 4 cores), by how far depending on how
    # busy the host was.
    # -XX:+UseSerialGC and a fixed 2 GiB heap (driver memory and -Xms):
    # with G1 and a growing 8 GiB heap, the GC threads' CPU time per pass
    # went from 1 to 5 s between passes of the same work.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        f"'-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
        f"-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xms{HEAP}' pyspark-shell"
    )
    # spark-warehouse and any other cwd-relative output land in the work dir
    os.chdir(work)


def warm_up(spark, cores: int) -> None:
    """Generic warm-up: one small aggregation, so the first op does not pay
    for the session's first job. Nothing workload-specific is computed or
    cached, and no Python worker is started: the first op that needs one
    pays for it, as a one-shot job would."""
    sc = spark.sparkContext
    sc.setJobGroup("setup", "warm-up")
    spark.range(0, 1 << 16, 1, cores).selectExpr("sum(id)").collect()
    sc._jsc.clearJobGroup()


def set_up(wl, cores: int):
    """Session start, input registration and warm-up. Returns the session
    and the set-up's (wall seconds, CPU seconds)."""
    from spark_skew_join_spark.sources.tables import get_spark

    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores)
    wl.register(spark)
    warm_up(spark, cores)
    t1 = time.perf_counter()
    return spark, (t1 - t0, tree_cpu_s() - c0)


def stop_jvm(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- one pass -------------------------------------------------------------------


def storage_mb(sc) -> float:
    """Memory plus disk held by cached and checkpointed RDDs."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum((i.memSize() + i.diskSize()) for i in infos) / MB


def ledger_entries(sc) -> int:
    """Dedup-ledger entries (cached bands, spill tables) plus persistent RDDs."""
    from spark_skew_join_spark.operators import dedup

    nb, ns = dedup.cache_snapshot()
    return nb + ns + sc._jsc.getPersistentRDDs().size()


class Runner:
    def __init__(self, wl, spark, cores: int, trace: bool):
        from perfbench.collector import StageCollector
        from perfbench.tracer import Tracer

        self.wl, self.spark, self.cores = wl, spark, cores
        self.sc = spark.sparkContext
        self.collector = StageCollector(spark) if trace else None
        self.tracer = Tracer() if trace else None
        self.passes: list[dict] = []
        self.checks: dict = {}

    def run_pass(self, label: str, traced: bool, check: bool = False) -> dict:
        """Run one pass; its times are the sums of its ops' wall and CPU
        times, so status-store reads and output checks in between are not
        counted."""
        wl, sc = self.wl, self.sc
        ops = wl.pass_ops()
        idx = len(self.passes)
        # Each pass starts from a collected heap, in the JVM and in Python,
        # so that no pass pays for collecting the garbage of earlier ones.
        sc._jvm.System.gc()
        gc.collect()
        if traced:
            self.tracer.install()
        wl.begin_pass()
        entries_before = ledger_entries(sc)
        stolen0, ticks0 = steal_ticks()
        recs, frames = [], {}
        for op in ops:
            if check and op.kind == "release":
                self._check(frames)
                check = False
            recs.append(self._run_op(op, f"p{idx}:{op.name}", traced, frames))
        if check:
            self._check(frames)
        stolen1, ticks1 = steal_ticks()
        if traced:
            self.tracer.uninstall()
        p = {
            "label": label,
            "traced": traced,
            "wall_s": sum(r["wall_s"] for r in recs),
            "cpu_s": sum(r["cpu_s"] for r in recs),
            "steal_share": (stolen1 - stolen0) / max(1, ticks1 - ticks0),
            "ops": recs,
            "leaked_entries": ledger_entries(sc) - entries_before,
        }
        self.passes.append(p)
        log(
            f"{label} pass {idx}: {p['wall_s']:.3f} s wall, {p['cpu_s']:.2f} s CPU, "
            f"{p['steal_share']:.0%} stolen" + (" (traced)" if traced else "")
        )
        return p

    def _run_op(self, op, group: str, traced: bool, frames: dict) -> dict:
        sc, tracer = self.sc, self.tracer
        rec = {"op": op.name, "group": group, "layer": op.layer, "kind": op.kind, "error": None}
        sc.setJobGroup(group, op.name)
        if traced:
            tracer.begin_op(group)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        t1 = t0
        try:
            if traced and op.kind == "query" and op.layer == "queries":
                with tracer.span(f"queries.{op.name}"):
                    df = op.construct()
            else:
                df = op.construct()
            t1 = time.perf_counter()
            if df is not None:
                if traced:
                    with tracer.span("spark.execute"):
                        df.write.mode("overwrite").format("noop").save()
                else:
                    df.write.mode("overwrite").format("noop").save()
                frames[op.name] = df
        except Exception as e:  # an op failure is counted, and the run goes on
            rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
            log(f"op {op.name} failed:\n{traceback.format_exc()}")
        t2 = time.perf_counter()
        c1 = tree_cpu_s()
        if traced:
            tracer.end_op()
        sc._jsc.clearJobGroup()
        rec.update(construct_s=t1 - t0, execute_s=t2 - t1, wall_s=t2 - t0, cpu_s=c1 - c0)
        # untimed: status-store reads and storage figures
        if self.collector is not None:
            rec["spark"] = self.collector.collect(group, rec["wall_s"])
        if op.kind == "build":
            rec["cached_mb"] = storage_mb(sc)
        return rec

    def _check(self, frames: dict) -> None:
        self.sc.setJobGroup("check", "output checks")
        try:
            results = self.wl.check(frames)
        except Exception as e:  # a check that cannot run fails every op it covers
            log(f"output check failed to run:\n{traceback.format_exc()}")
            results = {n: CheckResult(False, f"{type(e).__name__}: {e}") for n in frames}
        self.sc._jsc.clearJobGroup()
        for name, res in results.items():
            self.checks[name] = {"ok": res.ok, "detail": res.detail}
            if not res.ok:
                log(f"output check failed for {name}: {self.checks[name]['detail']}")


# -- paper-claim baselines (traced zipf_skew_join run) ---------------------------


def paper_claim(runner: Runner) -> dict[str, float]:
    """Plain shuffle join (AQE off), AQE skew join and skew_join exact on
    the same inputs: wall time, hot-task ratio and partition skew."""
    import spark_skew_join_spark as sj

    wl, spark, sc = runner.wl, runner.spark, runner.sc
    aqe_off = {"spark.sql.adaptive.enabled": "false"}
    aqe_skew = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # 8m suits a 4M-row left side; no partition of the 200k rows here reaches it
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        # keep the planned output partitions, so partition skew stays visible
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    plain = lambda: wl.left.join(wl.right, "k")  # noqa: E731
    # variant: (session conf, DataFrame, names of its time / hot-task / skew metrics)
    variants = {
        "plain": (aqe_off, plain, ("baseline.plain_join_s", "baseline.plain_hot_task_ratio",
                                   "baseline.plain_partition_skew_ratio")),
        "aqe": (aqe_skew, plain, ("baseline.aqe_join_s", "baseline.aqe_hot_task_ratio",
                                  "baseline.aqe_partition_skew_ratio")),
        "skew_join": (
            aqe_off,
            lambda: sj.skew_join(wl.left, wl.right, "k", "inner", sj.SkewJoinConf()),
            ("baseline.skew_join_s", "baseline.skew_join_hot_task_ratio",
             "skew_join.partition_skew_ratio"),
        ),
    }
    out: dict[str, float] = {}
    lines = []
    for name, (conf, build, (t_name, hot_name, skew_name)) in variants.items():
        saved = {k: spark.conf.get(k, None) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            group = f"baseline:{name}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = build()
            df.write.mode("overwrite").format("noop").save()
            out[t_name] = time.perf_counter() - t0
            out[hot_name] = runner.collector.collect(group, out[t_name])["hot_task_ratio"]
            # its own group, so the next variant's collect does not count its jobs
            sc.setJobGroup(f"{group}:partition_stats", name)
            out[skew_name] = sj.partition_stats(df).skew_ratio
        finally:
            sc._jsc.clearJobGroup()
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        lines.append(f"{name}: {out[t_name]:.3f} s, hot_task_ratio {out[hot_name]:.2f}, "
                     f"partition_skew_ratio {out[skew_name]:.2f}")
    log("paper claim, same inputs: " + "; ".join(lines))
    return out


# -- metrics ----------------------------------------------------------------------


def layer_metrics(runner: Runner, p: dict) -> dict[str, float]:
    """Per-layer figures of one traced pass."""
    from perfbench.collector import sum_ops

    tracer = runner.tracer
    ops = {r["group"] for r in p["ops"]}
    recs = p["ops"]
    m: dict[str, float] = {}
    for k, v in sum_ops([r["spark"] for r in recs], p["wall_s"], runner.cores).items():
        m[f"spark.{k}"] = v
    for span in ("skew_join.call", "dedup.shingles", "dedup.minhash_pairs"):
        m[f"{span}_s"] = tracer.totals(span, ops)[0]
    m["sources.load_tables_s"], m["sources.load_tables_calls"] = tracer.totals(
        "sources.load_tables", ops
    )
    m["cms.build_s"], m["cms.calls"] = tracer.totals("cms.build", ops)
    queries = [r for r in recs if r["layer"] == "queries" and r["kind"] == "query"]
    m["queries.construct_s"] = sum(r["construct_s"] for r in queries)
    m["queries.execute_s"] = sum(r["execute_s"] for r in queries)
    builds = [r for r in recs if r["kind"] == "build"]
    m["queries.family_build_s"] = sum(r["wall_s"] for r in builds)
    m["queries.family_build_tasks"] = sum(r["spark"]["tasks"] for r in builds)
    m["queries.family_cached_mb"] = sum(r["cached_mb"] for r in builds)
    m["queries.family_release_s"] = sum(r["wall_s"] for r in recs if r["kind"] == "release")
    m["queries.leaked_entries"] = p["leaked_entries"]
    m["skew_join.exec_s"] = sum(r["execute_s"] for r in recs if r["layer"] == "skew_join")
    for r in recs:
        m[f"op.{r['op']}_s"] = r["wall_s"]
    for layer, v in tracer.self_times(ops).items():
        m[f"self.{layer}_s"] = v
    return m


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def summarize(
    runner: Runner, setups: list[tuple[float, float]], trace: bool, extra: dict
) -> tuple[dict, dict]:
    """(metrics for the last line, the sample counts behind them).
    ``setups`` holds (wall s, CPU s) of the first set-up, then of each
    restart."""
    cold = runner.passes[0]
    warm = runner.passes[1:]
    restarts = setups[1:]
    attempted = sum(len(p["ops"]) for p in runner.passes)
    failed = sum(1 for p in runner.passes for r in p["ops"] if r["error"]) + sum(
        1 for c in runner.checks.values() if not c["ok"]
    )
    samples = {"setup_s": len(restarts), "cold_pass_cpu_s": 1}
    if not trace:
        samples["warm_pass_cpu_s"] = len(warm)
        values = {
            "setup_s": median([cpu for _, cpu in restarts]),
            "cold_pass_cpu_s": cold["cpu_s"],
            "warm_pass_cpu_s": median([p["cpu_s"] for p in warm]),
            "op_success_rate": 1.0 - failed / attempted,
        }
        units = {n: u for n, u, _, _ in spec.END_TO_END}
    else:
        traced = [p for p in warm if p["traced"]]
        untraced = [p["wall_s"] for p in warm if not p["traced"]]
        per_pass = [layer_metrics(runner, p) for p in traced]
        samples["traced_warm_passes"] = len(traced)
        samples["untraced_warm_passes"] = len(untraced)
        units = {n: u for n, u, _ in spec.PER_LAYER}
        values = {n: 0.0 for n in units}
        for name in units:
            got = [pm[name] for pm in per_pass if name in pm]
            if got:
                values[name] = median(got)
        values["setup.first_s"], values["setup.first_cpu_s"] = setups[0]
        values["wall.setup_s"] = median([wall for wall, _ in restarts])
        values["wall.cold_pass_s"] = cold["wall_s"]
        values["wall.warm_pass_s"] = median(untraced)
        values["host.steal_share"] = median([p["steal_share"] for p in runner.passes])
        values["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - median(untraced)
        values.update(extra)
    metrics = {n: {"value": float(values[n]), "unit": units[n]} for n in units}
    return (
        {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
        samples,
    )


# -- entry points ---------------------------------------------------------------------


def environment(spark, cores: int, args, load1: float) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores,
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "loadavg_1m_at_start": load1,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_BUDGET_S} s")


def _on_term(signum, frame):
    # unwinds through run_workload's cleanup: JVM stopped, work dir removed
    raise SystemExit(128 + signum)


def run_workload(args) -> int:
    if not program_importable():
        return 2
    load1 = os.getloadavg()[0]
    cores = n_cores()
    os.makedirs(WORK_ROOT, exist_ok=True)
    os.makedirs(RESULTS, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_ROOT)
    cwd = os.getcwd()
    spark = None
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.signal(signal.SIGTERM, _on_term)
    signal.alarm(RUN_BUDGET_S)
    try:
        prepare_env(work)
        wl = WORKLOADS[args.workload](work, args.seed)
        wl.generate()
        if args.record_checksums:
            return record_checksums(wl, cores)
        # seconds since start at the end of each phase, to budget run time
        phases = {"generated": time.perf_counter() - T_START}
        trace = bool(args.trace)
        spark, first = set_up(wl, cores)
        setups = [first]
        phases["set_up"] = time.perf_counter() - T_START
        env = environment(spark, cores, args, load1)
        runner = Runner(wl, spark, cores, trace)
        # untraced, so wall.cold_pass_s means the same in both kinds of run
        runner.run_pass("cold", traced=False, check=True)
        phases["cold_and_checks"] = time.perf_counter() - T_START
        start = time.perf_counter()
        k = 0
        while True:
            runner.run_pass("warm", traced=trace and k % 2 == 1)
            k += 1
            if time.perf_counter() - start >= args.seconds and k >= wl.min_warm_passes:
                break
        phases["warm"] = time.perf_counter() - T_START
        extra = {"jvm.peak_rss_mb": 0.0}
        if trace:
            from perfbench.collector import jvm_peak_rss_mb

            extra["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
            if isinstance(wl, ZipfSkewJoin):
                extra.update(paper_claim(runner))
        for _ in range(RESTARTS):
            spark.stop()
            spark, t = set_up(wl, cores)
            setups.append(t)
        phases["set_up_again"] = time.perf_counter() - T_START
        result, samples = summarize(runner, setups, trace, extra)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        detail = {
            "env": env,
            "setups_s": setups,
            "phases_s": phases,
            "samples": samples,
            "checks": runner.checks,
            "passes": runner.passes,
            "result": result,
        }
        with open(os.path.join(RESULTS, f"{stem}.json"), "w") as f:
            json.dump(detail, f, indent=1, default=str)
        if trace:
            runner.tracer.dump(os.path.join(RESULTS, f"{stem}-spans.json"))
        log("phases (s since start): " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
        print(json.dumps({"env": env, "samples": samples}))
        for name, m in result["metrics"].items():
            print(f"{name} = {m['value']:.6g} {m['unit']}")
        print(json.dumps(result))
        # the result line carries correctness; a non-zero exit means no result
        return 0
    finally:
        signal.alarm(0)
        try:
            stop_jvm(spark)
        finally:
            os.chdir(cwd)
            shutil.rmtree(work, ignore_errors=True)


def record_checksums(wl, cores: int) -> int:
    """Write the expected (count, hash sum) of each checked op's output."""
    from perfbench.workloads import EXPECTED_PATH, checksum

    spark, _ = set_up(wl, cores)
    wl.begin_pass()
    ops = {}
    for op in wl.pass_ops():
        if op.kind == "release":
            break
        df = op.construct()
        if df is not None:
            ops[op.name] = list(checksum(df))
    data = {}
    if os.path.exists(EXPECTED_PATH):
        with open(EXPECTED_PATH) as f:
            data = json.load(f)
    data[wl.name] = {"n_docs": wl.N_DOCS, "doc_seed": wl.DOC_SEED, "ops": ops}
    with open(EXPECTED_PATH, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(data[wl.name]))
    spark.stop()
    return 0


def run_all(args) -> int:
    """Each workload in its own process, one after the other."""
    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        rc = max(rc, subprocess.run(cmd).returncode)
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-spec", action="store_true", help="rewrite BENCHMARK.json")
    ap.add_argument("--record-checksums", action="store_true")
    args = ap.parse_args(argv)
    if args.write_spec:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            json.dump(spec.benchmark_json(WORKLOADS.values()), f, indent=2)
            f.write("\n")
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
