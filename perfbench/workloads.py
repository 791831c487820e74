"""The benchmark workloads: their inputs, ops per pass and output checks.

An op is one user-visible call: a ``skew_join(...)`` call or a
``QUERIES[name](spark, sf_dir)`` call, plus the noop-sink write of the
DataFrame it returns; family builds and releases are ops of their own.
Each workload is a closed loop with one client: ops run back to back.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from . import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected_checksums.json")


@dataclass
class Op:
    name: str
    # Builds the op's DataFrame (timed as construction) or, for an eager op,
    # does all its work and returns None.
    construct: Callable[[], DataFrame | None]
    # Which layer the op's construction belongs to: "skew_join" or "queries".
    layer: str
    # "query", "build" (family build) or "release" (family release).
    kind: str = "query"


@dataclass
class CheckResult:
    ok: bool
    detail: str


def checksum(df: DataFrame) -> tuple[int, int]:
    """(row count, sum of a per-row xxhash64 over all columns): equal for
    two DataFrames holding the same multiset of rows. Columns are hashed
    in name order; doubles are rounded to 9 decimals so that summation
    order cannot change the result."""
    cols = []
    for name, dtype in sorted(df.dtypes):
        c = F.col(f"`{name}`")
        cols.append(F.round(c, 9) if dtype in ("double", "float") else c)
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


@dataclass
class Workload:
    """Base class: a workload generates its inputs once per run, registers
    them in each fresh session, and lists the ops of one pass."""

    work_dir: str
    seed: int
    spark: object = None

    name = ""
    why = ""
    # Warm passes per run at least (a traced run needs one untraced and one
    # traced).
    min_warm_passes = 2

    def generate(self) -> None:
        raise NotImplementedError

    def register(self, spark) -> None:
        raise NotImplementedError

    def pass_ops(self) -> list[Op]:
        raise NotImplementedError

    def begin_pass(self) -> None:
        """Called before each pass, outside the timed region."""

    def check(self, frames: dict[str, DataFrame]) -> dict[str, CheckResult]:
        """Check the DataFrames one pass produced; runs untimed."""
        raise NotImplementedError


class ZipfSkewJoin(Workload):
    """The paper's workload: a Zipf-skewed left side joined to a right side
    whose hottest keys are also repeated, so the salted path does the work."""

    name = "zipf_skew_join"
    why = (
        "the paper's Zipf-skewed join (hottest key ~half the left rows, hot "
        "keys repeated on the right); skew_join's salted path and CMS pre-pass do the work"
    )
    N_LEFT = 200_000

    def generate(self) -> None:
        self.paths = datagen.write_zipf_join_inputs(
            os.path.join(self.work_dir, "zipf"), self.seed, self.N_LEFT
        )

    def register(self, spark) -> None:
        # broadcast off, so the shuffle join the paper is about runs
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        self.spark = spark
        self.left = spark.read.parquet(self.paths["left"])
        self.right = spark.read.parquet(self.paths["right"])

    def _skew_join(self, how: str, estimator: str) -> Callable[[], DataFrame]:
        import spark_skew_join_spark as sj

        conf = sj.SkewJoinConf(estimator=estimator)
        # resolved at call time, so the traced run's wrapper is the one called
        return lambda: sj.skew_join(self.left, self.right, "k", how, conf)

    def pass_ops(self) -> list[Op]:
        return [
            Op("skew_join_inner_exact", self._skew_join("inner", "exact"), "skew_join"),
            Op("skew_join_inner_cms", self._skew_join("inner", "cms"), "skew_join"),
        ]

    def check(self, frames: dict[str, DataFrame]) -> dict[str, CheckResult]:
        """Each result must equal ``left.join(right, "k")`` as a multiset."""
        reference = checksum(self.left.join(self.right, "k", "inner"))
        out = {}
        for name, df in frames.items():
            got = checksum(df)
            out[name] = CheckResult(got == reference, f"got {got}, plain join {reference}")
        return out


class DocNearDupPipeline(Workload):
    """Near-duplicate document pipeline: build the dedup family's shared
    artifacts, run its consumer, then release everything, so every pass
    pays the build."""

    name = "doc_near_dup_pipeline"
    why = (
        "fuzzy-dedup family build, its consumer and its release over a fixed "
        "document corpus; exercises the dedup and family-cache layers"
    )
    N_DOCS = 400
    # a pass is cheap here, and the median of three ignores one that is off
    min_warm_passes = 3
    # The corpus is fixed and the seed does not change this workload, so the
    # recorded checksums hold for every run.
    DOC_SEED = 20240101
    CONSUMERS = ("dedup_minhash_docs",)

    def generate(self) -> None:
        self.sf_dir = datagen.write_doc_tables(
            os.path.join(self.work_dir, "docs"), self.N_DOCS, self.DOC_SEED
        )

    def register(self, spark) -> None:
        from spark_skew_join_spark.sources import tables

        self.spark = spark
        tables.load_tables(spark, self.sf_dir)

    def begin_pass(self) -> None:
        from spark_skew_join_spark.operators import dedup

        self._snap = dedup.cache_snapshot()

    def _build(self) -> None:
        from spark_skew_join_spark import queries

        queries.build_family("dedup", self.spark, self.sf_dir)

    def _release(self) -> None:
        from spark_skew_join_spark import queries
        from spark_skew_join_spark.operators import dedup

        queries.release_family("dedup")
        dedup.release_entries(*dedup.entries_since(self._snap))

    def _query(self, name: str) -> Callable[[], DataFrame]:
        from spark_skew_join_spark import queries

        return lambda: queries.QUERIES[name](self.spark, self.sf_dir)

    def pass_ops(self) -> list[Op]:
        consumers = [Op(n, self._query(n), "queries") for n in self.CONSUMERS]
        return (
            [Op("dedup_family_build", self._build, "queries", "build")]
            + consumers
            + [Op("dedup_family_release", self._release, "queries", "release")]
        )

    def check(self, frames: dict[str, DataFrame]) -> dict[str, CheckResult]:
        """Compare each consumer's (count, hash sum) to the recorded value
        for this corpus (``--record-checksums`` writes them)."""
        with open(EXPECTED_PATH) as f:
            exp = json.load(f)[self.name]
        if (exp["n_docs"], exp["doc_seed"]) != (self.N_DOCS, self.DOC_SEED):
            return {n: CheckResult(False, "no checksums for this corpus") for n in frames}
        out = {}
        for name, df in frames.items():
            got = list(checksum(df))
            want = exp["ops"].get(name)
            out[name] = CheckResult(got == want, f"got {got}, expected {want}")
        return out


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (ZipfSkewJoin, DocNearDupPipeline)
}
