"""CMS unit/property tests (SURVEY §5.5): ε/δ accuracy vs exact counts,
monoid merge associativity, distributed builder parity (bit-identical to
the Python derivation, ANSI on and off), a Python-free build plan, the
hash-derivation version check, empty input."""

from __future__ import annotations

import random

from spark_skew_join_spark.sketch.cms import CountMinSketch, cms_from_dataframe


def test_never_underestimates_and_eps_bound():
    rng = random.Random(42)
    keys = [str(rng.randint(1, 500)) for _ in range(20_000)]
    exact: dict[str, int] = {}
    for k in keys:
        exact[k] = exact.get(k, 0) + 1
    cms = CountMinSketch(eps=0.005, delta=1e-8, seed=1).add_all(keys)
    n = len(keys)
    for k, c in exact.items():
        est = cms.estimate(k)
        assert est >= c, f"CMS underestimated {k}: {est} < {c}"
        assert est <= c + cms.eps * n, f"CMS over eps bound for {k}: {est} vs {c}"


def test_merge_equals_single_build():
    rng = random.Random(7)
    keys = [str(rng.randint(1, 100)) for _ in range(5_000)]
    whole = CountMinSketch().add_all(keys)
    a = CountMinSketch().add_all(keys[:2_000])
    b = CountMinSketch().add_all(keys[2_000:])
    merged = a.merge(b)
    assert (merged.table == whole.table).all()
    assert merged.total == whole.total


def test_merge_rejects_mismatched_params():
    import pytest

    with pytest.raises(ValueError):
        CountMinSketch(eps=0.01).merge(CountMinSketch(eps=0.005))


def test_distributed_builder(spark):
    df = spark.createDataFrame(
        [(i % 50,) for i in range(10_000)], "k bigint"
    )
    cms = cms_from_dataframe(df, ["k"], eps=0.01, delta=1e-6, seed=1)
    assert cms.total == 10_000
    est = cms.estimate("7")
    assert 200 <= est <= 200 + 0.01 * 10_000


def test_empty_dataframe(spark):
    df = spark.createDataFrame([], "k bigint")
    cms = cms_from_dataframe(df, ["k"])  # Utils.scala:120 throws here; we don't
    assert cms.total == 0
    assert cms.estimate("anything") == 0


def test_composite_key_no_concat_collision(spark):
    # ("ab","c") vs ("a","bc"): NUL separator keeps them distinct (quirk Q1)
    df = spark.createDataFrame(
        [("ab", "c")] * 100 + [("a", "bc")] * 5, "k1 string, k2 string"
    )
    cms = cms_from_dataframe(df, ["k1", "k2"])
    assert cms.estimate("ab\x00c") >= 100
    assert cms.estimate("a\x00bc") < 100  # would be >=105 if collided


def test_python_xxh64_matches_spark(spark):
    from pyspark.sql import functions as F

    from spark_skew_join_spark.sketch.xxh64 import to_signed64, xxh64

    samples = ["", "a", "hello", "12345678", "x" * 31, "y" * 32, "z" * 100, "7"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in samples:
        assert got[s] == to_signed64(xxh64(s.encode())), s


def test_add_hashed_matches_scalar_path():
    import numpy as np

    from spark_skew_join_spark.sketch.xxh64 import to_signed64, xxh64

    keys = [str(i % 37) for i in range(2000)]
    scalar = CountMinSketch(seed=5).add_all(keys)
    vec = CountMinSketch(seed=5)
    hashes = np.array([to_signed64(xxh64(k.encode())) for k in keys], dtype=np.int64)
    vec.add_hashed(hashes)
    assert (scalar.table == vec.table).all()
    assert scalar.total == vec.total


def test_estimate_hashed_matches_estimate(spark):
    """estimate_hashed(JVM xxhash64) ≡ estimate(key) — the streaming
    hot-key path never re-hashes in Python."""
    from pyspark.sql import functions as F

    keys = [f"k{i}" for i in range(200)]
    cms = CountMinSketch().add_all(keys * 3)
    hashes = {
        r["k"]: r["h"]
        for r in spark.createDataFrame([(k,) for k in keys], "k string")
        .select("k", F.xxhash64("k").alias("h")).collect()
    }
    for k in keys:
        assert cms.estimate_hashed(hashes[k]) == cms.estimate(k) >= 3


def _builder_cases(spark):
    """(DataFrame, key_cols, python keys): bigint, composite string, nulls."""
    big = [(i * 7919 % 301 - 150,) for i in range(3_000)]
    comp = [(f"a{i % 13}", f"b{i % 5}") for i in range(2_000)]
    comp += [("ab", "c")] * 40 + [("a", "bc")] * 3
    nulls = [(None, "x")] * 50 + [("k", None)] * 20 + [
        (f"k{i % 9}", f"v{i % 4}") for i in range(500)
    ]
    return [
        (spark.createDataFrame(big, "k bigint"), ["k"],
         [str(k) for (k,) in big]),
        (spark.createDataFrame(comp, "k1 string, k2 string"), ["k1", "k2"],
         [f"{a}\x00{b}" for a, b in comp]),
        (spark.createDataFrame(nulls, "k1 string, k2 string"), ["k1", "k2"],
         [f"{a}\x00{b}" for a, b in nulls if a is not None and b is not None]),
    ]


def test_builder_bit_identical_to_add_all(spark):
    """The JVM builder and the Python derivation agree cell for cell —
    also with ANSI mode on, which the builder's arithmetic must survive."""
    import numpy as np

    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("false", "true"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            for df, cols, keys in _builder_cases(spark):
                built = cms_from_dataframe(df, cols, seed=3)
                expect = CountMinSketch(seed=3).add_all(keys)
                assert np.array_equal(built.table, expect.table), (ansi, cols)
                assert built.total == expect.total == len(keys), (ansi, cols)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_builder_plan_has_no_python_exec(spark):
    from spark_skew_join_spark.sketch.cms import _cell_counts

    df = spark.createDataFrame([(i % 11, f"s{i}") for i in range(200)],
                               "k bigint, s string")
    cells = _cell_counts(df, ["k", "s"], depth=4, width=64, seed=1)
    assert len(cells.collect()) <= 4 * 64
    plan = cells._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    for node in ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython",
                 "BatchEvalPython"):
        assert node not in plan, plan


def test_old_derivation_pickle_is_rejected():
    """A sketch pickled before the hash-derivation version existed (a
    5-argument ``_rebuild_cms``) must not merge with, or answer like,
    a current one."""
    import pickle

    import pytest

    from spark_skew_join_spark.sketch.cms import HASH_VERSION, _rebuild_cms

    cur = CountMinSketch().add_all(["a", "b", "a"])
    assert pickle.loads(pickle.dumps(cur)).merge(cur).total == 6
    old = _rebuild_cms(cur.eps, cur.delta, cur.seed, cur.table.copy(), cur.total)
    assert old.hash_version < HASH_VERSION
    for a, b in ((cur, old), (old, cur)):
        for op in (a.merge, a.inner_product):
            with pytest.raises(ValueError, match="different parameters"):
                op(b)
    with pytest.raises(ValueError, match="hash derivation"):
        old.estimate("a")
