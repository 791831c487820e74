"""Equivalence tests: skew_join(L, R, on, how) ≡ L.join(R, on, how).

The reference's own implied oracle (Utils.scala:83-88 golden-equivalence),
upgraded to multiset comparison (SURVEY §4 Q5) and run across join types,
skew sides, estimators, and the FIXTURES.md §B edge cases.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_skew_join_spark import SkewJoinConf, SkewType, skew_join
from spark_skew_join_spark.testing import assert_df_equal


# conf that actually triggers salting on the 20k-row fixtures: a key is hot
# at freq >= 20 and fragments R = clamp(int(freq * 0.1), 1, P)
TEST_CONF = SkewJoinConf(replication_factor=0.1, hot_threshold=20)


def plain(left, right, on, how):
    out = left.join(right, on=on, how=how)
    if how in ("semi", "left_semi", "leftsemi", "anti", "left_anti", "leftanti"):
        return out
    order = list(left.columns) + [c for c in right.columns if c not in on]
    return out.select(*order)


@pytest.mark.parametrize("how", ["inner", "left", "right", "full"])
def test_join_types_zipf(spark, zipf_left, uniform_right, how):
    actual = skew_join(zipf_left, uniform_right, "k", how, TEST_CONF)
    assert_df_equal(actual, plain(zipf_left, uniform_right, ["k"], how))


@pytest.mark.parametrize("how", ["left_semi", "left_anti"])
def test_semi_anti(spark, zipf_left, uniform_right, how):
    actual = skew_join(zipf_left, uniform_right, "k", how, TEST_CONF)
    expected = zipf_left.join(uniform_right, on=["k"], how=how)
    assert_df_equal(actual, expected)


@pytest.mark.slow
def test_cross_skew_both_sides(spark, zipf_left, zipf_right):
    # bound the blowup: restrict right to keys > 3 (hot keys 1..3 excluded
    # on one side keeps output manageable while still exercising CrossSkew)
    r = zipf_right.where(F.col("k") > 2)
    actual = skew_join(zipf_left, r, "k", "inner", TEST_CONF)
    assert_df_equal(actual, plain(zipf_left, r, ["k"], "inner"))


@pytest.mark.parametrize("estimator", ["exact", "cms"])
def test_cross_skew_small(spark, estimator):
    """Default-run CrossSkew: key 1 is hot on BOTH sides, so both sides
    fragment it; keys 2 and 3 are hot on one side only."""
    from spark_skew_join_spark.operators.skew_join import _hot_key_rows

    left = spark.createDataFrame(
        [(1, f"l{i}") for i in range(400)] + [(2, f"l{i}") for i in range(200)]
        + [(3 + i % 300, f"l{i}") for i in range(2_400)],
        "k bigint, pl string",
    )
    right = spark.createDataFrame(
        [(1, f"r{i}") for i in range(30)] + [(3, f"r{i}") for i in range(150)]
        + [(3 + i % 300, f"r{i}") for i in range(1_500)],
        "k bigint, pr string",
    )
    conf = SkewJoinConf(
        replication_factor=0.1, hot_threshold=20,
        estimator=estimator, sample_fraction=0.5,
    )
    hot = {r[0]: r[1:] for r in _hot_key_rows(left, right, ["k"], conf, 8)}
    assert min(hot[1]) >= 20  # hot on both sides → CrossSkew
    actual = skew_join(left, right, "k", "inner", conf)
    assert_df_equal(actual, plain(left, right, ["k"], "inner"))


@pytest.mark.parametrize("skew_type", [SkewType.LEFT, SkewType.RIGHT, SkewType.CROSS])
def test_skew_type_gating(spark, zipf_left, uniform_right, skew_type):
    conf = SkewJoinConf(
        replication_factor=0.1, hot_threshold=20, skew_type=skew_type
    )
    actual = skew_join(zipf_left, uniform_right, "k", "inner", conf)
    assert_df_equal(actual, plain(zipf_left, uniform_right, ["k"], "inner"))


def test_pair_on_different_names(spark, zipf_left, uniform_right):
    r = uniform_right.withColumnRenamed("k", "rk")
    actual = skew_join(zipf_left, r, [("k", "rk")], "inner", TEST_CONF)
    assert_df_equal(actual, plain(zipf_left, uniform_right, ["k"], "inner"))


def test_multi_column_key_and_concat_collision(spark):
    # includes the ("ab","c") vs ("a","bc") collision pair — the reference's
    # concat key would wrongly join these (quirk Q1); we must not.
    left = spark.createDataFrame(
        [("ab", "c", 1.0), ("a", "bc", 2.0), ("x", "y", 3.0)] * 50,
        "k1 string, k2 string, v double",
    )
    right = spark.createDataFrame(
        [("ab", "c", "m1"), ("x", "y", "m2"), ("a", "bc", "m3")],
        "k1 string, k2 string, tag string",
    )
    conf = SkewJoinConf(replication_factor=0.1, hot_threshold=10)
    actual = skew_join(left, right, ["k1", "k2"], "inner", conf)
    assert_df_equal(actual, plain(left, right, ["k1", "k2"], "inner"))
    # collision pair must NOT cross-match
    bad = actual.where((F.col("k1") == "ab") & (F.col("tag") == "m3")).count()
    assert bad == 0


def test_null_keys(spark):
    left = spark.createDataFrame(
        [(None, 1.0)] * 20 + [("a", 2.0)] * 50 + [("b", 3.0)] * 5,
        "k string, v double",
    )
    right = spark.createDataFrame(
        [(None, "rn"), ("a", "ra"), ("b", "rb")], "k string, tag string"
    )
    conf = SkewJoinConf(replication_factor=0.1, hot_threshold=10)
    for how in ("inner", "left", "full"):
        actual = skew_join(left, right, "k", how, conf)
        assert_df_equal(actual, plain(left, right, ["k"], how))


def test_outer_disjoint_ranges(spark):
    # unmatched keys must appear exactly once (quirk Q4: CMS over-estimation
    # duplicated them in the reference; exact map must not)
    left = spark.createDataFrame(
        [(k % 1000, f"l{k}") for k in range(5000)], "k bigint, pl string"
    )
    right = spark.createDataFrame(
        [(k, f"r{k}") for k in range(500, 1500)], "k bigint, pr string"
    )
    conf = SkewJoinConf(replication_factor=0.5, hot_threshold=3)
    for how in ("left", "right", "full"):
        actual = skew_join(left, right, "k", how, conf)
        assert_df_equal(actual, plain(left, right, ["k"], how))


def test_empty_side(spark, uniform_right):
    empty = uniform_right.where(F.lit(False)).select(
        F.col("k"), F.col("payload_r").alias("payload_l")
    )
    actual = skew_join(empty, uniform_right, "k", "inner", TEST_CONF)
    assert actual.count() == 0
    # right outer keeps all right rows exactly once
    actual_f = skew_join(empty, uniform_right, "k", "full", TEST_CONF)
    assert actual_f.count() == uniform_right.count()


def test_duplicate_rows_multiplicity(spark):
    left = spark.createDataFrame([(1, "same")] * 40, "k bigint, v string")
    right = spark.createDataFrame([(1, "r"), (1, "r")], "k bigint, t string")
    conf = SkewJoinConf(replication_factor=0.2, hot_threshold=5)
    actual = skew_join(left, right, "k", "inner", conf)
    assert actual.count() == 80  # 40 × 2 — exactly-once pair matching


def test_estimator_cms(spark, zipf_left, uniform_right):
    conf = SkewJoinConf(
        replication_factor=0.1,
        hot_threshold=20,
        estimator="cms",
        sample_fraction=0.5,
    )
    actual = skew_join(zipf_left, uniform_right, "k", "inner", conf)
    assert_df_equal(actual, plain(zipf_left, uniform_right, ["k"], "inner"))


@pytest.mark.parametrize("estimator", ["cms", "sample"])
@pytest.mark.parametrize("how", ["left", "full"])
def test_estimator_outer_join_exact(spark, estimator, how):
    """Outer joins with sketch estimators must verify presence flags exactly
    — an overestimated key on the empty side must not delete legitimate
    unmatched rows (ADVICE round 1)."""
    import warnings

    # hot key 7 exists ONLY on the left → its left rows are unmatched and
    # must all survive a left/full outer join
    left = spark.createDataFrame(
        [(7, f"l{i}") for i in range(200)] + [(k, f"l{k}") for k in range(100)],
        "k bigint, pl string",
    )
    right = spark.createDataFrame(
        [(k, f"r{k}") for k in range(100) for _ in range(3)], "k bigint, pr string"
    )
    conf = SkewJoinConf(
        replication_factor=0.5, hot_threshold=10,
        estimator=estimator, sample_fraction=0.9,
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        actual = skew_join(left, right, "k", how, conf)
    assert_df_equal(actual, plain(left, right, ["k"], how))


def test_estimator_sample(spark, zipf_left, uniform_right):
    conf = SkewJoinConf(
        replication_factor=0.1,
        hot_threshold=20,
        estimator="sample",
        sample_fraction=0.5,
    )
    actual = skew_join(zipf_left, uniform_right, "k", "inner", conf)
    assert_df_equal(actual, plain(zipf_left, uniform_right, ["k"], "inner"))


def test_salting_actually_fragments(spark, zipf_left, uniform_right):
    """The value proposition: hot keys spread across shuffle partitions.

    Verified structurally — the salted join plan joins on (k, salt1, salt2),
    so rows of the hottest key land in multiple buckets."""
    from spark_skew_join_spark.operators.skew_join import _hot_key_rows

    hot = _hot_key_rows(zipf_left, uniform_right, ["k"], TEST_CONF, 8)
    assert hot, "fixture should contain hot keys at this threshold"
    top_key, cl, cr = hot[0][0], hot[0][1], hot[0][2]
    assert cl >= 20
    conf = TEST_CONF
    r_l = conf.replication(cl, 8)
    assert r_l > 1, "hottest key must fragment"


def test_ambiguous_non_key_columns_rejected(spark):
    left = spark.createDataFrame([(1, "x")], "k bigint, v string")
    right = spark.createDataFrame([(1, "y")], "k bigint, v string")
    with pytest.raises(ValueError, match="non-key column"):
        skew_join(left, right, "k", "inner", TEST_CONF)


def test_compat_concat_mode_reproduces_reference_collision(spark):
    """Faithful mode: ("ab","c") and ("a","bc") concatenate to "abc" and DO
    join — the reference's quirk Q1, reproduced on demand."""
    left = spark.createDataFrame(
        [("ab", "c", 1.0), ("x", "y", 2.0)], "k1 string, k2 string, v double"
    )
    right = spark.createDataFrame(
        [("a", "bc", "m3"), ("x", "y", "m2")], "k1 string, k2 string, tag string"
    )
    conf = SkewJoinConf(compat_concat_key=True)
    out = skew_join(left, right, ["k1", "k2"], "inner", conf)
    rows = {(r["k1"], r["k2"], r["tag"]) for r in out.collect()}
    # collision pair joins in compat mode (default mode: test above proves it doesn't)
    assert ("ab", "c", "m3") in rows and ("x", "y", "m2") in rows
    # default mode on identical inputs: no cross-match
    strict = skew_join(left, right, ["k1", "k2"], "inner", SkewJoinConf())
    assert strict.count() == 1


def test_compat_mode_semi_anti(spark):
    left = spark.createDataFrame(
        [("ab", "c", 1.0), ("q", "z", 2.0)], "k1 string, k2 string, v double"
    )
    right = spark.createDataFrame(
        [("a", "bc", "m")], "k1 string, k2 string, tag string"
    )
    conf = SkewJoinConf(compat_concat_key=True)
    semi = skew_join(left, right, ["k1", "k2"], "left_semi", conf)
    assert {(r["k1"], r["k2"]) for r in semi.collect()} == {("ab", "c")}
    anti = skew_join(left, right, ["k1", "k2"], "left_anti", conf)
    assert {(r["k1"], r["k2"]) for r in anti.collect()} == {("q", "z")}
