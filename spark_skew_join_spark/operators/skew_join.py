"""Skew-aware fragment-replicate equi-join — the reference's flagship operator.

Re-expresses ``skewJoin``
(``/root/reference/src/main/scala/org/anish/spark/skew/dfimplicits.scala:31-125``)
as pure DataFrame composition. Shape of the algorithm (README.md:5-13 of the
reference, Kleppmann DDIA ch.10 "skewed joins"):

1. a *sampling job* estimates per-key frequency on both sides;
2. hot keys on the left fragment left rows into ``R_L`` salt buckets and
   replicate each right row across all ``R_L`` buckets (mirrored for the
   right side with ``R_R``);
3. the equi-join runs on ``(key, salt_left, salt_right)`` so one hot key
   now hashes to ``R_L × R_R`` distinct shuffle partitions;
4. helper columns are dropped → output is identical (as a multiset) to the
   plain join.

Deliberate departures from the reference, each documented in SURVEY §4:

* **Join on the original key columns**, not a concatenated string
  (``dfimplicits.scala:46-47`` would merge ``("ab","c")`` with ``("a","bc")``
  — quirk Q1). Composite keys are only ever used inside frequency
  estimation, with a NUL separator.
* **Expression-level randomness** (``F.rand(seed)``) instead of a broadcast
  mutable ``java.util.Random`` (``dfimplicits.scala:59-65``) — retry-safe
  (quirk Q3).
* **No per-row UDFs**: the reference's four scalar UDFs
  (``dfimplicits.scala:71-107``) become a broadcast hash join against a tiny
  hot-key frequency table plus ``floor(rand()*R)`` / ``explode(sequence())``
  — everything stays inside whole-stage codegen.
* **Exact hot-key map by default** (no CMS over-estimation → outer joins are
  exact, quirk Q4); CMS and sampling estimators are conf options for scales
  where even the hot-key histogram is expensive.

Scale design (100 TB, 1000 executors): the pre-pass is ONE job over just the
key columns of both sides (column-pruned scans, map-side partial aggregation,
top-K capped collect of at most ``max_hot_keys`` rows ≈ a few MB); the hot
table is broadcast; cold keys pay zero overhead (R=1, salt=0); AQE skew-join
remains available as the built-in alternative (``plans.aqe``).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, functions as F

from ..conf import SkewJoinConf, SkewType

# Internal helper columns (reference: JOIN_KEY/_join_key_nbRcsSD1FW + salts,
# dfimplicits.scala:18-21). Unlikely to collide with user columns.
_S1 = "__sj_salt1"
_S2 = "__sj_salt2"
_RL = "__sj_repl_left"
_RR = "__sj_repl_right"
_MARK = "__sj_marker"
# outer-join helpers: row markers + "key exists on the other side" flags
_LM = "__sj_lmark"
_RM = "__sj_rmark"
_HL = "__sj_has_left"
_HR = "__sj_has_right"

_SEMI = {"semi", "left_semi", "leftsemi"}
_ANTI = {"anti", "left_anti", "leftanti"}


def _normalize_on(on) -> list[tuple[str, str]]:
    """Accept a column name, a list of names, or a list of (left, right) pairs."""
    if isinstance(on, str):
        return [(on, on)]
    pairs = []
    for item in on:
        if isinstance(item, str):
            pairs.append((item, item))
        else:
            lc, rc = item
            pairs.append((lc, rc))
    if not pairs:
        raise ValueError("skew_join requires at least one join column")
    return pairs


def _num_partitions(df: DataFrame, conf: SkewJoinConf) -> int:
    """Replication cap. The reference uses defaultPartitioner(left.rdd,
    right.rdd).numPartitions (dfimplicits.scala:68) which materializes RDD
    lineage on wide plans; we read session config instead (SURVEY §7)."""
    if conf.num_partitions is not None:
        return conf.num_partitions
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return spark.sparkContext.defaultParallelism


def _hot_key_rows(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    conf: SkewJoinConf,
    cap: int,
) -> list[tuple]:
    """One combined frequency job over both inputs (the reference runs two —
    quirk Q6); returns rows (k0..kn, freq_left, freq_right) for keys hot on
    either side, top-``max_hot_keys`` by max-side frequency."""
    if conf.estimator == "cms":
        return _hot_key_rows_cms(left, right, keys, conf)

    thr = conf.effective_hot_threshold
    scale = 1.0
    if conf.estimator == "sample":
        frac = conf.sample_fraction
        left = left.sample(fraction=frac, seed=conf.cms_seed)
        right = right.sample(fraction=frac, seed=conf.cms_seed)
        scale = 1.0 / frac
        thr = max(1, int(thr * frac))

    aliases = [f"__k{i}" for i in range(len(keys))]
    lk = left.select(
        *[F.col(k).alias(a) for k, a in zip(keys, aliases)], F.lit(1).alias("__l")
    )
    rk = right.select(
        *[F.col(k).alias(a) for k, a in zip(keys, aliases)], F.lit(0).alias("__l")
    )
    counts = (
        lk.unionByName(rk)
        .groupBy(*aliases)
        .agg(
            F.sum("__l").alias("__cl"),
            F.sum(F.lit(1) - F.col("__l")).alias("__cr"),
        )
        .where(
            (F.col("__cl") >= F.lit(thr)) | (F.col("__cr") >= F.lit(thr))
        )
    )
    # null keys never equi-match — keep them out of the broadcast table
    for a in aliases:
        counts = counts.where(F.col(a).isNotNull())
    rows = (
        counts.orderBy(F.greatest("__cl", "__cr").desc(), *aliases)
        .limit(conf.max_hot_keys)
        .collect()
    )
    return [
        tuple(r[a] for a in aliases)
        + (int(r["__cl"] * scale), int(r["__cr"] * scale))
        for r in rows
    ]


def _hot_key_rows_cms(
    left: DataFrame, right: DataFrame, keys: Sequence[str], conf: SkewJoinConf
) -> list[tuple]:
    """CMS estimator: sketch each side (one JVM cell-count aggregation
    per ``cms_from_dataframe`` call, no Python worker), find
    hot-key *candidates* from a Bernoulli sample (a key with freq >= thr
    appears in a frac-sample w.p. 1-(1-frac)^thr ≈ 1), then look their
    frequencies up in the sketches driver-side. Nothing bigger than the
    83 KB sketches and the sampled key list ever reaches the driver."""
    from ..sketch.cms import cms_from_dataframe

    cms_l = cms_from_dataframe(
        left, list(keys), conf.cms_eps, conf.cms_delta, conf.cms_seed
    )
    cms_r = cms_from_dataframe(
        right, list(keys), conf.cms_eps, conf.cms_delta, conf.cms_seed
    )
    frac = conf.sample_fraction
    aliases = [f"__k{i}" for i in range(len(keys))]

    def sample_keys(df: DataFrame) -> DataFrame:
        out = df.sample(fraction=frac, seed=conf.cms_seed).select(
            *[F.col(k).alias(a) for k, a in zip(keys, aliases)]
        )
        for a in aliases:
            out = out.where(F.col(a).isNotNull())
        return out.distinct()

    candidates = (
        sample_keys(left)
        .unionByName(sample_keys(right))
        .distinct()
        .limit(conf.max_hot_keys * 4)
        .collect()
    )
    sep = "\x00"
    thr = conf.effective_hot_threshold
    out = []
    for r in candidates:
        key_vals = tuple(r[a] for a in aliases)
        composite = sep.join(str(v) for v in key_vals)
        cl, cr = cms_l.estimate(composite), cms_r.estimate(composite)
        if cl >= thr or cr >= thr:
            out.append(key_vals + (cl, cr))
    out.sort(key=lambda t: -max(t[-2], t[-1]))
    return out[: conf.max_hot_keys]


def skew_join(
    left: DataFrame,
    right: DataFrame,
    on,
    how: str = "inner",
    conf: SkewJoinConf | None = None,
) -> DataFrame:
    """Skew-mitigated equi-join, output ≡ ``left.join(right, on, how)``.

    ``on``: a column name, list of names, or list of ``(left_col, right_col)``
    pairs. Output follows USING semantics like the reference
    (``dfimplicits.scala:116-124``): one copy of the key columns (left names),
    then remaining left columns, then remaining right columns.

    All Spark join types are supported. inner/left/right/full run the salted
    join directly (exact-by-construction: every matching pair agrees on
    exactly one ``(salt1, salt2)`` combination — SURVEY §2 semantics
    paragraph). semi/anti cannot be salted naively (exploded copies would
    change multiplicity), so they run the salted *left* join against the
    distinct right key set plus a match marker — same skew resistance, exact
    multiplicity.
    """
    conf = conf or SkewJoinConf()
    pairs = _normalize_on(on)
    how_n = how.replace("_", "").lower()
    if how_n == "cross":
        raise ValueError(
            "skew_join is an equi-join; for cross joins use df.crossJoin "
            "(salting cannot help an unkeyed product)"
        )

    # normalize: right key columns take the left key names
    lnames = [p[0] for p in pairs]
    for lc, rc in pairs:
        if rc != lc:
            if lc in right.columns:
                raise ValueError(
                    f"cannot rename right key {rc!r} to {lc!r}: right already "
                    f"has a column named {lc!r}"
                )
            right = right.withColumnRenamed(rc, lc)

    drop_compat = False
    if conf.compat_concat_key:
        # Reference-faithful mode (SURVEY §7 hard part c): equi-join on the
        # separator-less concat key (dfimplicits.scala:46-47,116), dropping
        # the right side's original key columns like the reference's
        # USING-style cleanup (dfimplicits.scala:117-124). Reproduces concat
        # collisions and null-swallowing exactly (quirks Q1/Q2).
        ckey = F.concat(*[F.col(k).cast("string") for k in lnames])
        left = left.withColumn(_COMPAT_KEY, ckey)
        right = right.withColumn(_COMPAT_KEY, ckey).drop(*lnames)
        lnames = [_COMPAT_KEY]
        drop_compat = True

    if how_n in _SEMI or how_n in _ANTI:
        rk = right.select(*lnames).distinct().withColumn(_MARK, F.lit(1))
        joined = _salted_join(left, rk, lnames, "left", conf)
        pred = F.col(_MARK).isNotNull() if how_n in _SEMI else F.col(_MARK).isNull()
        out = joined.where(pred).select(*left.columns)
    else:
        out = _salted_join(left, right, lnames, how, conf)
    return out.drop(_COMPAT_KEY) if drop_compat else out


_COMPAT_KEY = "_join_key_nbRcsSD1FW"  # the reference's literal helper name


def _salted_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    how: str,
    conf: SkewJoinConf,
) -> DataFrame:
    spark = left.sparkSession
    cap = _num_partitions(left, conf)

    left_cols = list(left.columns)
    right_rest = [c for c in right.columns if c not in keys]
    dup = set(left_cols) & set(right_rest)
    if dup:
        raise ValueError(
            f"non-key column(s) {sorted(dup)} exist on both sides; rename or "
            "drop them before skew_join (output columns must be unambiguous)"
        )
    out_cols = left_cols + right_rest
    hot = _hot_key_rows(left, right, keys, conf, cap)

    # fragment counts per hot key, gated by skew side (SkewType.scala:14-28)
    rows = []
    for t in hot:
        kv, cl, cr = t[:-2], t[-2], t[-1]
        rl = conf.replication(cl, cap) if conf.skew_type.left else 1
        rr = conf.replication(cr, cap) if conf.skew_type.right else 1
        if rl > 1 or rr > 1:
            rows.append(kv + (rl, rr, cl > 0, cr > 0))

    if not rows:
        # no hot keys → the salted plan degenerates to the plain join;
        # skip the helper columns entirely (zero overhead for cold data)
        joined = left.join(right, on=list(keys), how=how)
        return joined.select(*out_cols)

    key_fields = left.select(*keys).schema
    from pyspark.sql import types as T

    how_pre = how.replace("_", "").lower()
    is_outer = how_pre in ("left", "leftouter", "right", "rightouter", "full", "fullouter", "outer")
    if is_outer and conf.estimator != "exact":
        # The outer-join phantom filter drops rows based on the _HL/_HR
        # presence flags; sketch estimators can overestimate a key onto a
        # side it doesn't exist on, which would silently delete legitimate
        # unmatched rows. Re-verify membership EXACTLY for the (few) hot
        # keys: one broadcast semi-join per side, scanning only hot-key rows.
        import warnings

        warnings.warn(
            f"skew_join: estimator={conf.estimator!r} with outer join — "
            "verifying hot-key side membership exactly (extra pass per side) "
            "so sketch overestimates cannot drop unmatched rows",
            stacklevel=3,
        )
        kdf = F.broadcast(
            spark.createDataFrame(
                [t[: len(keys)] for t in rows], schema=T.StructType(list(key_fields))
            )
        )
        present_l = {
            tuple(r)
            for r in left.join(kdf, on=list(keys), how="left_semi")
            .select(*keys).distinct().collect()
        }
        present_r = {
            tuple(r)
            for r in right.join(kdf, on=list(keys), how="left_semi")
            .select(*keys).distinct().collect()
        }
        rows = [
            t[: len(keys)]
            + (t[-4], t[-3], t[: len(keys)] in present_l, t[: len(keys)] in present_r)
            for t in rows
        ]

    hot_schema = T.StructType(
        list(key_fields)
        + [
            T.StructField(_RL, T.IntegerType(), False),
            T.StructField(_RR, T.IntegerType(), False),
            T.StructField(_HL, T.BooleanType(), False),
            T.StructField(_HR, T.BooleanType(), False),
        ]
    )
    hot_df = spark.createDataFrame(rows, schema=hot_schema)

    how_n = how.replace("_", "").lower()
    outer_left = how_n in ("left", "leftouter", "full", "fullouter", "outer")
    outer_right = how_n in ("right", "rightouter", "full", "fullouter", "outer")

    def attach(df: DataFrame, keep: list[str]) -> DataFrame:
        out = df.join(F.broadcast(hot_df), on=list(keys), how="left")
        out = out.withColumn(_RL, F.coalesce(F.col(_RL), F.lit(1))).withColumn(
            _RR, F.coalesce(F.col(_RR), F.lit(1))
        )
        for flag in (_HL, _HR):
            out = (
                out.withColumn(flag, F.coalesce(F.col(flag), F.lit(False)))
                if flag in keep
                else out.drop(flag)
            )
        return out

    # left rows: own fragment salt1 ∈ [0, R_L); replicate over salt2 = 0..R_R-1.
    # The left side carries the "key exists on right" flag (readable even on
    # rows whose right half is null-extended) and a row marker — used below
    # to remove phantom null-extended rows from outer joins.
    l2 = (
        attach(left, keep=[_HR])
        .withColumn(_S1, F.floor(F.rand(conf.salt_seed) * F.col(_RL)).cast("int"))
        .withColumn(_S2, F.explode(F.sequence(F.lit(0), F.col(_RR) - 1)))
        .withColumn(_LM, F.lit(1))
        .drop(_RL, _RR)
    )
    # right rows: mirror (dfimplicits.scala:83-114)
    r2 = (
        attach(right, keep=[_HL])
        .withColumn(_S2, F.floor(F.rand(conf.salt_seed + 1) * F.col(_RR)).cast("int"))
        .withColumn(_S1, F.explode(F.sequence(F.lit(0), F.col(_RL) - 1)))
        .withColumn(_RM, F.lit(1))
        .drop(_RL, _RR)
    )

    if conf.join_hint:
        r2 = r2.hint(conf.join_hint)
    joined = l2.join(r2, on=list(keys) + [_S1, _S2], how=how)

    # Outer-join phantom removal: a replicated/exploded copy that landed in a
    # salt bucket its partner side left empty is null-extended by the join,
    # but the key demonstrably exists on the other side (hot-map flag), so the
    # true join matches it — the copy is a phantom, not a legitimate
    # unmatched row. (The reference forwards joinType verbatim and ships this
    # bug, dfimplicits.scala:116; with estimator="exact" the flags are exact,
    # and with cms/sample the flags were re-verified exactly above for outer
    # joins — the filter always restores textbook outer-join semantics.)
    if outer_left:
        joined = joined.where(~(F.col(_RM).isNull() & F.col(_HR)))
    if outer_right:
        joined = joined.where(~(F.col(_LM).isNull() & F.col(_HL)))
    return joined.select(*out_cols)
