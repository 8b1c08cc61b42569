"""Round-14 optimization pins.

- The numpy XXH64 fast-path minhash signature equals the JVM
  ``F.min(F.xxhash64(shingle_hash, lit(i)))`` form value-for-value
  (r13 verdict #3 — the md5 twin already had this pin; the fast path's
  main consumer ``dedup_minhash_lsh`` is rows-only, so a numpy edge
  regression would otherwise drift silently).
- The survival Newton fitters' bounded-grid guard: past
  ``_GRID_DRIVER_MAX`` rows every fit runs the same kernel per
  partition, and both branches emit identical results for every
  caller (r13 verdict #2 — distinct event times are data-sized, so the
  driver collect must be capped); the Fine-Gray readers honour
  ``digits`` on both branches.
- The driver-side reduction order is deterministic by construction:
  any input partitioning yields bit-identical unrounded emissions
  (r13 verdict #1 — collect order varies with partition layout, which
  is exactly what flipped surv_cox_multi's driver record).
- Divergent Newton steps (huge beta) emit NULL like Spark's
  inf -> NaN arithmetic instead of raising OverflowError (ADVICE r13).
- The logistic fit's CSR segment sum is exact when trailing rows are
  empty, and the float-stream audit strips only ``round(..., digits)``
  calls from the oracle SQL.
"""

from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import clinpy_spark.operators.survival as surv


def _mixed_docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy cat"),
        Row(doc_id=3, text="completely different content here with words"),
        Row(doc_id=4, text=""),          # empty text -> single shingle
        Row(doc_id=5, text="one two"),   # fewer tokens than shingle_n
        Row(doc_id=6, text="  spaced   out    tokens   everywhere  "),
    ]
    return spark.createDataFrame(rows)


def test_minhash_fast_signature_matches_jvm_xxhash64(spark):
    # value-for-value pin of the vectorized XXH64 signature against the
    # explode + F.min(F.xxhash64(h, lit(i))) JVM form it replaced
    from clinpy_spark.functions.text import hashed_shingles_from, token_hashes
    from clinpy_spark.operators.dedup import minhash_signature

    df = _mixed_docs(spark)
    nh = 16
    got = {
        r["doc_id"]: list(r["minhash"])
        for r in minhash_signature(
            df, "doc_id", "text", num_hashes=nh, shingle_n=3).collect()
    }

    sh = df.select(
        "doc_id", token_hashes("text").alias("__th")
    ).select(
        "doc_id",
        F.explode(F.array_distinct(
            hashed_shingles_from("__th", 3))).alias("__h"),
    )
    ref_rows = sh.groupBy("doc_id").agg(*[
        F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"m{i}")
        for i in range(nh)
    ]).collect()
    ref = {r["doc_id"]: [r[f"m{i}"] for i in range(nh)] for r in ref_rows}

    assert set(got) == set(ref)
    for k in ref:
        assert got[k] == ref[k], k


def _cohort(spark, n=40):
    # deterministic small cohort with many distinct event times
    rows = []
    for i in range(n):
        rows.append(Row(
            t=float(i % 17 + 1) + (0.5 if i % 5 == 0 else 0.0),
            e=1 if i % 3 != 0 else 0,
            x=1.0 if i % 2 == 0 else 0.0,
            x2=float((i // 2) % 2),
            x3=float(i % 3),
        ))
    return spark.createDataFrame(rows)


@contextmanager
def _past_cap(spark, monkeypatch):
    # force the past-the-cap branch, and keep AQE from coalescing the
    # small test grid into one partition so the per-partition partials
    # really get folded
    monkeypatch.setattr(surv, "_GRID_DRIVER_MAX", 0)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _fg(df):
    # status 1 = event, 2 = competing (about half the non-events),
    # 0 = censored
    return df.withColumn("st", F.when(F.col("e") == 1, 1)
                         .when(F.col("x2") == 1.0, 2).otherwise(0))


_BINARY_FITS = {
    "cox_newton": lambda df: surv.cox_newton(df, "t", "e", "x", 3),
    "cox_newton_stratified": lambda df: surv.cox_newton_stratified(
        df, "t", "e", "x", "x3", 3),
    "cox_newton_tv": lambda df: surv.cox_newton_tv(
        df.withColumn("a", F.lit(0.0)), "a", "t", "e", "x", 3),
    "cox_ph_check": lambda df: surv.cox_ph_check(df, "t", "e", "x", 3),
    "finegray_newton": lambda df: surv.finegray_newton(
        _fg(df), "t", "st", "x", 3),
    "finegray_score": lambda df: surv.finegray_score(_fg(df), "t", "st", "x"),
}


@pytest.mark.parametrize("fit", list(_BINARY_FITS))
def test_newton_beta_fallback_matches_driver(spark, monkeypatch, fit):
    df = _cohort(spark)
    fast = _BINARY_FITS[fit](df).collect()
    with _past_cap(spark, monkeypatch):
        slow = _BINARY_FITS[fit](df).collect()
    assert fast[0]["n_events"] > 0
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


def test_finegray_fallback_honours_digits(spark, monkeypatch):
    # ADVICE r14 #2: past the cap both Fine-Gray readers used to
    # hard-code round-6, whatever ``digits`` asked for
    leav = surv.finegray_leavers(_fg(_cohort(spark)), "t", "st", "x")
    readers = (surv.finegray_score_from_leavers,
               surv.finegray_newton_from_leavers)
    fast6 = [tuple(r(leav).collect()[0]) for r in readers]
    fast_raw = [tuple(r(leav, digits=None).collect()[0]) for r in readers]
    with _past_cap(spark, monkeypatch):
        assert [tuple(r(leav, digits=6).collect()[0])
                for r in readers] == fast6
        for r, want in zip(readers, fast_raw):
            got = tuple(r(leav, digits=None).collect()[0])
            assert got == pytest.approx(want, rel=1e-12, abs=0.0)
            assert any(isinstance(v, float) and v != round(v, 6)
                       for v in got)


def test_cox_multi_fallback_matches_driver(spark, monkeypatch):
    from clinpy_spark.operators.survival import cox_newton_multi

    df = _cohort(spark)
    fast = cox_newton_multi(df, "t", "e", ["x", "x2", "x3"],
                            iterations=4).collect()
    with _past_cap(spark, monkeypatch):
        slow = cox_newton_multi(df, "t", "e", ["x", "x2", "x3"],
                                iterations=4).collect()
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


def test_cox_multi_reduction_order_partition_invariant(spark):
    # the r13 driver red record's root cause: collect order depends on
    # partition layout. The sorted reduction must emit bit-identical
    # UNROUNDED values under any repartitioning of the input.
    from clinpy_spark.operators.survival import cox_newton_multi

    df = _cohort(spark, n=60)
    base = None
    for parts in (1, 3, 7):
        out = cox_newton_multi(
            df.repartition(parts), "t", "e", ["x", "x2"],
            iterations=4, digits=None).collect()[0]
        vals = tuple(out)
        if base is None:
            base = vals
        else:
            assert vals == base, parts

    # the binary fit (ADVICE r14 #3): the grid rows arrive in the
    # partition layout's collect order and are sorted by __t before any
    # float accumulates
    grid = surv._binary_event_grid(df, "t", "e", "x")
    fits = {parts: surv._binary_fit(
        surv._grid_runner(grid.repartition(parts)), 3)
        for parts in (1, 3, 7)}
    assert fits[1][0] is not None
    assert fits[3] == fits[1] and fits[7] == fits[1]


def test_py_shingle_set_matches_jvm_shingles(spark):
    # the portable minhash signature now builds shingles inside its
    # Arrow pass; the Python twin must match array_distinct(shingles())
    # exactly — any string diff silently changes the md5 signature
    from clinpy_spark.functions.text import py_shingle_set, shingles

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "",
        " ",
        "one two",
        "one",
        "  leading and trailing  ",
        "\tleading tab",
        "internal\ttab and\nnewline and\x0bvtab and\fform and\rcr",
        "Mixed CASE Tokens HERE and MORE of THEM",
        "repeat repeat repeat repeat repeat repeat",
        "unicode café ÉCLAIR straße tokens here",
        "double  space   collapse    everywhere here now",
        "a b c d e f g h i j",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    for n in (2, 3, 5):
        jvm = {r["i"]: set(r["sh"]) for r in df.select(
            "i", F.array_distinct(shingles("text", n)).alias("sh")
        ).collect()}
        for i, t in enumerate(texts):
            assert py_shingle_set(t, n) == jvm[i], (n, i, t)


def test_newton_divergence_emits_null_not_overflow(spark, monkeypatch):
    # a grid whose first Newton step is ~1e12 pushes exp(beta) past the
    # float range on step 2: Spark arithmetic propagates
    # inf -> NaN -> NULL; the kernel must do the same on both branches,
    # not raise
    grid = spark.createDataFrame(
        [Row(__t=1.0, n=10**12, n1=1, d=1, d1=1)])
    fit = surv._binary_fit(surv._grid_runner(grid), 3)
    with _past_cap(spark, monkeypatch):
        slow = surv._binary_fit(surv._grid_runner(grid), 3)
    for f in (fit, slow):
        out = surv._emit_binary_fit(spark.range(1), *f).collect()
        assert len(out) == 1 and out[0]["beta"] is None


def test_logistic_segment_sum_exact_with_empty_trailing_rows():
    # ADVICE r14 #1: the clamped reduceat dropped the last feature term
    # of the final non-empty row when trailing rows are empty
    from clinpy_spark.operators.classify import _segment_sum

    z = _segment_sum(np.array([0, 3, 3]), np.array([1.0, 2.0, 4.0]))
    assert z.tolist() == [7.0, 0.0]
    assert _segment_sum(np.array([0, 0, 2, 2, 3]),
                        np.array([1.0, 2.0, 4.0])).tolist() == [
        0.0, 3.0, 0.0, 4.0]
    assert _segment_sum(np.array([0, 0]), np.array([])).tolist() == [0.0]


def test_strip_round_leaves_unrelated_digit_args():
    # ADVICE r14 #4: only round(..., digits)'s own ", digits)" goes
    from tools.audit_float_streams import _strip_round

    sql = ("SELECT round(sum(x * (1 - y)), 6) AS a, substr(s, 1, 6) AS b,"
           " round(exp(round(y, 6)), 6) AS c, round(z, 9) AS d,"
           " ROUND(w, 6) AS e, around(v, 6) AS f, ')' AS g FROM t")
    assert _strip_round(sql, 6) == (
        "SELECT (sum(x * (1 - y))) AS a, substr(s, 1, 6) AS b,"
        " (exp((y))) AS c, round(z, 9) AS d,"
        " (w) AS e, around(v, 6) AS f, ')' AS g FROM t")
