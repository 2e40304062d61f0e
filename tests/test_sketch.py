"""Sketch family (functions/sketch.py): estimator branches, accuracy
envelopes, and the CMS overestimate invariant.  The cross-engine
bit-equality of all three sketches is covered continuously by
tests/test_staged_queries.py (sketch_* staged pairs)."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from file_d_spark.functions import sketch


def _vals(spark, n, group="g"):
    return spark.range(n).select(
        F.lit(group).alias("grp"), F.concat(F.lit("v"), "id").alias("v")
    )


def test_hll_small_range_uses_linear_counting(spark):
    """A handful of distinct values leaves most registers empty: the
    estimate must come from the m*ln(m/zeros) branch and sit near the
    true count."""
    out = sketch.hll_distinct(_vals(spark, 20), "grp", "v", b=9).first()
    assert out.zeros >= 512 - 20
    want = 512.0 * math.log(512.0 / out.zeros)
    assert out.estimate == pytest.approx(want, abs=1e-3)
    assert abs(out.estimate - 20) / 20 < 0.15


def test_hll_accuracy_envelope(spark):
    """At n >> m the raw estimator takes over; HLL's relative error is
    ~1.04/sqrt(m) (≈4.6% at m=512) — allow 4 sigma."""
    out = sketch.hll_distinct(_vals(spark, 20000), "grp", "v", b=9).first()
    assert out.zeros == 0 or out.estimate > 1280.0
    assert abs(out.estimate - 20000) / 20000 < 4 * 1.04 / math.sqrt(512)


def test_hll_duplicates_do_not_move_registers(spark):
    one = sketch.hll_distinct(_vals(spark, 500), "grp", "v", b=9).first()
    dup = sketch.hll_distinct(
        _vals(spark, 500).union(_vals(spark, 500)), "grp", "v", b=9
    ).first()
    assert (one.sum_fp, one.zeros, one.estimate) == (
        dup.sum_fp, dup.zeros, dup.estimate,
    )


def test_kmv_under_k_returns_exact(spark):
    out = sketch.kmv_distinct(_vals(spark, 30), "grp", "v", k=64).first()
    assert out.n_distinct_capped == 30
    assert out.kth_hash is None
    assert out.estimate == 30.0


def test_kmv_estimate_envelope(spark):
    out = sketch.kmv_distinct(_vals(spark, 5000), "grp", "v", k=64).first()
    assert out.n_distinct_capped == 64
    assert out.kth_hash is not None
    # KMV relative error ~1/sqrt(k-2) ≈ 12.7% at k=64; allow 4 sigma
    assert abs(out.estimate - 5000) / 5000 < 4 / math.sqrt(62)


def test_kmv_overlap_estimates_known_jaccard(spark):
    """Two 3000-value sets sharing 1000 values: true Jaccard 0.2,
    union 5000, intersection 1000.  k=256 → rel error ~1/sqrt(k)≈6%;
    allow a loose 4-sigma band on each estimate."""
    a = spark.range(0, 3000).select(F.concat(F.lit("v"), "id").alias("v"))
    b = spark.range(2000, 5000).select(
        F.concat(F.lit("v"), "id").alias("v")
    )
    out = sketch.kmv_overlap(a, b, "v", k=256).first()
    assert out.k_used == 256
    assert abs(out.jaccard - 0.2) < 0.1
    assert abs(out.union_est - 5000) / 5000 < 0.25
    assert abs(out.intersection_est - 1000) / 1000 < 0.5


def test_kmv_overlap_disjoint_and_identical(spark):
    a = spark.range(0, 2000).select(F.concat(F.lit("x"), "id").alias("v"))
    b = spark.range(2000, 4000).select(
        F.concat(F.lit("x"), "id").alias("v")
    )
    assert sketch.kmv_overlap(a, b, "v", k=128).first().jaccard == 0.0
    same = sketch.kmv_overlap(a, a, "v", k=128).first()
    assert same.jaccard == 1.0
    assert same.common == 128


def test_cms_estimate_never_underestimates(spark):
    """The defining CMS invariant: point queries only overestimate."""
    rows = [("hot",)] * 200 + [("warm",)] * 50 + [
        (f"tail{i}",) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "w string")
    counts = df.groupBy(F.col("w").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    out = sketch._cms_from_counts(counts, "w", depth=4, width=256, k=5).collect()
    by_v = {r.w: r for r in out}
    assert by_v["hot"].exact_count == 200
    assert by_v["warm"].exact_count == 50
    for r in out:
        assert r.cms_estimate >= r.exact_count
    # 4x256 counters against ~700 rows: the heavy hitters' estimates
    # stay tight (min over 4 rows suppresses collisions)
    assert by_v["hot"].cms_estimate <= 200 + 30


def test_null_values_dropped_everywhere(spark):
    """ADVICE r9: a null value contributes nothing to a distinct
    count.  Every sketch must produce the SAME output with null rows
    injected — previously a null hashed to a null bucket/hash row that
    skewed zeros (HLL) and stole a NULLS-FIRST k-slot (KMV/overlap)."""
    clean = _vals(spark, 300)
    nulled = clean.union(
        spark.range(3).select(
            F.lit("g").alias("grp"), F.lit(None).cast("string").alias("v")
        )
    )
    h_clean = sketch.hll_distinct(clean, "grp", "v", b=9).first()
    h_null = sketch.hll_distinct(nulled, "grp", "v", b=9).first()
    assert (h_clean.zeros, h_clean.sum_fp, h_clean.estimate) == (
        h_null.zeros, h_null.sum_fp, h_null.estimate,
    )
    k_clean = sketch.kmv_distinct(clean, "grp", "v", k=64).first()
    k_null = sketch.kmv_distinct(nulled, "grp", "v", k=64).first()
    assert (k_clean.n_distinct_capped, k_clean.kth_hash, k_clean.estimate) \
        == (k_null.n_distinct_capped, k_null.kth_hash, k_null.estimate)
    o_clean = sketch.kmv_overlap(clean, _vals(spark, 150), "v", k=64).first()
    o_null = sketch.kmv_overlap(nulled, _vals(spark, 150), "v", k=64).first()
    assert (o_clean.k_used, o_clean.kth_hash, o_clean.common) == (
        o_null.k_used, o_null.kth_hash, o_null.common,
    )
