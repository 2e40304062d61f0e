"""Randomized differential for the sketch family: seeded random value
multisets evaluated by an INDEPENDENT pure-Python implementation of
each sketch (hashlib md5, integer bit-twiddling — no Spark
expressions), compared against the Spark operators in one job per
sketch.  The staged oracle pairs already pin Spark == DuckDB; this
pins both to the actual HLL/KMV/CMS definitions, the guard ADVICE r8
showed is needed (the BPE merge bug passed its bit-check because both
engines shared the same wrong expression).

Mutation teeth (checked by hand when authoring): breaking the Python
evaluator's rank by one (rem - len + 2), dropping the empty-register
term from sum_fp, or using the k-th instead of (k-1) in the KMV
scale each flips every group's compared cells."""

from __future__ import annotations

import hashlib
import math
import random

from pyspark.sql import functions as F

from file_d_spark.functions import sketch


def _counts(df, count_col: str):
    """The ``(v, <count_col>)`` value-count frame that ``sketch_suite``
    feeds ``_cms_from_counts`` (``n``) and ``_f2_from_counts`` (``f``):
    one row per non-null value of ``df.v``."""
    return (
        df.where(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias(count_col))
    )


def _h32(v: str) -> int:
    return int(hashlib.md5(v.encode()).hexdigest()[:8], 16)


def _py_hll(values, b):
    m = 1 << b
    rem = sketch.HASH_BITS - b
    regs = [0] * m
    for v in set(values):
        h = _h32(v)
        bucket = h & (m - 1)
        w = h >> b
        r = rem + 1 if w == 0 else rem - w.bit_length() + 1
        regs[bucket] = max(regs[bucket], r)
    zeros = sum(1 for x in regs if x == 0)
    sum_fp = sum(1 << (40 - x) for x in regs if x) + zeros * (1 << 40)
    coef = sketch.hll_alpha(m) * m * m * float(1 << 40)
    est = coef / sum_fp
    if est <= 2.5 * m and zeros > 0:
        est = m * math.log(m / zeros)
    return zeros, sum_fp, round(est, 4)


def _py_kmv(values, k):
    hs = sorted({_h32(v) for v in values})[:k]
    n = len(hs)
    if n < k:
        return n, None, float(n)
    kth = hs[-1]
    return n, kth, round((k - 1) * (1 << sketch.HASH_BITS) / kth, 4)


def _rand_corpus(seed, n_groups=6):
    rng = random.Random(seed)
    rows = []
    for g in range(n_groups):
        # group sizes straddle the HLL linear-counting threshold and
        # the KMV under-k fallback
        n = rng.choice([3, 17, 40, 300, 1500])
        vocab = rng.randrange(1, 10**6)
        for _ in range(n):
            rows.append((f"g{g}", f"w{vocab}_{rng.randrange(n * 2)}"))
    return rows


def test_hll_matches_pure_python(spark):
    rows = _rand_corpus(seed=0x48)
    df = spark.createDataFrame(rows, "g string, v string")
    for b in (4, 7, 9):
        got = {
            r.g: (r.zeros, r.sum_fp, r.estimate)
            for r in sketch.hll_distinct(df, "g", "v", b=b).collect()
        }
        by_g: dict = {}
        for g, v in rows:
            by_g.setdefault(g, []).append(v)
        want = {g: _py_hll(vs, b) for g, vs in by_g.items()}
        assert got == want, f"b={b}"


def test_kmv_matches_pure_python(spark):
    rows = _rand_corpus(seed=0x4B)
    df = spark.createDataFrame(rows, "g string, v string")
    for k in (8, 64):
        got = {
            r.g: (r.n_distinct_capped, r.kth_hash, r.estimate)
            for r in sketch.kmv_distinct(df, "g", "v", k=k).collect()
        }
        by_g: dict = {}
        for g, v in rows:
            by_g.setdefault(g, []).append(v)
        want = {g: _py_kmv(vs, k) for g, vs in by_g.items()}
        assert got == want, f"k={k}"


def test_cms_matches_pure_python(spark):
    rng = random.Random(0x434D)
    rows = [(f"w{rng.randrange(200)}",) for _ in range(4000)]
    depth, width, k = 3, 64, 8
    df = spark.createDataFrame(rows, "v string")
    got = {
        r.v: (r.exact_count, r.cms_estimate)
        for r in sketch._cms_from_counts(
            _counts(df, "n"), "v", depth=depth, width=width, k=k
        ).collect()
    }
    counts: dict = {}
    for (v,) in rows:
        counts[v] = counts.get(v, 0) + 1
    table = [[0] * width for _ in range(depth)]
    for v, n in counts.items():
        for r in range(depth):
            table[r][_h32(f"{v}#{r}") % width] += n
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    want = {
        v: (n, min(table[r][_h32(f"{v}#{r}") % width] for r in range(depth)))
        for v, n in top
    }
    assert got == want


def test_overlap_matches_pure_python(spark):
    rng = random.Random(0x4F56)
    a_vals = {f"v{rng.randrange(3000)}" for _ in range(1200)}
    b_vals = {f"v{rng.randrange(3000) + 1500}" for _ in range(1200)}
    k = 64
    a = spark.createDataFrame([(v,) for v in a_vals], "v string")
    b = spark.createDataFrame([(v,) for v in b_vals], "v string")
    got = sketch.kmv_overlap(a, b, "v", k=k).first()

    ah = {_h32(v) for v in a_vals}
    bh = {_h32(v) for v in b_vals}
    a_sk, b_sk = set(sorted(ah)[:k]), set(sorted(bh)[:k])
    merged = sorted(a_sk | b_sk)[:k]
    k_used = len(merged)
    common = sum(1 for h in merged if h in a_sk and h in b_sk)
    jac = common / k_used
    if k_used < k:
        union = float(k_used)
    else:
        union = (k - 1) * (1 << sketch.HASH_BITS) / merged[-1]
    assert (got.k_used, got.kth_hash, got.common) == (
        k_used, merged[-1], common,
    )
    assert got.jaccard == round(jac, 6)
    assert got.union_est == round(union, 4)
    assert got.intersection_est == round(jac * union, 4)


def _py_f2(values, reps):
    from collections import Counter

    counts = Counter(values)
    exact = sum(f * f for f in counts.values())
    sq_sum = 0
    for r in range(reps):
        x = sum(
            (1 - 2 * (_h32(f"{v}#r{r}") & 1)) * f
            for v, f in counts.items()
        )
        sq_sum += x * x
    return exact, round(sq_sum / float(reps), 4)


def test_f2_matches_pure_python(spark):
    """AMS F2 vs an independent Python evaluator (mutation teeth,
    checked when authoring: flipping the sign convention to
    2*(h&1)-1 changes nothing — signs are symmetric — but shifting
    the rep salt to '#'||r, dropping a rep, or squaring in the wrong
    place each flips the estimate; breaking exact's f*f flips
    f2_exact)."""
    for seed in (0xF2, 0xF3):
        rows = [v for _, v in _rand_corpus(seed=seed)]
        df = spark.createDataFrame([(v,) for v in rows], "v string")
        for reps in (8, 16):
            got = sketch._f2_from_counts(_counts(df, "f"), reps=reps).first()
            exact, est = _py_f2(rows, reps)
            assert got.reps == reps
            assert got.f2_exact == exact
            assert got.f2_estimate == est
        # the estimate should land within the AMS variance envelope:
        # Var(X²)<=2·F2², mean of `reps` trials -> sd <= F2·sqrt(2/reps)
        rel = abs(est - exact) / exact
        assert rel < 4 * math.sqrt(2.0 / 16)


def test_f2_null_and_empty(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "v string"
    )
    got = sketch._f2_from_counts(_counts(df, "f"), reps=8).first()
    assert got.f2_exact == 5  # 2² + 1² — the null row contributes 0
