"""Embedding quantization operators (functions/similarity.py):
scalar quantization and product quantization — code ranges,
reconstruction-error bounds, determinism, and validation."""

import pytest
from pyspark.sql import functions as F

from file_d_spark.functions import similarity
from file_d_spark.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_scalar_quantize_error_bound(spark, emb):
    """Uniform quantization error per component is at most half a step,
    so mse <= max_dim_range^2 / (4 * (levels-1)^2)."""
    rows = similarity.scalar_quantize(emb, levels=256).collect()
    stats = (
        emb.select(F.posexplode("embedding").alias("d", "v"))
        .groupBy("d")
        .agg((F.max("v") - F.min("v")).alias("range"))
        .agg(F.max("range"))
        .collect()[0][0]
    )
    bound = (float(stats) / 255.0) ** 2 / 4.0 + 1e-12
    assert rows, "no vectors quantized"
    assert all(r.quant_mse <= bound for r in rows)
    n_dims = len(emb.select("embedding").first()[0])
    assert all(0 <= r.code_sum <= 255 * n_dims for r in rows)


def test_scalar_quantize_more_levels_less_error(spark, emb):
    coarse = {
        r.vec_id: r.quant_mse
        for r in similarity.scalar_quantize(emb, levels=4).collect()
    }
    fine = {
        r.vec_id: r.quant_mse
        for r in similarity.scalar_quantize(emb, levels=256).collect()
    }
    tot_c = sum(coarse.values())
    tot_f = sum(fine.values())
    assert tot_f < tot_c, f"256 levels not better than 4: {tot_f} vs {tot_c}"


def test_product_quantize_codes_and_determinism(spark, emb):
    a = {r.vec_id: (r.pq_code, r.quant_mse)
         for r in similarity.product_quantize(emb, m=8, k=16).collect()}
    b = {r.vec_id: (r.pq_code, r.quant_mse)
         for r in similarity.product_quantize(emb, m=8, k=16).collect()}
    assert a == b  # deterministic codebook => identical codes
    assert all(0 <= code < 16 ** 8 for code, _ in a.values())
    assert all(mse >= 0 for _, mse in a.values())


def test_product_quantize_seed_vectors_zero_error(spark, emb):
    """The codebook vectors quantize to themselves: every subspace has
    an exact centroid match, so their reconstruction error is 0."""
    seed_ids = [
        r.vec_id
        for r in emb.select("vec_id")
        .orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(16)
        .collect()
    ]
    got = {
        r.vec_id: r.quant_mse
        for r in similarity.product_quantize(emb, m=8, k=16).collect()
    }
    for vid in seed_ids:
        assert got[vid] == 0.0, f"seed vector {vid} has nonzero error"


def test_product_quantize_more_codes_less_error(spark, emb):
    k2 = sum(
        r.quant_mse for r in similarity.product_quantize(emb, m=8, k=2).collect()
    )
    k16 = sum(
        r.quant_mse for r in similarity.product_quantize(emb, m=8, k=16).collect()
    )
    assert k16 < k2


def test_product_quantize_validates_m(emb):
    with pytest.raises(ValueError, match="m must divide dim"):
        similarity.product_quantize(emb, dim=64, m=7)


def test_product_quantize_broadcast_model_equivalence(spark, emb):
    """Above model_max_literal_floats the codebook ships as a broadcast
    one-row frame instead of SQL literals; results must be IDENTICAL,
    and the big-model plan must actually use the broadcast (no
    multi-MB literal expression tree in the task binary)."""
    lit = {
        (r.vec_id, r.pq_code, r.quant_mse)
        for r in similarity.product_quantize(
            emb, m=8, k=16, model_max_literal_floats=10**9
        ).collect()
    }
    bc_df = similarity.product_quantize(
        emb, m=8, k=16, model_max_literal_floats=0
    )
    plan = bc_df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan, "big-model path did not broadcast the codebook"
    bc = {(r.vec_id, r.pq_code, r.quant_mse) for r in bc_df.collect()}
    assert lit == bc


def test_product_quantize_boundary_picks_literal(spark, emb):
    """At exactly the threshold (m*k*sub == limit) the literal path is
    used — no join in the plan."""
    total = 8 * 16 * 8  # m * k * sub for dim=64
    df = similarity.product_quantize(
        emb, m=8, k=16, model_max_literal_floats=total
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Broadcast" not in plan


def test_ivf_assign_matches_topk_assignment(spark, emb):
    """ivf_assign (the exposed build half) must reproduce ivf_topk's
    internal assignment: every list id in [0, n_lists), deterministic
    across calls, and the keep-columns passthrough of scalar_quantize
    preserves it unchanged."""
    a1 = {r.vec_id: r.list_id for r in similarity.ivf_assign(emb, 16).collect()}
    a2 = {r.vec_id: r.list_id for r in similarity.ivf_assign(emb, 16).collect()}
    assert a1 == a2 and a1
    assert all(0 <= v < 16 for v in a1.values())
    sq = similarity.scalar_quantize(
        similarity.ivf_assign(emb, 16), keep=["list_id"]
    )
    got = {r.vec_id: r.list_id for r in sq.collect()}
    assert got == a1


# --------------------------------------------------------------------------
# kmeans_embeddings (fixed-point Lloyd's)
# --------------------------------------------------------------------------


def test_kmeans_deterministic_across_runs(spark, sf_dir):
    from file_d_spark.functions import similarity
    from file_d_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, similarity.kmeans_embeddings(e, k=4, iters=2).collect()))
    b = sorted(map(tuple, similarity.kmeans_embeddings(e, k=4, iters=2).collect()))
    assert a == b
    assert sum(r[1] for r in a) == e.count()  # every vector assigned


def test_kmeans_iterations_do_not_increase_distortion(spark, sf_dir):
    """Lloyd's monotonicity (up to the integer-rounding of centroids):
    more update steps must not make the clustering meaningfully worse."""
    from file_d_spark.functions import similarity
    from file_d_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")

    def distortion(iters):
        rows = similarity.kmeans_embeddings(e, k=8, iters=iters).collect()
        n = sum(r.n_vectors for r in rows)
        return sum(r.avg_sq_dist * r.n_vectors for r in rows) / n

    d1, d2 = distortion(1), distortion(2)
    assert d2 <= d1 * 1.001, (d1, d2)


def test_kmeans_empty_cluster_keeps_seed_centroid(spark):
    """Two distinct points, k=3: one centroid never wins a vector and
    must keep its seed position instead of crashing or going NaN."""
    from file_d_spark.functions import similarity

    rows = [(i, [0.0] * 4) for i in range(5)] + [
        (10 + i, [1.0] * 4) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.kmeans_embeddings(df, k=3, iters=2).collect()
    assert sum(r.n_vectors for r in out) == 10
    assert all(r.avg_sq_dist == 0.0 for r in out)  # points sit on centroids


def test_kmeans_empty_corpus_raises(spark):
    import pytest

    from file_d_spark.functions import similarity

    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        similarity.kmeans_embeddings(df, k=2, iters=1)


def test_kmeans_fast_path_matches_distributed(spark, sf_dir):
    """The r13 bounded-corpus fast path (driver-side exact-integer
    Lloyd's) must be bit-identical to the distributed loop — same
    md5-ordered seed, same integer sums, same truncating division,
    same first-min tie-break, same keep-previous-centroid rule."""
    from file_d_spark.functions import similarity
    from file_d_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    old = similarity.KMEANS_FAST_MAX_ROWS
    try:
        similarity.KMEANS_FAST_MAX_ROWS = 1_000_000
        fast = sorted(
            map(tuple, similarity.kmeans_embeddings(e, k=8, iters=2).collect())
        )
        similarity.KMEANS_FAST_MAX_ROWS = 0  # force the distributed loop
        slow = sorted(
            map(tuple, similarity.kmeans_embeddings(e, k=8, iters=2).collect())
        )
    finally:
        similarity.KMEANS_FAST_MAX_ROWS = old
    assert fast == slow


def test_product_quantize_midrange_routes_to_broadcast(spark, emb):
    """The fused-codegen cliff guard (r12 review): a shape whose
    staged column count stays UNDER the whole-stage fusion cutoff but
    whose chain volume exceeds the verified-compiling bound (m*k*sub
    > 512) must route to the broadcast-HOF path rather than silently
    re-entering the 64 KB Janino failure — m=4, k=24, sub=16 stages
    97 columns (<= 100) with 1536 terms."""
    df = similarity.product_quantize(
        emb, dim=64, m=4, k=24, model_max_literal_floats=10**9
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan, "mid-range shape did not take the HOF path"
