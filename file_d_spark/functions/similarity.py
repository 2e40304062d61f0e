"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline: a broadcast of
the (small) query set against the full corpus — one narrow pass, no
shuffle except the final per-query top-k.  The scale path is
LSH-bucketed search (random-hyperplane signatures, deterministic
seeds): candidates come from hamming-band equi-joins, then exact
rerank; probes expand buckets until k neighbors are found.

All vector math stays JVM-side: zip_with/aggregate over array columns
— no Python UDF in the scoring loop.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from file_d_spark.cachereg import register as _register_cache


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_lit(vec: Column, plane: list[float]) -> Column:
    """Dot product against a CONSTANT vector.  The literal array folds
    to a single Literal, so this is one zip_with/aggregate pass per
    row.  (Unrolling to a scalar multiply-add chain is a trap: 16
    planes x 64 dims builds a ~3 MB expression tree per task that blows
    the codegen method limit and evaluates interpreted, measured 5x
    SLOWER than the folded-literal HOF form.)  The literal ships as a
    1-D float64 ndarray: py4j converts it to Array[Double] in ONE call
    and F.lit yields the folded array Literal directly — F.lit(list)
    expands Python-side to array(*[lit(x)...]), i.e. ~65 round trips
    (~60 ms) per plane at dim=64, which multiplied into seconds for
    multi-plane callers (16-48 planes)."""
    return dot(vec, F.lit(np.asarray(plane, dtype="float64")))


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sim: float | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries`` is expected to be small (it is broadcast); the corpus
    scan is embarrassingly parallel and the only shuffle is the
    per-query window for rank.

    ``max_sim`` (optional) drops candidates at cosine >= the bound
    BEFORE ranking — the hard-negative-mining band
    (:func:`hard_negatives` is this with the bound required).
    """
    from file_d_spark.functions.dedup import spread
    from file_d_spark.functions.sqlexpr import dot_sql, norm_sql

    # projections + pair score as SQL text (r14): the dot/norm Column
    # algebra cost ~45 py4j trips per call site per plan build; parsed
    # trees are identical, so sims are bit-equal
    q = queries.selectExpr(
        f"`{id_col}` AS query_id",
        f"`{vec_col}` AS q_vec",
        f"{norm_sql(f'`{vec_col}`')} AS q_norm",
    )
    c = spread(corpus).selectExpr(
        f"`{id_col}` AS neighbor_id",
        f"`{vec_col}` AS c_vec",
        f"{norm_sql(f'`{vec_col}`')} AS c_norm",
    )
    # norms computed ONCE per row on each side — cosine() inline would
    # re-derive |q| and |c| per PAIR (3x the array traversals)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.expr(f"{dot_sql('q_vec', 'c_vec')} / (q_norm * c_norm)"),
        )
    )
    if max_sim is not None:
        scored = scored.filter(F.col("sim") < max_sim)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("sim", 6).alias("sim"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dup_sim: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-``k`` MOST similar corpus vectors whose cosine is
    strictly BELOW ``dup_sim``.  The band ``sim >= dup_sim`` is the
    near-duplicate / likely-positive zone — mining those as negatives
    poisons a contrastive objective with false negatives, so they are
    excluded and the ranking continues just under the band (the
    standard retrieval-finetuning recipe).

    IS :func:`brute_force_topk` with the band filter before the
    per-query rank window (one shared implementation — ``max_sim``):
    queries broadcast, one narrow corpus pass, the only shuffle is the
    per-query top-k.  At 100 TB swap the candidate pass for
    :func:`lsh_topk`'s banded join and keep the same band filter on
    the exact rerank."""
    return brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        max_sim=dup_sim,
    )


def cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: all (a, b) with cosine >=
    threshold.  Exact all-pairs via broadcast nested-loop (corpus side
    spread across cores); the LSH-banded variant (rh_signature buckets)
    is the 100 TB path — this is the verification/oracle baseline."""
    from file_d_spark.functions.dedup import spread

    # pre-cast each side to double ONCE per row — the per-pair dot
    # below otherwise re-casts every element once per candidate pair
    # (n² element casts; the same single-cast win bitext_mine measured
    # at r9).  cast(float->double) is exact, so sim is bit-identical.
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    a = spread(corpus).select(
        F.col(id_col).alias("id_a"),
        dvec.alias("vec_a"),
        norm(F.col(vec_col)).alias("norm_a"),
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"),
        dvec.alias("vec_b"),
        norm(F.col(vec_col)).alias("norm_b"),
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            dot(F.col("vec_a"), F.col("vec_b"))
            / (F.col("norm_a") * F.col("norm_b")),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def banded_cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    planes: int = 48,
    bands: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The 100 TB twin of :func:`cosine_pairs`: random-hyperplane
    LSH-banded candidate generation + exact cosine rerank, same output
    contract (id_a < id_b, ``sim`` rounded to 6).

    Shape: signatures come from ONE broadcast hyperplane model (the
    ``lsh_topk`` migration — literal-embedded planes cost seconds of
    py4j plan build), candidates are a self equi-join of compact
    (id, band, val) rows — ids and one long each, never the vectors —
    deduped to distinct (id_a, id_b) before the vectors are joined
    back for the exact rerank.  Every join is an equi-join on
    hash-spread keys.

    Pruning vs recall — the standard LSH knob, set by per_band =
    planes/bands.  The DEFAULT (48 planes / 12 bands = 4-bit bands,
    the regime measured on the x10 decade row in SCALE.md) actually
    prunes: each band splits ids over 16 buckets, so a random pair
    collides in a given band with P ~ (1-acos(s)/pi)^4 and the
    self-join volume is bucket-bounded.  per_band = 1 (e.g. 16/16) is
    the RECALL-COMPLETE parity regime — a pair at cosine s escapes
    all 16 sign bits with P = (acos(s)/pi)^16 < 1e-7 at s = 0.45, so
    banded == exact at fixture scale (asserted in tests) — but each
    1-bit band has only TWO buckets holding ~n/2 ids each, so the
    candidate join degenerates to ~n² intermediate rows: use it for
    parity testing, never at scale.  Output correctness never depends
    on the knob (candidates are exact-reranked; only misses are
    possible); recall at the default, eps=0.35, x10 row: 0.877
    (SCALE.md).

    BEHAVIOR CHANGE (r12): the defaults moved from the
    recall-complete 16/16 to the pruning 48/12.  Callers that relied
    on default-parameter recall-completeness — including any
    ``dbscan_clusters(pairs_fn=...)`` swap — now get approximate
    pairs by default; pass ``planes=16, bands=16`` explicitly for the
    exhaustive regime (parity tests do)."""
    if planes % bands:
        raise ValueError("bands must divide planes")
    if not 0 < planes <= 62:
        # signatures pack into ONE signed long of bit weights
        raise ValueError("planes must be in 1..62 (long signature)")
    per_band = planes // bands

    from file_d_spark.functions.dedup import spread

    model = corpus.sparkSession.createDataFrame(
        [(
            [_hyperplane(dim, i) for i in range(planes)],
            [1 << i for i in range(planes)],
        )],
        "__planes__ array<array<double>>, __weights__ array<bigint>",
    )
    vec = F.col(vec_col)
    sig_col = F.aggregate(
        F.zip_with(
            F.transform(F.col("__planes__"), lambda p: dot(vec, p)),
            F.col("__weights__"),
            lambda proj, w: F.when(proj > 0, w).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    mask = (1 << per_band) - 1
    vals_col = F.array(
        *[
            F.shiftright(F.col("sig"), b * per_band)
            .bitwiseAND(F.lit(mask))
            .cast("int")
            for b in range(bands)
        ]
    )
    compact = (
        spread(corpus)
        .crossJoin(F.broadcast(model))
        .select(F.col(id_col).alias("id"), sig_col.alias("sig"))
        .select("id", vals_col.alias("vals"))
    )
    # materialize the signature rows ONCE: both self-join sides (and
    # nothing else) derive from this frame, and without a checkpoint
    # each side re-runs the planes x dim projection over the corpus —
    # exchange reuse is not guaranteed across the renamed sides.
    # Checkpoint the COMPACT (id, vals) frame and explode AFTER it, so
    # the store holds one vector per id instead of one per band row.
    compact = _register_cache(compact.localCheckpoint(eager=True))
    keyed = compact.select(
        "id",
        "vals",
        F.posexplode("vals").alias("band", "val"),
    )
    right = keyed.select(
        F.col("id").alias("id_b"), F.col("vals").alias("vals_b"), "band", "val"
    )

    # standard LSH emit-once trick: a pair colliding in k bands would
    # surface k times; instead of a distinct() (a full shuffle of the
    # raw candidate volume) each pair is emitted ONLY from its FIRST
    # colliding band — an in-row check that no EARLIER band collides,
    # over the two carried band-value vectors (band=0 slices an empty
    # prefix, vacuously true).
    first_collision = F.forall(
        F.zip_with(
            F.slice(F.col("vals"), F.lit(1), F.col("band")),
            F.slice(F.col("vals_b"), F.lit(1), F.col("band")),
            lambda x, y: x != y,
        ),
        lambda differs: differs,
    )
    cands = (
        keyed.select(F.col("id").alias("id_a"), "vals", "band", "val")
        .join(right, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(first_collision)
        .select("id_a", "id_b")
    )
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sides = corpus.select(
        F.col(id_col).alias("id"),
        dvec.alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    return (
        cands.join(
            sides.select(
                F.col("id").alias("id_a"),
                F.col("vec").alias("vec_a"),
                F.col("nrm").alias("norm_a"),
            ),
            "id_a",
        )
        .join(
            sides.select(
                F.col("id").alias("id_b"),
                F.col("vec").alias("vec_b"),
                F.col("nrm").alias("norm_b"),
            ),
            "id_b",
        )
        .withColumn(
            "sim",
            dot(F.col("vec_a"), F.col("vec_b"))
            / (F.col("norm_a") * F.col("norm_b")),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def _ivf_seed(
    corpus: DataFrame, n: int, id_col: str, vec_col: str
) -> list:
    """First ``n`` rows of the md5-ordered ``(id, vec)`` seed — the
    deterministic model pick shared by :func:`ivf_topk` (centroids)
    and :func:`ivf_pq_index` (centroids + codebook).  TakeOrdered of
    ``n`` rows: a bounded driver model, not data."""
    return (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(n)
        .collect()
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_rows: list | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into ``n_lists``
    inverted lists, probe the ``n_probe`` closest lists per query,
    exact-rerank inside the probed lists.

    Centroids are a tiny driver-side model (n_lists vectors, picked
    deterministically by hash order — the analogue of a KMeans fit)
    shipped as a BROADCAST one-row frame with HOF scoring, so corpus
    assignment is ONE NARROW PROJECTION: an in-row argmax over the
    centroid similarities.  No corpus count, no per-row window — the
    only shuffle left is the probed-list search join itself.
    (Literal-embedded centroids — dot_lit per centroid — cost ~1k py4j
    Column objects per call site: measured 2.1 s of plan build against
    0.6 s of execution; the broadcast-model form is arithmetic-
    identical, so oracle bit-equality is preserved.)

    ``seed_rows``: the first ``n_lists`` rows of the md5-ordered
    ``(id, vec)`` seed, if the caller already collected them — the
    IVF and IVFPQ model fits draw from the SAME deterministic order,
    so a suite computing both pays the TakeOrdered once (r13).
    """
    import math

    from file_d_spark.functions.dedup import spread

    cents = (
        _ivf_seed(corpus, n_lists, id_col, vec_col)
        if seed_rows is None
        else seed_rows[:n_lists]
    )
    # md5 ordering, not xxhash64: same random-like spread, but
    # reproducible in any engine so the whole IVF path is oracle-able
    cent_vecs = [[float(x) for x in r[1]] for r in cents]
    cent_norms = [math.sqrt(sum(x * x for x in v)) or 1.0 for v in cent_vecs]
    model = corpus.sparkSession.createDataFrame(
        [(cent_vecs, cent_norms)],
        "__cents__ array<array<double>>, __cnorms__ array<double>",
    )

    c = (
        spread(corpus)
        .crossJoin(F.broadcast(model))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("neighbor_vec"),
            _ivfpq_sims(vec_col).alias("__sims__"),
        )
    )
    # in-row argmax: first index of the max similarity (deterministic
    # tie-break by list order, matching the old window's list_id asc)
    assigned = c.withColumn(
        "list_id",
        (
            F.array_position(F.col("__sims__"), F.array_max("__sims__")) - 1
        ).cast("int"),
    ).drop("__sims__")
    # per query: the n_probe closest lists, via an in-row partial sort
    # of (−sim, idx) structs — queries are few and broadcast anyway.
    # __qsims__ is STAGED as a real column: referencing the sims tree
    # inside the ranked-lists lambda would re-embed it per element_at
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col)
        )
        .crossJoin(F.broadcast(model))
        .select(
            "query_id",
            F.col(vec_col).alias("query_vec"),
            _ivfpq_sims(vec_col).alias("__qsims__"),
        )
    )
    qsims = F.col("__qsims__")
    ranked_lists = F.array_sort(
        F.transform(
            F.sequence(F.lit(0), F.lit(len(cent_vecs) - 1)),
            lambda i: F.struct(
                (-F.element_at(qsims, i + 1)).alias("negsim"),
                i.cast("int").alias("idx"),
            ),
        )
    )
    probes = q.select(
        "query_id",
        "query_vec",
        F.explode(
            F.transform(
                F.slice(ranked_lists, 1, n_probe), lambda s: s["idx"]
            )
        ).alias("list_id"),
    )
    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("query_vec"), F.col("neighbor_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    arXiv 2303.09540): cluster the embedding space coarsely, compare
    cosine similarity ONLY within a cluster, and drop every item that
    has an earlier (lower-id) near-duplicate in its cluster.  Returns
    the survivors as (id, cluster_id).

    Scale shape: cluster centroids are a tiny driver-side model
    (``n_clusters`` vectors, deterministically the lowest ids — the
    stand-in for a KMeans fit) embedded as literals, so assignment is
    an in-row argmax projection, no shuffle.  The pair comparison is an
    equi-join on cluster_id — each row only meets its own cluster's
    slice, never the full corpus: all-pairs cost drops from O(n^2) to
    sum of per-cluster squares, and at 100 TB the cluster count scales
    up so each slice stays executor-sized.  The final survivor filter
    is one left_anti join on the id.
    """
    import math

    cents = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col))
        .limit(n_clusters)
        .collect()
    )  # n_clusters rows — the "fitted model", not data
    cent_vecs = [[float(x) for x in r[1]] for r in cents]
    cent_norms = [math.sqrt(sum(x * x for x in v)) or 1.0 for v in cent_vecs]
    # broadcast one-row model + HOF scoring (see ivf_topk's plan-build
    # rationale) — arithmetic identical to the literal dot_lit form
    model = corpus.sparkSession.createDataFrame(
        [(cent_vecs, cent_norms)],
        "__cents__ array<array<double>>, __cnorms__ array<double>",
    )
    vec = F.col("vec")
    vnorm = F.col("vnorm")
    cent_cos = F.zip_with(
        F.transform(F.col("__cents__"), lambda cv: dot(vec, cv)),
        F.col("__cnorms__"),
        lambda d, n: d / (vnorm * n),
    )

    from file_d_spark.functions.dedup import spread

    assigned = (
        spread(corpus)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            norm(F.col(vec_col)).alias("vnorm"),
        )
        .crossJoin(F.broadcast(model))
        .withColumn("__cos__", cent_cos)
        .withColumn(
            # first index of the max = deterministic low-cid tie-break,
            # mirrored by the oracle's ORDER BY sim DESC, cid ASC
            "cluster_id",
            (F.array_position(F.col("__cos__"), F.array_max("__cos__")) - 1).cast(
                "int"
            ),
        )
        .drop("__cos__", "__cents__", "__cnorms__")
    )
    # feeds both sides of the pair join + the spine
    _register_cache(assigned.cache())
    a = assigned.select(
        F.col("cluster_id"),
        F.col("id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.col("vnorm").alias("norm_a"),
    )
    b = assigned.select(
        F.col("cluster_id"),
        F.col("id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("vnorm").alias("norm_b"),
    )
    dropped = (
        a.join(b, "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            dot(F.col("vec_a"), F.col("vec_b")) / (F.col("norm_a") * F.col("norm_b")),
        )
        .filter(F.round("sim", 6) >= F.lit(threshold))
        .select(F.col("id_b").alias("id"))
    )
    return (
        assigned.join(dropped, "id", "left_anti")
        .select(F.col("id").alias(id_col), "cluster_id")
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane: a fixed LCG on
    (plane_idx, component) — reproducible across engines/runs with no
    RNG state."""
    out = []
    x = (plane_idx * 2654435761 + 97) & 0xFFFFFFFF
    for j in range(dim):
        x = (x * 1103515245 + 12345 + j) & 0x7FFFFFFF
        out.append(((x / 0x7FFFFFFF) * 2.0) - 1.0)
    return out


def rh_signature(vec: Column, dim: int, planes: int = 16) -> Column:
    """Random-hyperplane (SimHash for vectors) signature: bit i = sign
    of <vec, plane_i>.  Returns a long."""
    bits = []
    for i in range(planes):
        proj = dot_lit(vec, _hyperplane(dim, i))
        bits.append(F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    return sum(bits[1:], bits[0]).cast("long")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: random-hyperplane signatures, banded into
    ``bands`` chunks; candidates = corpus rows sharing any band value
    with the query; exact cosine rerank of candidates.

    At 100 TB the banded join replaces the cross join: each query only
    meets the corpus slice in its buckets.  Recall is tunable with
    planes/bands (fewer bits per band = more candidates = higher
    recall)."""
    per_band = planes // bands

    from file_d_spark.functions.dedup import spread

    # hyperplanes + bit weights as a broadcast one-row model: the
    # literal form (rh_signature's dot_lit x 16 planes) costs ~1k py4j
    # Column objects per call site — measured seconds of plan build
    # against sub-second execution (same migration as ivf_topk).
    # Arithmetic is identical: same projections, same bit weights.
    model = corpus.sparkSession.createDataFrame(
        [(
            [_hyperplane(dim, i) for i in range(planes)],
            [1 << i for i in range(planes)],
        )],
        "__planes__ array<array<double>>, __weights__ array<bigint>",
    )
    # signature + band fan-out as SQL text (r14): the Column form cost
    # ~1k py4j trips per plan build across the two roles; the parsed
    # trees are identical (same zip_with/aggregate ops, same CASE,
    # same shift/mask arithmetic), so signatures are bit-equal.
    from file_d_spark.functions.sqlexpr import dot_sql, norm_sql

    sig_sql = (
        "aggregate(zip_with(transform(__planes__, p -> {dot}), "
        "__weights__, (proj, w) -> "
        "CASE WHEN proj > 0 THEN w ELSE CAST(0 AS BIGINT) END), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    ).format(dot=dot_sql(f"`{vec_col}`", "p"))
    mask = (1 << per_band) - 1
    bb_sql = "explode(array({})) AS bb".format(
        ", ".join(
            f"struct({b} AS band, "
            f"(shiftright(sig, {b * per_band}) & {mask}) AS val)"
            for b in range(bands)
        )
    )

    def banded(df: DataFrame, role: str) -> DataFrame:
        if role == "neighbor":
            df = spread(df)
        sig = df.crossJoin(F.broadcast(model)).selectExpr(
            f"`{id_col}` AS {role}_id",
            f"`{vec_col}` AS {role}_vec",
            f"{norm_sql(f'`{vec_col}`')} AS {role}_norm",
            f"{sig_sql} AS sig",
        )
        return sig.selectExpr(
            f"{role}_id", f"{role}_vec", f"{role}_norm", bb_sql
        ).select(f"{role}_id", f"{role}_vec", f"{role}_norm", "bb.band", "bb.val")

    # score candidates in place, then dedup + top-k in ONE shuffle:
    # a multi-band collision re-scores the same pair to the bit-same
    # double (same deterministic expression over the same vectors), so
    # collect_set of (-sim, neighbor_id) structs dedups exactly, and
    # array_sort ascending on that struct IS (sim desc, neighbor_id
    # asc) rank order.  The r3 form (groupBy pair + window) paid two
    # hash exchanges for the same result, measured ~1s slower at sf0.1.
    # Per-query state is bounded by its bucket candidates (the whole
    # point of banding), so the set aggregate is safe at scale.
    cand = (
        banded(corpus, "neighbor")
        .join(F.broadcast(banded(queries, "query")), ["band", "val"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.expr(
                f"{dot_sql('query_vec', 'neighbor_vec')}"
                " / (query_norm * neighbor_norm)"
            ),
        )
    )
    return (
        cand.groupBy("query_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_set(
                        F.struct(
                            (-F.col("sim")).alias("nsim"),
                            F.col("neighbor_id"),
                        )
                    )
                ),
                1,
                k,
            ).alias("top")
        )
        .select("query_id", F.posexplode("top").alias("pos", "t"))
        .select(
            "query_id",
            F.col("t.neighbor_id").alias("neighbor_id"),
            (F.col("pos") + 1).alias("rank"),
            F.round(-F.col("t.nsim"), 6).alias("sim"),
        )
    )


def ivf_assign(
    corpus: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse-quantizer assignment only: corpus + ``list_id`` — the
    index-BUILD half of ivf_topk, exposed for compositions (index
    manifests, per-list stats, shard writing).  Same deterministic
    md5-ordered centroid model and in-row argmax (first-max tie-break
    by list order), so it is oracle-able with the same SQL as
    ann_ivf's assignment CTE.  One bounded collect (n_lists rows), one
    narrow projection over the corpus — no shuffle.  The centroid
    model ships as a broadcast one-row frame (see ivf_topk's plan-build
    rationale); the arithmetic is identical to the literal form."""
    import math

    cents = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(n_lists)
        .collect()
    )
    cent_vecs = [[float(x) for x in r[1]] for r in cents]
    cent_norms = [math.sqrt(sum(x * x for x in v)) or 1.0 for v in cent_vecs]
    model = corpus.sparkSession.createDataFrame(
        [(cent_vecs, cent_norms)],
        "__cents__ array<array<double>>, __cnorms__ array<double>",
    )
    return (
        corpus.crossJoin(F.broadcast(model))
        .withColumn("__sims__", _ivfpq_sims(vec_col))
        .withColumn(
            "list_id",
            (
                F.array_position(F.col("__sims__"), F.array_max("__sims__"))
                - 1
            ).cast("int"),
        )
        .drop("__sims__", "__cents__", "__cnorms__")
    )


def scalar_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 256,
    keep: list[str] | None = None,
) -> DataFrame:
    """Per-dimension scalar quantization (int8-style compression for
    ANN at scale): map each component onto ``levels`` uniform steps
    between that dimension's corpus [min, max], and report the
    round-trip quality per vector — the memory/recall tradeoff check
    run before shipping a compressed index (a 64-dim float32 corpus
    drops 4x to one byte per component).

    Output: (id, code_sum, quant_mse) — the code checksum pins the
    exact quantized codes, the MSE the reconstruction quality.

    Scale shape: the per-dimension stats are ONE posexplode +
    64-key groupBy (linear, partial-aggregated), reduced to a
    64-row driver model embedded as literals — the same bounded-model
    pattern as the IVF centroids; the quantize pass itself is a pure
    per-row projection, no shuffle."""
    dims = (
        df.select(F.posexplode(vec_col).alias("d", "v"))
        .groupBy("d")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .orderBy("d")
        .collect()
    )
    # one py4j call per array (1-D ndarray literal), not one per element
    los = F.lit(np.asarray([float(r.lo) for r in dims], dtype="float64"))
    his = F.lit(np.asarray([float(r.hi) for r in dims], dtype="float64"))
    n_dims = len(dims)
    steps = float(levels - 1)

    def code_at(v, i):
        lo = F.element_at(los, i + 1)
        hi = F.element_at(his, i + 1)
        return F.when(hi == lo, F.lit(0.0)).otherwise(
            F.round((v.cast("double") - lo) / (hi - lo) * F.lit(steps), 0)
        )

    def deq_at(c, i):
        lo = F.element_at(los, i + 1)
        hi = F.element_at(his, i + 1)
        return lo + c * (hi - lo) / F.lit(steps)

    # staged passes so the round/divide in code_at runs ONCE per
    # component: codes -> dequantized -> squared error.  Interpreted
    # HOFs re-evaluate any expression referenced by multiple lambdas
    # (SCALE.md failure-mode list), so err must derive from the codes
    # ARRAY, not re-derive the code expression.
    tot = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)
    extra = list(keep or [])  # passthrough columns (e.g. an IVF list
    # id) so compositions stay ONE projection chain instead of a
    # corpus-sized self-join
    staged = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        F.col(vec_col),
        F.transform(F.col(vec_col), code_at).alias("__codes__"),
    ).select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        F.col(vec_col),
        F.col("__codes__"),
        F.transform(F.col("__codes__"), deq_at).alias("__deq__"),
    )
    err = F.zip_with(
        F.col(vec_col),
        F.col("__deq__"),
        lambda v, d: F.pow(v.cast("double") - d, F.lit(2.0)),
    )
    return staged.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        tot(F.col("__codes__")).cast("long").alias("code_sum"),
        F.round(tot(err) / F.lit(float(n_dims)), 9).alias("quant_mse"),
    )


def _subspace_dist_sql(vec_col: str, cent: list[float], offset: int) -> str:
    """Squared distance between a subspace slice of ``vec_col`` and a
    literal centroid, as ONE SQL text chain.

    UNROLLED scalar chain, not zip_with/aggregate: each distance spans
    only a subspace (typically 8 components), so the expression tree
    stays inside whole-stage codegen — measured ~3x faster than the
    interpreted-HOF form.  (The dot_lit docstring's blowout trap is for
    FULL-dim unrolls; subspace-sized chains are exactly the case where
    unrolling wins.)  Emitted as SQL text, not Column algebra: building
    thousands of Column objects costs seconds of py4j round-trips PER
    PLAN; one expr() string per subspace parses JVM-side in
    milliseconds.  pow, not d*d: the subtraction appears once (halves
    the tree); pow(x, 2.0) is cross-engine hash-stable (scalar-quantize
    oracle precedent)."""
    return " + ".join(
        f"pow(cast(element_at({vec_col}, {offset + i + 1}) as double)"
        f" - ({cent[i]!r}D), 2.0D)"
        for i in range(len(cent))
    )


def product_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    model_max_literal_floats: int = 4096,
) -> DataFrame:
    """Product quantization (Jegou et al. 2011, "Product Quantization
    for Nearest Neighbor Search"): split each vector into ``m``
    subspaces of dim/m components; quantize each subspace to its
    nearest of ``k`` codebook centroids; a vector compresses to m
    small codes (here 8 x 4 bits = 4 bytes for a 64-dim float vector,
    64x).  Output: (id, pq_code, quant_mse) — pq_code packs the m
    codes base-k (engine-portable integer), quant_mse the
    reconstruction error against the codebook.

    The codebook is the deterministic-sampling analogue of the k-means
    fit, matching this module's IVF pattern: the k md5-first corpus
    vectors sliced per subspace — a bounded m*k driver model embedded
    as literals, so assignment is an IN-ROW argmin per subspace (no
    join, no shuffle; the only wide op in the whole query is nothing).
    md5 ordering keeps the entire path reproducible in any engine, so
    the oracle checks codes bit-for-bit.

    Model shipping: at the default k=16 the codebook embeds as SQL
    literals (~1 MB of task binary — measured harmless) with one
    scalar distance column per (subspace, centroid), which compiles
    as a method-split row-based UnsafeProjection (see the staging
    comment below — the per-subspace ARRAY form blew Janino's 64 KB
    whole-stage method limit at m*k*sub=1024 and silently ran the
    whole plan interpreted).  Above ``model_max_literal_floats``
    total codebook floats (k=256 would be 16384 -> a multi-MB
    expression tree and a scheduler hazard), the codebook ships as a
    BROADCAST one-row frame instead and assignment runs as
    higher-order functions over the broadcast array column — same
    results (test_quantize asserts equality across the boundary),
    measured ~16x slower per row than the compiled scalar chains
    (HOF lambdas evaluate interpreted), but the task binary stays
    small and the model moves through the broadcast machinery like
    any other dimension table."""
    if dim % m != 0:
        raise ValueError("product_quantize: m must divide dim")
    sub = dim // m
    seed = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(k)
        .collect()
    )
    books = [
        [[float(x) for x in r[1][s * sub : (s + 1) * sub]] for r in seed]
        for s in range(m)
    ]  # books[s][j] = centroid j of subspace s

    def sq_dist_sql(s: int, j: int) -> str:
        return _subspace_dist_sql(vec_col, books[s][j], s * sub)

    # materialize each (subspace, centroid) distance as its OWN scalar
    # column; the next projection derives both outputs with cheap
    # array ops over those attributes: the code is array_position of
    # the min (first index — deterministic tie-break by codebook
    # order, mirrored in the oracle) and the chosen centroid's
    # reconstruction error IS array_min — no second distance
    # evaluation.  Scalar columns, not per-subspace arrays (r12): the
    # array form fused all m*k chains into ONE whole-stage-codegen
    # processNext(), whose single method blows Janino's 64 KB limit at
    # the default m=8/k=16 (observed ERROR storm + whole-plan
    # interpreted fallback).  With m*k+1 > spark.sql.codegen.maxFields
    # (100) the staging projection is excluded from whole-stage fusion
    # and compiles as a row-based UnsafeProjection instead — and THAT
    # codegen path CAN split expressions into one small method per
    # chain, so every chain is compiled, JIT-able code.  Measured at
    # 800k rows x 8 cores: scalar-staged 1.9 s vs 3.2 s for the
    # array form's interpreted fallback vs 32 s for the broadcast-HOF
    # path — and zero CodeGenerator failures.  The downstream select
    # references every distance column 3-4x, so CollapseProject keeps
    # the staging boundary (inlining would re-evaluate the chains).
    # the scalar staging is safe in two regimes: >maxFields columns
    # (excluded from whole-stage fusion -> method-split row codegen) or
    # few enough total chain terms that the FUSED single method still
    # compiles (<= 512 terms verified compiling; 1024 observed
    # failing).  The mid-range — column count under the fusion cutoff
    # but chain volume near the 64 KB cliff — would silently reproduce
    # the failure this staging exists to fix, so it routes to the
    # broadcast-HOF path instead (review finding, r12).
    _max_fields = int(
        df.sparkSession.conf.get("spark.sql.codegen.maxFields", "100")
    )
    _wscg_on = (
        df.sparkSession.conf.get("spark.sql.codegen.wholeStage", "true")
        .lower()
        != "false"
    )
    # with whole-stage codegen disabled nothing fuses, so the scalar
    # staging is safe (and still the fast form) at any term count
    _fused_compiles = (
        not _wscg_on or m * k * sub <= 512 or m * k + 1 > _max_fields
    )
    if m * k * sub <= model_max_literal_floats and _fused_compiles:
        # ONE selectExpr with all m*k chain strings, and ONE selectExpr
        # for the outputs below (r13): the Column-algebra form of this
        # projection cost ~8,000 py4j round trips per plan build —
        # measured 7.3 s of an 8.3 s build on a host with ~0.9 ms/call
        # socket latency — while a batched selectExpr ships the same
        # expression text in a single call and parses JVM-side.  The
        # parsed trees are identical (verified: oracle hash unchanged,
        # plan shape asserted in test_quantize), so this is pure
        # plan-BUILD economy, not a plan change.
        staged = df.selectExpr(
            id_col,
            *[
                f"{sq_dist_sql(s, j)} AS __d{s}_{j}__"
                for s in range(m)
                for j in range(k)
            ],
        )

        def arr_sql(s: int) -> str:
            return "array({})".format(
                ", ".join(f"__d{s}_{j}__" for j in range(k))
            )

        code_sqls = [
            f"CAST((array_position({arr_sql(s)}, array_min({arr_sql(s)}))"
            f" - 1) AS BIGINT)"
            for s in range(m)
        ]
        pq_code_sql = " + ".join(
            [code_sqls[0]]
            + [f"{code_sqls[s]} * {k ** s}" for s in range(1, m)]
        )
        mse_sql = "({}) / {!r}D".format(
            " + ".join(f"array_min({arr_sql(s)})" for s in range(m)),
            float(dim),
        )
        return staged.selectExpr(
            id_col,
            f"CAST({pq_code_sql} AS BIGINT) AS pq_code",
            f"round({mse_sql}, 9) AS quant_mse",
        )
    else:
        # big-model path: codebook as a broadcast one-row frame; the
        # distance arrays come from HOFs over the broadcast column.
        # The transform lambda's slice() captures only an 8-element
        # sub-vector per centroid, so the interpreted re-evaluation
        # cost is O(sub) per (row, centroid) — linear, no blowup.
        model = df.sparkSession.createDataFrame(
            [(books,)], "__cb__: array<array<array<double>>>"
        )
        vec = F.col(vec_col)

        def dists_of(s: int):
            seg = F.slice(vec, s * sub + 1, sub)
            return F.transform(
                F.element_at(F.col("__cb__"), s + 1),
                lambda cent: F.aggregate(
                    F.zip_with(
                        seg,
                        cent,
                        lambda a, b: F.pow(
                            a.cast("double") - b, F.lit(2.0)
                        ),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            )

        staged = (
            df.crossJoin(F.broadcast(model))
            .select(
                F.col(id_col),
                *[dists_of(s).alias(f"__d{s}__") for s in range(m)],
            )
        )

        def dist_arr(s: int):
            return F.col(f"__d{s}__")

    codes = [
        (
            F.array_position(dist_arr(s), F.array_min(dist_arr(s)))
            - 1
        ).cast("long")
        for s in range(m)
    ]
    pq_code = sum(
        [codes[s] * F.lit(k ** s) for s in range(1, m)],
        codes[0],
    )
    mse = sum(
        [F.array_min(dist_arr(s)) for s in range(1, m)],
        F.array_min(dist_arr(0)),
    ) / F.lit(float(dim))
    return staged.select(
        F.col(id_col),
        pq_code.cast("long").alias("pq_code"),
        F.round(mse, 9).alias("quant_mse"),
    )


def ivf_pq_index(
    corpus: DataFrame,
    n_lists: int = 16,
    m: int = 8,
    pq_k: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_rows: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build the IVFPQ search index once: returns ``(index, model)``
    where ``index`` is the materialized compact frame
    (neighbor_id, list_id, codes) and ``model`` the one-row
    centroids+codebook frame.  Pass the pair to
    :func:`ivf_pq_topk` via ``prebuilt`` to amortize the build across
    many query batches — the production lifecycle (index rebuilt only
    when the corpus changes).  ``seed_rows``: pre-collected md5-order
    seed (>= max(n_lists, pq_k) rows) shared with :func:`ivf_topk` —
    see :func:`_ivf_seed`."""
    import math

    from file_d_spark.functions.dedup import spread

    if dim % m != 0:
        raise ValueError("ivf_pq_index: m must divide dim")
    sub = dim // m
    seed = (
        _ivf_seed(corpus, max(n_lists, pq_k), id_col, vec_col)
        if seed_rows is None
        else seed_rows[: max(n_lists, pq_k)]
    )
    cent_vecs = [[float(x) for x in r[1]] for r in seed[:n_lists]]
    cent_norms = [math.sqrt(sum(x * x for x in v)) or 1.0 for v in cent_vecs]
    books = [
        [
            [float(x) for x in r[1][s * sub : (s + 1) * sub]]
            for r in seed[:pq_k]
        ]
        for s in range(m)
    ]
    model = corpus.sparkSession.createDataFrame(
        [(cent_vecs, cent_norms, books)],
        "__cents__ array<array<double>>, __cnorms__ array<double>, "
        "__cb__ array<array<array<double>>>",
    )
    # batched selectExpr (r13): the same sims/dists trees as the old
    # Column-algebra build, shipped as SQL text in two calls instead
    # of ~2,000 py4j round trips (the PQ plan-build economy)
    staged = (
        spread(corpus)
        .crossJoin(F.broadcast(model))
        .selectExpr(
            f"{id_col} AS neighbor_id",
            f"{_ivfpq_sims_sql(vec_col)} AS __sims__",
            *[
                f"{_ivfpq_dists_sql(vec_col, s, sub)} AS __d{s}__"
                for s in range(m)
            ],
        )
    )
    index = staged.selectExpr(
        "neighbor_id",
        "CAST((array_position(__sims__, array_max(__sims__)) - 1) AS INT)"
        " AS list_id",
        "array({}) AS codes".format(
            ", ".join(
                f"CAST((array_position(__d{s}__, array_min(__d{s}__)) - 1)"
                " AS INT)"
                for s in range(m)
            )
        ),
    )
    # materialize the COMPACT index once — production shape: the IVFPQ
    # index is a persisted artifact, rebuilt only when the corpus
    # changes, and the heavy assignment/encoding pass runs exactly
    # once; every downstream stage (ADC join, candidate broadcast,
    # rerank) plans against ~20 bytes/vector of codes instead of
    # re-deriving them per stage.
    index = _register_cache(index.localCheckpoint(eager=True))
    return index, model


def _ivfpq_sims(vec_col: str) -> Column:
    """Centroid cosine numerators via HOFs over the broadcast model
    columns (see ivf_pq_topk's model rationale) — Column form, used by
    the ivf_topk/ivf_assign call sites whose plan-build is light."""
    vec = F.col(vec_col)
    return F.zip_with(
        F.transform(F.col("__cents__"), lambda cv: dot(vec, cv)),
        F.col("__cnorms__"),
        lambda d, n: d / n,
    )


def _ivfpq_sims_sql(vec_col: str) -> str:
    """Centroid cosine numerators via HOFs over the broadcast model
    columns, as SQL text (r13: one selectExpr string instead of the
    Column-algebra tree — same parsed expressions, no py4j storm)."""
    return (
        "zip_with(transform(__cents__, cv ->"
        f" aggregate(zip_with({vec_col}, cv,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)),"
        " __cnorms__, (d, n) -> d / n)"
    )


def _ivfpq_dists_sql(vec_col: str, s: int, sub: int) -> str:
    """Per-subspace squared distances to every codebook centroid, as
    SQL text (same trees as the old Column form)."""
    return (
        f"transform(element_at(__cb__, {s + 1}), cent ->"
        f" aggregate(zip_with(slice({vec_col}, {s * sub + 1}, {sub}),"
        " cent, (a, b) -> pow(CAST(a AS DOUBLE) - b, 2.0D)),"
        " 0.0D, (acc, x) -> acc + x))"
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    pq_k: int = 16,
    refine: int = 32,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prebuilt: tuple[DataFrame, DataFrame] | None = None,
    seed_rows: list | None = None,
) -> DataFrame:
    """IVF + PQ asymmetric-distance search with exact rerank — the
    memory-bounded production ANN path (Jegou et al. 2011 IVFADC): at
    100 TB the raw vectors cannot ride through the search join, so the
    corpus-side payload is ``m`` small codes per vector and the
    scoring is pure array lookups.

      1. one corpus projection assigns each vector a coarse list
         (in-row argmax over literal centroids, as ivf_topk) AND its
         per-subspace PQ codes (in-row argmin, as product_quantize) —
         the index rows carry (id, list_id, codes): ~5 bytes of
         payload instead of dim*4;
      2. each query probes its ``n_probe`` closest lists and carries m
         lookup tables (query-to-centroid distances per subspace, an
         in-row computation on the tiny query frame);
      3. ADC score = sum_s lut[s][code[s]] — array indexing only, no
         vector math against the corpus — keeps the ``refine`` best;
      4. exact rerank fetches ONLY the candidate vectors (broadcast
         candidate-id join back to the corpus) and emits cosine top-k.

    Shuffle shape: the probe join is keyed on list_id; the rerank join
    broadcasts the (queries x refine)-row candidate set.  Both driver
    models (centroids, codebook) are md5-deterministic so the whole
    path — assignment, codes, LUTs, ADC ordering, rerank — is
    oracle-checkable.

    Model shipping: the centroids + codebook travel as a BROADCAST
    one-row frame and all similarity/distance math is higher-order
    functions over its array columns.  Two rejected alternatives
    (both measured): literal-embedded models built as Column algebra
    cost seconds of py4j round-trips per call site, and SQL-text
    scalar chains put a ~2k-term expression tree into every stage
    that fuses with the projection — the wholestage processNext()
    blows the 64 KB Janino method limit and each downstream stage
    re-attempts the failed compile (4-6x the query's whole runtime in
    compile storms).  HOFs evaluate interpreted, but keep every plan
    tree small; the arithmetic order (left-fold aggregate over
    zip_with) matches the oracle's list_sum(list_transform(...))
    exactly, so bit-equality holds."""
    from file_d_spark.functions.dedup import spread

    if dim % m != 0:
        raise ValueError("ivf_pq_topk: m must divide dim")
    sub = dim // m
    if prebuilt is None:
        index, model = ivf_pq_index(
            corpus, n_lists=n_lists, m=m, pq_k=pq_k, dim=dim,
            id_col=id_col, vec_col=vec_col, seed_rows=seed_rows,
        )
    else:
        index, model = prebuilt

    # -- 2. query side: probes + per-subspace LUTs ----------------------
    # __qsims__ is STAGED as a real column: referencing the sims tree
    # inside the ranked-lists lambda would re-embed it per element_at
    q_staged = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col),
        )
        .crossJoin(F.broadcast(model))
        .selectExpr(
            "query_id",
            f"{vec_col} AS query_vec",
            f"{_ivfpq_sims_sql(vec_col)} AS __qsims__",
            *[
                f"{_ivfpq_dists_sql(vec_col, s, sub)} AS __d{s}__"
                for s in range(m)
            ],
        )
    )
    ranked_lists = (
        f"array_sort(transform(sequence(0, {n_lists - 1}), i ->"
        " struct((- element_at(__qsims__, i + 1)) AS negsim,"
        " CAST(i AS INT) AS idx)))"
    )
    probes = q_staged.selectExpr(
        "query_id",
        "query_vec",
        *[f"__d{s}__ AS __lut{s}__" for s in range(m)],
        f"explode(transform(slice({ranked_lists}, 1, {n_probe}),"
        " s -> s.idx)) AS list_id",
    )

    # -- 3. ADC scoring over the probed lists ---------------------------
    adc = " + ".join(
        f"element_at(__lut{s}__, element_at(codes, {s + 1}) + 1)"
        for s in range(m)
    )
    scored = (
        index.join(F.broadcast(probes), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__adc__", F.expr(adc))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("__adc__").asc(), F.col("neighbor_id")
    )
    cands = (
        scored.withColumn("__crank__", F.row_number().over(wc))
        .filter(F.col("__crank__") <= refine)
        .select("query_id", "query_vec", "neighbor_id")
    )

    # -- 4. exact rerank of the candidates only -------------------------
    fetched = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("neighbor_vec")
    )
    reranked = fetched.join(F.broadcast(cands), "neighbor_id").withColumn(
        "sim", cosine(F.col("query_vec"), F.col("neighbor_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        reranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


#: bounded-corpus cutoff for the driver-side Lloyd's fast path in
#: :func:`kmeans_embeddings` (~10 MB of quantized vectors at 64 dims);
#: module-level so the parity test can force both paths
KMEANS_FAST_MAX_ROWS = 20_000


def kmeans_embeddings(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Iterative Lloyd's k-means over an embedding column — the
    corpus-clustering fit the assignment-only ops (semantic_dedup,
    ivf_*) consume a model FROM.  Returns the per-cluster manifest
    (cluster_id, n_vectors, avg_sq_dist) after ``iters`` update steps
    from the deterministic md5-ordered seed.

    Fixed-point arithmetic end to end: components quantize once to
    ``scale`` (round-half-away, identical in Spark and DuckDB), so
    every distance and every centroid-update sum is an EXACT bigint —
    float summation order (nondeterministic under parallel
    aggregation in any engine) never enters, making the whole
    iterative loop reproducible run-to-run AND bit-checkable against
    the SQL oracle.  Centroid updates use truncating integer division
    (Spark ``div`` == DuckDB ``//``); a cluster that loses all members
    keeps its previous centroid.

    Scale shape per iteration: one narrow corpus pass for assignment
    (broadcast k x dim model, in-row argmin) + one (cluster, dim)-keyed
    aggregate with k*dim uniform keys -> a bounded driver model.  The
    corpus is re-scanned per iteration (the standard k-means IO
    pattern); nothing corpus-sized is cached or collected."""
    from pyspark.sql import functions as F

    spark = corpus.sparkSession
    quant = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * scale).cast("long"),
    )
    base = corpus.select(F.col(id_col).alias("id"), quant.alias("q"))

    def trunc_div(a: int, b: int) -> int:
        return a // b if a >= 0 else -((-a) // b)

    # Bounded-corpus fast path (r13): the iterative fit costs one
    # seed job plus one stats-collect job PER ITERATION — each a full
    # corpus pass plus ~0.2-0.4 s of fixed scheduling overhead on the
    # measured host.  Below the bound the quantized vectors are
    # themselves a bounded driver model (<= ~10 MB at 20k x 64 longs),
    # so ONE limit-collect fetches them and the seed ordering plus
    # every Lloyd's update runs in exact-integer Python: the pipeline
    # is integer end-to-end by design (that is what makes it
    # oracle-able), so driver arithmetic is bit-identical to the
    # distributed aggregate — same md5-hex seed order (Spark string
    # sort == Python str sort on ASCII hex), same exact bigint sums,
    # same truncating division, same keep-previous-centroid rule.  The
    # FINAL assignment/manifest pass still runs in Spark either way.
    # Above the bound: the distributed loop, unchanged.
    _FAST_MAX_ROWS = KMEANS_FAST_MAX_ROWS
    # the driver seed replays Spark's CAST(id AS STRING) with Python
    # str(); that equivalence holds for integral and string ids only
    # (float formatting differs), so other id types keep the
    # distributed path
    from pyspark.sql import types as _T

    _id_type = corpus.schema[id_col].dataType
    _fast_ok = isinstance(
        _id_type, (_T.IntegralType, _T.StringType)
    )
    fast_rows = (
        base.limit(_FAST_MAX_ROWS + 1).collect() if _fast_ok else []
    )
    fast_used = _fast_ok and len(fast_rows) <= _FAST_MAX_ROWS
    if fast_used:
        import hashlib

        if not fast_rows:
            raise ValueError("kmeans_embeddings: empty corpus")
        pts = [
            (hashlib.md5(str(r["id"]).encode()).hexdigest(), list(r["q"]))
            for r in fast_rows
        ]
        cents = [q for _, q in sorted(pts, key=lambda p: p[0])[:k]]
        dim = len(cents[0])
        for _ in range(iters):
            sums = [[0] * dim for _ in range(len(cents))]
            cnts = [0] * len(cents)
            for _, q in pts:
                best, bd = 0, None
                for c, cq in enumerate(cents):
                    d = sum((a - b) * (a - b) for a, b in zip(q, cq))
                    if bd is None or d < bd:
                        best, bd = c, d
                cnts[best] += 1
                s = sums[best]
                for i, v in enumerate(q):
                    s[i] += v
            cents = [
                [trunc_div(sums[c][i], cnts[c]) for i in range(dim)]
                if cnts[c]
                else cents[c]
                for c in range(len(cents))
            ]
    else:
        seed = (
            base.orderBy(F.md5(F.col("id").cast("string"))).limit(k).collect()
        )
        cents = [list(r["q"]) for r in seed]
        if not cents:
            raise ValueError("kmeans_embeddings: empty corpus")
        dim = len(cents[0])

    def assigned_frame(cent_model: list[list[int]]) -> DataFrame:
        model = spark.createDataFrame(
            [(cent_model,)], "__c__ array<array<bigint>>"
        )
        dists = F.transform(
            F.col("__c__"),
            lambda c: F.aggregate(
                F.zip_with(F.col("q"), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        return (
            base.crossJoin(F.broadcast(model))
            .withColumn("__dists__", dists)
            .withColumn(
                "cluster_id",
                (
                    F.array_position(
                        F.col("__dists__"), F.array_min("__dists__")
                    )
                    - 1
                ).cast("int"),
            )
        )

    if not fast_used:
        for _ in range(iters):
            stats = (
                assigned_frame(cents)
                .select("cluster_id", F.posexplode("q").alias("pos", "val"))
                .groupBy("cluster_id", "pos")
                .agg(F.sum("val").alias("sm"), F.count(F.lit(1)).alias("cnt"))
                .collect()
            )  # k*dim rows — a bounded driver model, never data
            by_cluster: dict[int, list] = {}
            for r in stats:
                by_cluster.setdefault(r["cluster_id"], [None] * dim)[
                    r["pos"]
                ] = trunc_div(int(r["sm"]), int(r["cnt"]))
            cents = [
                by_cluster.get(c, cents[c]) for c in range(len(cents))
            ]  # empty cluster -> keep previous centroid

    final = assigned_frame(cents)
    return (
        final.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(
                F.element_at(F.col("__dists__"), F.col("cluster_id") + 1)
            ).alias("__sd__"),
        )
        .select(
            "cluster_id",
            "n_vectors",
            F.round(
                F.col("__sd__").cast("double")
                / F.col("n_vectors")
                / F.lit(float(scale) * scale),
                6,
            ).alias("avg_sq_dist"),
        )
    )


def bitext_margin_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based parallel-pair mining between two embedding sets
    (Artetxe & Schwenk 2019, the LASER/CCMatrix bitext-mining score):
    a (src, tgt) pair's raw cosine is normalized by the mean cosine of
    each endpoint's k nearest neighbors on the OTHER side, so hubs —
    vectors that are near everything — stop winning every alignment.

        margin(x, y) = cos(x, y) / ((avg_k(x -> tgt) + avg_k(y -> src)) / 2)

    Returns the best target per source with ``margin >= threshold``
    (ratio margin; > 1 means the pair stands out from its neighborhood).

    Scale shape: the scored frame is built once — ``tgt`` (in mining
    runs the smaller, newly-crawled side) broadcasts against an
    embarrassingly-parallel ``src`` scan, norms computed once per row
    per side.  Both direction top-k reductions and the margin join run
    off that single frame, keyed by src/tgt id — at 100 TB swap the
    broadcast cross for banded/IVF candidate generation (``ivf_topk``)
    and everything downstream is unchanged.  Neighborhood means use the
    1e7 fixed-point BIGINT discipline (order-free integer sums) so the
    margin is bit-stable under any shuffle order.
    """
    # pre-cast each side's vectors to double ONCE, outside the cross
    # join — otherwise every pair re-casts 2×dim floats inside the
    # interpreted HOF dot (the broadcast side's casts would repeat
    # n_src times); with double inputs Catalyst elides the lambda's
    # casts entirely.  Values are bit-identical (same float->double
    # widening), so the oracle is untouched.
    from file_d_spark.functions.dedup import spread

    as_double = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # spread the scanned side across cores (brute_force_topk's move):
    # a single-file embeddings scan is ONE input partition, and without
    # the round-robin the cross join, the HOF dots and the scored
    # checkpoint all serialize through one task (measured 6-8s of the
    # old 8.1s wall clock in that single-task materialization)
    s = spread(src).select(
        F.col(id_col).alias("src_id"),
        as_double.alias("s_vec"),
        norm(F.col(vec_col)).alias("s_norm"),
    )
    t = tgt.select(
        F.col(id_col).alias("tgt_id"),
        as_double.alias("t_vec"),
        norm(F.col(vec_col)).alias("t_norm"),
    )
    from file_d_spark.cachereg import register as _register_cache

    scored = (
        s.crossJoin(F.broadcast(t))
        .withColumn(
            "sim",
            dot(F.col("s_vec"), F.col("t_vec"))
            / (F.col("s_norm") * F.col("t_norm")),
        )
        .select(
            "src_id",
            "tgt_id",
            "sim",
            F.round(F.col("sim") * F.lit(1e7), 0).cast("long").alias("sim_fp"),
        )
    )
    # materialize the scored pairs ONCE: both direction windows and
    # the margin join read it, and without this each window re-runs
    # the full n_src x n_tgt HOF-dot pass (measured 16.8s -> 8.0s at
    # sf0.1 with the pre-cast above; the brute-force n² frame is the
    # operator's stated regime — at 100 TB candidate generation swaps
    # to ivf_topk and this checkpoint becomes candidate-sized)
    scored = _register_cache(scored.localCheckpoint(eager=True))
    # candidates are restricted to the forward kNN per the reference
    # algorithm (Artetxe & Schwenk 2019 score candidates over the
    # forward neighborhood only); this is a deliberate restriction,
    # not a lossless reduction — the margin denominator includes the
    # target's backward-neighborhood mean, so a lower-sim target
    # outside the top-k could in principle carry a higher margin
    ws = Window.partitionBy("src_id").orderBy(
        F.col("sim").desc(), F.col("tgt_id")
    )
    wt = Window.partitionBy("tgt_id").orderBy(
        F.col("sim").desc(), F.col("src_id")
    )
    # fwd feeds the src-neighborhood mean AND the margin join; it
    # reads the checkpointed scored frame, so no re-checkpoint needed
    fwd = (
        scored.withColumn("r", F.row_number().over(ws))
        .filter(F.col("r") <= k)
        .drop("r")
    )
    bwd = scored.withColumn("r", F.row_number().over(wt)).filter(
        F.col("r") <= k
    )
    s_hood = fwd.groupBy("src_id").agg(
        F.sum("sim_fp").alias("s_sum"), F.count(F.lit(1)).alias("s_cnt")
    )
    t_hood = bwd.groupBy("tgt_id").agg(
        F.sum("sim_fp").alias("t_sum"), F.count(F.lit(1)).alias("t_cnt")
    )
    denom = (
        F.col("s_sum").cast("double") / F.col("s_cnt")
        + F.col("t_sum").cast("double") / F.col("t_cnt")
    ) / F.lit(2.0) / F.lit(1e7)
    margined = (
        fwd
        .join(s_hood, "src_id")
        .join(t_hood, "tgt_id")
        .withColumn("margin", F.col("sim") / denom)
    )
    wbest = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("tgt_id")
    )
    return (
        margined.withColumn("rb", F.row_number().over(wbest))
        .filter((F.col("rb") == 1) & (F.col("margin") >= threshold))
        .select(
            "src_id",
            "tgt_id",
            F.round("sim", 6).alias("sim"),
            F.round("margin", 6).alias("margin"),
        )
    )


def dbscan_clusters(
    corpus: DataFrame,
    eps_sim: float = 0.45,
    min_pts: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs_fn=None,
) -> DataFrame:
    """Density-based clustering (DBSCAN) over an embedding column,
    with cosine >= ``eps_sim`` as the neighborhood relation: CORE
    points have >= ``min_pts`` neighbors (self included), clusters are
    the connected components of the core-core graph (labelled by min
    id), BORDER points attach to the smallest cluster label among
    their core neighbors, everything else is NOISE (cluster -1).
    Unlike k-means this needs no k and leaves outliers unclustered —
    the natural fit for "group the near-duplicate neighborhoods,
    ignore the long tail".

    Built entirely from the scale machinery that already exists: the
    eps-neighbor pairs come from ``pairs_fn`` — default
    :func:`cosine_pairs` (exact all-pairs, the verification/oracle
    regime) — and the component step is
    :func:`~file_d_spark.functions.dedup.connected_components`
    (bounded driver union-find fast path, large-star/small-star
    contraction beyond it).  Per-node degree is one groupBy over the
    symmetrized pair list; the border attachment is one join from
    non-core nodes to their core neighbors' labels.  Everything is
    keyed by node id — no global structure.

    ``pairs_fn`` is the 100 TB seam: any callable
    ``corpus -> DataFrame(id_a, id_b[, sim])`` whose pairs are the
    eps-neighbor relation.  The LSH-banded generator
    :func:`banded_cosine_pairs` (equi-join candidates, exact rerank —
    no broadcast of the corpus; at its default 4-bit bands the
    candidate volume is bucket-bounded, not n²) is the intended
    swap::

        dbscan_clusters(corpus, eps, pairs_fn=lambda c:
            banded_cosine_pairs(c, eps, dim=D))

    The swap trades recall for pruning (0.877 at eps=0.35 on the x10
    decade row, SCALE.md) — and DBSCAN AMPLIFIES misses: a missed
    eps-edge can demote a borderline core, detach its border points,
    or split a thinly-connected cluster, so cluster LABELS (not just
    pair lists) are approximate under a banded ``pairs_fn`` — at
    ``banded_cosine_pairs``'s r12 pruning defaults (48/12) as much as
    any other lossy generator.  For parity testing,
    per_band=1 banding (planes=16, bands=16) is recall-complete up to
    P(miss) < 1e-7, so banded == exact at fixture scale (asserted in
    tests/test_dbscan.py) — but it does not prune, so it is not the
    scale regime.
    """
    from file_d_spark.functions.dedup import connected_components

    if pairs_fn is None:
        pairs_fn = lambda c: cosine_pairs(c, eps_sim, id_col, vec_col)  # noqa: E731
    pairs = pairs_fn(corpus).select("id_a", "id_b")
    pairs = _register_cache(pairs.localCheckpoint(eager=True))
    sym = pairs.unionByName(
        pairs.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
        )
    )
    deg = sym.groupBy("id_a").agg(F.count(F.lit(1)).alias("__deg__"))
    core = deg.filter(F.col("__deg__") + 1 >= min_pts).select(
        F.col("id_a").alias("__core__")
    )
    core_edges = (
        sym.join(core.withColumnRenamed("__core__", "id_a"), "id_a")
        .join(core.withColumnRenamed("__core__", "id_b"), "id_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # core singletons (no core neighbor) still form their own cluster
    cc = connected_components(core_edges, "id_a", "id_b")
    core_labels = (
        core.join(
            cc.withColumnRenamed("id", "__core__"), "__core__", "left"
        )
        .select(
            F.col("__core__").alias("node"),
            F.coalesce("cluster_id", F.col("__core__")).alias("cluster_id"),
        )
    )
    border = (
        sym.join(core.withColumnRenamed("__core__", "id_a"), "id_a")
        .join(
            core_labels.withColumnRenamed("node", "id_a"),
            "id_a",
        )
        .join(
            core.withColumnRenamed("__core__", "id_b"),
            "id_b",
            "left_anti",
        )
        .groupBy(F.col("id_b").alias("node"))
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    labelled = core_labels.select(
        "node", "cluster_id", F.lit("core").alias("role")
    ).unionByName(
        border.select("node", "cluster_id", F.lit("border").alias("role"))
    )
    return (
        corpus.select(F.col(id_col).alias("node"))
        .join(labelled, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("cluster_id", F.lit(-1)).alias("cluster_id"),
            F.coalesce("role", F.lit("noise")).alias("role"),
        )
    )


def jl_project(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 16,
    plane_offset: int = 101,
    scale: float = 1e6,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: ``dim`` → ``out_dim``
    via deterministic LCG planes (``_hyperplane``, offset past the LSH
    signature planes so the two families stay independent), scaled by
    1/sqrt(out_dim) so expected pairwise distances are preserved —
    the dimensionality-reduction front end for the ANN path (project
    once, band/search in the cheap space, rerank in the original).

    Output is LONG format — (id, j, comp_fp) with the component in
    ``scale`` fixed-point (the kmeans round-half-away pattern, bigint
    cross-engine exact) — so the result value-hashes without
    array-dtype drift and the shape stays one narrow corpus pass:
    the planes ride the plan as folded literals (one HOF fold per
    output dim), no join, no shuffle, no Python.

    At 100 TB: a 4× dim cut is a 4× cut in every downstream dot
    product and candidate-pair byte volume; the projection itself is
    embarrassingly parallel and fuses into the scan projection.
    The conditional ``spread`` guards the single-partition-scan trap
    (a one-split embeddings file serializes the CPU-dense HOF dots
    onto one core — measured 2.51 → 1.16 s at x10; no-op when the
    scan already has enough splits).

    The whole projection ships as TWO SQL-text expressions (r13
    selectExpr pattern, r14): the Column form cost ~5,000 py4j round
    trips per plan build — F.lit on a plane list/ndarray expands to
    one trip per ELEMENT (16 × 64 floats) plus the per-plane
    zip_with/aggregate lambda algebra; the parsed trees are identical
    (dot_sql/arr_d_sql mirror dot/dot_lit op for op), so components
    are bit-equal.
    """
    from file_d_spark.functions.dedup import spread
    from file_d_spark.functions.sqlexpr import arr_d_sql, d_sql, dot_sql

    corpus = spread(corpus)
    inv = scale / math.sqrt(float(out_dim))
    v_sql = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"
    comps_sql = "array(" + ", ".join(
        "CAST(round({dot} * {inv}) AS BIGINT)".format(
            dot=dot_sql(
                "__v__", arr_d_sql(_hyperplane(dim, plane_offset + j))
            ),
            inv=d_sql(inv),
        )
        for j in range(out_dim)
    ) + ")"
    return corpus.selectExpr(f"`{id_col}`", f"{v_sql} AS __v__").selectExpr(
        f"`{id_col}`", f"posexplode({comps_sql}) AS (j, comp_fp)"
    )


def jl_project_oracle_sql(
    source_sql: str,
    id_col: str = "vec_id",
    vec_expr: str = "embedding",
    dim: int = 64,
    out_dim: int = 16,
    plane_offset: int = 101,
    scale: float = 1e6,
) -> str:
    """DuckDB mirror of :func:`jl_project`: the SAME LCG plane floats
    embedded as list literals in a VALUES table; list_sum's
    left-fold order matches the HOF aggregate's (the lsh_topk oracle
    precedent), and the fixed-point cast matches kmeans'."""
    inv = scale / math.sqrt(float(out_dim))
    rows = ", ".join(
        "({}, [{}])".format(
            j,
            ", ".join(repr(c) for c in _hyperplane(dim, plane_offset + j)),
        )
        for j in range(out_dim)
    )
    return f"""
    WITH e AS (SELECT {id_col}, CAST({vec_expr} AS DOUBLE[]) AS v
               FROM ({source_sql})),
    planes(j, p) AS (VALUES {rows})
    SELECT e.{id_col}, planes.j,
           CAST(round(list_sum(list_transform(range(1, {dim} + 1),
                  i -> e.v[i] * p[i])) * {inv!r}) AS BIGINT) AS comp_fp
    FROM e, planes
"""


# --------------------------------------------------------------------------
# MMR diversified selection
# --------------------------------------------------------------------------


def mmr_diversify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam_num: int = 7,
    lam_den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): pick
    ``k`` results per query that are RELEVANT but mutually DIVERSE —
    greedily maximize ``λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)``
    over a ``pool``-size exact top-k candidate set.  The standard
    recipe for building diverse eval/demo sets and dedup-aware
    retrieval shortlists from an embedding column.

    Exactness: λ is the rational ``lam_num/lam_den`` and every score
    is the INTEGER ``lam_num·sq − (lam_den−lam_num)·pen`` over 1e-6
    fixed-point sims (argmax is invariant under the positive
    ``lam_den`` scaling), so selection is exact integer arithmetic —
    the same cross-engine determinism idiom as bm25/dsir.  Ties break
    by id.

    Shape (r13): greedy selection is sequential in ``k``, but the
    per-query state — pool sims, pairwise sims, the selected set — is
    bounded by ``pool``, so the whole greedy runs IN-ROW: one
    groupBy(query) condenses the pool into an array of
    (id, sq, vec, norm) structs, and ``k`` staged projections each
    derive the next pick with array HOFs (argmin over a struct of
    (-score, id); penalties are pairwise fixed-point cosines computed
    from the carried vectors on demand).  The only corpus-sized work
    remains the one narrow :func:`brute_force_topk` pass that builds
    the pool.  No Python in the plan, and — unlike the r12 form,
    which unrolled the loop into k join/window stages with a
    localCheckpoint per pick (~40 driver jobs) — no joins, windows
    or checkpoints after the pool pass: per-query state never leaves
    its row, so a million-query batch scales as one keyed shuffle
    plus a projection chain.  Each staged pick column is referenced
    3x by the next projection, so CollapseProject keeps the stage
    boundaries and no pick expression is ever re-evaluated (the PQ
    staging discipline).  Output is bit-identical to the join/window
    form: same integer scores, same (score desc, id asc) tie-break,
    same fewer-than-k degradation (a query with an exhausted pool
    simply stops appending picks)."""
    if not (0 < lam_num < lam_den):
        raise ValueError("need 0 < lam_num < lam_den")
    if k < 1:
        raise ValueError("need k >= 1")
    cand = brute_force_topk(
        corpus, queries, k=pool, id_col=id_col, vec_col=vec_col
    )
    # fetch vectors for the CANDIDATES only: semi-join the corpus to
    # the bounded (queries x pool) id set before computing norms — a
    # second full-corpus transform+norm pass would contradict the
    # one-corpus-pass scale shape
    cand_ids = cand.select(F.col("neighbor_id").alias(id_col)).distinct()
    v = (
        corpus.join(F.broadcast(cand_ids), id_col)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
            norm(F.col(vec_col)).alias("nn"),
        )
    )
    cv = cand.join(v, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        F.round(F.col("sim") * 1e6).cast("long").alias("sq"),
        "v",
        "nn",
    )
    # one row per query: the pool as a sorted struct array (sorted by
    # id — the argmin picks are order-independent, sorting just makes
    # the collected array deterministic)
    grouped = cv.groupBy("query_id").agg(
        F.sort_array(
            F.collect_list(F.struct("neighbor_id", "sq", "v", "nn"))
        ).alias("__pool__")
    )
    comp = lam_den - lam_num
    # fixed-point pairwise cosine between a pool candidate c and a
    # selected member s, from the carried double vectors — the same
    # round(round(dot/(na*nb), 6) * 1e6) bigint as the r12 pair frame
    sab = (
        "CAST(round(round(aggregate(zip_with(c.v, s.v, (x, y) -> x * y),"
        " 0.0D, (acc, x) -> acc + x) / (c.nn * s.nn), 6) * 1000000.0D)"
        " AS BIGINT)"
    )
    # pick 1: max relevance, ties to the smallest id — argmin over
    # struct(-score, id).  A group row exists only for a non-empty
    # pool, so the pick is never NULL.  The pick is BOUND as a lambda
    # variable via the one-element-transform idiom so its argmin is
    # evaluated once, not once per reference.
    pick1 = (
        "array_min(transform(__pool__, c ->"
        f" struct(-({lam_num} * c.sq) AS ns, c.neighbor_id AS id)))"
    )
    init = (
        f"element_at(transform(array({pick1}), pk -> struct("
        "filter(__pool__, c -> c.neighbor_id = pk.id) AS sel,"
        " array(struct(1 AS pick, pk.id AS sel_id,"
        " (- pk.ns) AS score_fp)) AS out)), 1)"
    )
    if k == 1:
        out_sql = f"({init}).out"
    else:
        # picks 2..k: one aggregate() fold whose accumulator carries
        # (selected structs, output picks).  Loop state lives in
        # lambda VARIABLES, which the optimizer cannot inline — the
        # staged-projection form of this loop was CollapseProject'd
        # into a ~1 MB expression tree (measured, r13); the fold keeps
        # the whole greedy at O(pool) expression size for any k.
        score = (
            f"{lam_num} * c.sq - {comp} *"
            f" array_max(transform(acc.sel, s -> {sab}))"
        )
        pick_p = (
            "array_min(transform(__pool__, c ->"
            " CASE WHEN NOT exists(acc.sel, s ->"
            " s.neighbor_id = c.neighbor_id)"
            f" THEN struct(-({score}) AS ns, c.neighbor_id AS id)"
            " ELSE NULL END))"
        )
        out_sql = (
            f"aggregate(sequence(2, {k}), {init},"
            f" (acc, p) -> element_at(transform(array({pick_p}), pk ->"
            " CASE WHEN pk IS NULL THEN acc ELSE struct("
            "concat(acc.sel,"
            " filter(__pool__, c -> c.neighbor_id = pk.id)) AS sel,"
            " array_append(acc.out, struct(p AS pick, pk.id AS sel_id,"
            " (- pk.ns) AS score_fp)) AS out) END), 1)).out"
        )
    staged = grouped.selectExpr("query_id", f"{out_sql} AS __out__")
    selected = staged.select(
        "query_id", F.explode("__out__").alias("__o__")
    ).select(
        "query_id",
        F.col("__o__.sel_id").alias("sel_id"),
        F.col("__o__.pick").alias("pick"),
        F.col("__o__.score_fp").alias("score_fp"),
    )
    # score_fp carries the lam_den scaling (argmax-invariant); divide
    # it back out so `mmr` is the actual Carbonell-Goldstein score.
    # The 6dp rounding happens IN INTEGER ARITHMETIC (half away from
    # zero on the exact fixed-point score) — a float round here sits
    # exactly on the .5 decimal boundary whenever score_fp % lam_den
    # == lam_den/2, where Spark's BigDecimal HALF_UP and DuckDB's
    # multiply-and-rint disagree by 1e-6 (observed at sf0.01).  The
    # final float is ONE exact-integer division on both engines, so
    # the driver hash can't drift.
    sgn = F.when(F.col("score_fp") < 0, F.lit(-1)).otherwise(F.lit(1))
    fp6 = sgn * F.expr(
        f"(abs(score_fp) * 2 + {lam_den}) div {2 * lam_den}"
    )
    return selected.select(
        "query_id", "pick", "sel_id",
        (fp6.cast("double") / F.lit(1e6)).alias("mmr"),
    )


def mmr_oracle_sql(
    k: int = 5,
    pool: int = 20,
    lam_num: int = 7,
    lam_den: int = 10,
    n_queries: int = 5,
) -> str:
    """DuckDB mirror of :func:`mmr_diversify` over the embeddings
    table with queries = vec_id < ``n_queries``: the greedy loop
    unrolls into sel1..sel{k} CTEs with the SAME integer fixed-point
    scores and id tiebreaks, so selection is bit-identical."""
    cos = (
        "list_sum(list_transform(range(1, len({a}.embedding)+1),"
        " i -> {a}.embedding[i]::DOUBLE * {b}.{bv}[i]::DOUBLE))"
        " / (sqrt(list_sum(list_transform(range(1, len({a}.embedding)+1),"
        " i -> {a}.embedding[i]::DOUBLE * {a}.embedding[i]::DOUBLE)))"
        " * sqrt(list_sum(list_transform(range(1, len({b}.{bv})+1),"
        " i -> {b}.{bv}[i]::DOUBLE * {b}.{bv}[i]::DOUBLE))))"
    )
    comp = lam_den - lam_num
    parts = [f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < {n_queries}),
    scored0 AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {cos.format(a='c', b='q', bv='qv')} AS sim
      FROM embeddings c, q WHERE c.vec_id != q.query_id),
    cand AS (
      SELECT query_id, neighbor_id, round(sim, 6) AS sim FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rk
        FROM scored0) WHERE rk <= {pool}),
    base AS (SELECT query_id, neighbor_id,
                    CAST(round(sim * 1e6) AS BIGINT) AS sq FROM cand),
    pair AS (
      SELECT a.query_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
             CAST(round(round({cos.format(a='ea', b='eb', bv='embedding')},
                              6) * 1e6) AS BIGINT) AS sab
      FROM cand a
      JOIN cand b ON a.query_id = b.query_id
                 AND a.neighbor_id != b.neighbor_id
      JOIN embeddings ea ON ea.vec_id = a.neighbor_id
      JOIN embeddings eb ON eb.vec_id = b.neighbor_id),
    sel1 AS (
      SELECT query_id, neighbor_id AS sel_id, 1 AS pick,
             {lam_num} * sq AS score_fp
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY sq DESC, neighbor_id) rk
            FROM base) WHERE rk = 1)"""]
    for p in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_id, sel_id FROM sel{i}" for i in range(1, p)
        )
        parts.append(f""",
    selu{p} AS ({prev}),
    sel{p} AS (
      SELECT query_id, neighbor_id AS sel_id, {p} AS pick, score_fp FROM (
        SELECT s.query_id, s.neighbor_id, s.score_fp,
               row_number() OVER (PARTITION BY s.query_id
                                  ORDER BY s.score_fp DESC, s.neighbor_id) rk
        FROM (
          SELECT b.query_id, b.neighbor_id,
                 {lam_num} * b.sq - {comp} * max(pr.sab) AS score_fp
          FROM base b
          JOIN pair pr ON pr.query_id = b.query_id
                      AND pr.id_a = b.neighbor_id
          JOIN selu{p} su ON su.query_id = pr.query_id
                         AND su.sel_id = pr.id_b
          WHERE NOT EXISTS (SELECT 1 FROM selu{p} x
                            WHERE x.query_id = b.query_id
                              AND x.sel_id = b.neighbor_id)
          GROUP BY b.query_id, b.neighbor_id, b.sq) s) WHERE rk = 1)""")
    union = " UNION ALL ".join(
        f"SELECT * FROM sel{i}" for i in range(1, k + 1)
    )
    parts.append(f"""
    SELECT query_id, pick, sel_id,
           ((CASE WHEN score_fp < 0 THEN -1 ELSE 1 END)
            * ((abs(score_fp) * 2 + {lam_den}) // {2 * lam_den}))::DOUBLE
           / 1e6 AS mmr
    FROM ({union})""")
    return "".join(parts)

