"""Distinct-count and frequency sketches — the approximate-analytics
layer a 100 TB corpus needs when exact answers are too expensive.

Three classic mergeable sketches, each expressed as plain DataFrame
aggregations (no UDFs, no driver-side data) and each engine-portable
so DuckDB can replay the EXACT sketch, register for register:

* :func:`hll_distinct` — HyperLogLog (Flajolet et al. 2007).  One
  corpus shuffle to (group, bucket) max-rank registers; the estimator
  folds the m registers into one exact BIGINT before the single
  double division, so the float is bit-identical cross-engine.
* :func:`kmv_distinct` — K-Minimum-Values / bottom-k (Bar-Yossef et
  al. 2002).  Distinct hashes, k smallest per group, estimate from
  the k-th.
* :func:`_cms_from_counts` — Count-Min (Cormode & Muthukrishnan
  2005) depth×width integer counter matrix + candidate estimation
  (min over the depth rows), all-integer until the final comparison.

Portability contract (shared with dedup/similarity/corpus): hashes
are the first 8 hex chars of md5 — ``conv(substr(md5(x),1,8),16,10)``
in Spark ≡ ``('0x'||substr(md5(x),1,8))::UBIGINT`` in DuckDB (32-bit
value in a BIGINT, probe-tested bit-equal); rank-of-first-one-bit is
derived from ``length(bin(w))``, integer-exact in both engines.  At
production scale swap the hash for xxhash64 Spark-side — the sketch
shapes are hash-agnostic; md5-32 keeps the oracle honest at test SF.

Scale shape: every sketch is a bounded keyed aggregate — HLL state is
m registers per group, KMV k hashes per group, CMS depth×width
counters total.  All are algebraic (max / min / sum), so Spark
computes them with map-side partial aggregation: the corpus shuffle
moves only per-partition partial registers, never raw values.  The
sketches merge by construction (max of registers, union of bottom-k,
sum of counters), which is what makes them per-partition-parallel and
streaming-compatible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: hash width in bits (md5 first 8 hex chars)
HASH_BITS = 32


def _h32(col):
    """Portable 32-bit hash: first 8 md5 hex chars as an integer."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    )


def hll_alpha(m: int) -> float:
    """Bias-correction constant alpha_m (Flajolet et al. 2007 fig. 3)."""
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_distinct(
    df: DataFrame, group_col: str, value_col: str, b: int = 9
) -> DataFrame:
    """HyperLogLog distinct estimate per group.

    ``b`` index bits → m = 2^b registers.  bucket = low b hash bits;
    rank = position of the first set bit in the remaining
    ``HASH_BITS - b`` bits (their count + 1 when none).  Registers
    fold to one exact ``sum_fp = Σ 2^(40 - M_j)`` BIGINT (empty
    registers contribute 2^40), so the only float op is the final
    ``coef / sum_fp`` — bit-identical cross-engine.  The small-range
    linear-counting correction (E ≤ 2.5 m with empty registers)
    applies ``m·ln(m/zeros)`` like the reference estimator.

    Columns: (group, zeros, sum_fp, estimate).
    """
    m = 1 << b
    rem = HASH_BITS - b
    h = _h32(F.col(value_col))
    w = F.shiftright(h, b)
    rank = F.when(w == 0, F.lit(rem + 1)).otherwise(
        F.lit(rem) - F.length(F.bin(w)) + 1
    )
    # null values hash to a null bucket row that would inflate
    # count(*) (so `zeros` undercounts) — a null contributes nothing
    # to a distinct count, so drop it here, mirrored by the oracle's
    # WHERE
    folded = (
        df.where(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).alias("g"),
            h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
            rank.alias("r"),
        )
        .groupBy("g", "bucket")
        .agg(F.max("r").alias("mj"))
        .groupBy("g")
        .agg(
            (F.lit(m) - F.count(F.lit(1))).cast("long").alias("zeros"),
            (
                F.sum(F.expr("shiftleft(cast(1 as bigint), 40 - mj)"))
                + (F.lit(m) - F.count(F.lit(1)))
                * F.lit(1 << 40).cast("long")
            ).cast("long").alias("sum_fp"),
        )
    )
    # the estimator: one double division (or the linear-counting
    # branch), mirrored textually by hll_oracle_sql
    coef = hll_alpha(m) * m * m * float(1 << 40)
    raw = F.lit(coef) / F.col("sum_fp").cast("double")
    lc = F.lit(float(m)) * F.log(
        F.lit(float(m)) / F.col("zeros").cast("double")
    )
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("zeros") > 0), lc
    ).otherwise(raw)
    return folded.select(
        F.col("g").alias(group_col),
        "zeros",
        "sum_fp",
        F.round(est, 4).alias("estimate"),
    )


def hll_oracle_sql(
    source_sql: str, group_col: str, value_expr: str, b: int = 9
) -> str:
    """DuckDB mirror of :func:`hll_distinct` over ``source_sql``
    (a relation exposing ``group_col`` and ``value_expr``)."""
    m = 1 << b
    rem = HASH_BITS - b
    coef = hll_alpha(m) * m * m * float(1 << 40)
    return f"""
    WITH src AS ({source_sql}),
    hashed AS (
      SELECT {group_col} AS g,
             ('0x' || substr(md5(CAST({value_expr} AS VARCHAR)), 1, 8))
               ::UBIGINT::BIGINT AS h
      FROM src WHERE {value_expr} IS NOT NULL),
    ranked AS (
      SELECT g, h & {m - 1} AS bucket,
             CASE WHEN (h >> {b}) = 0 THEN {rem + 1}
                  ELSE {rem} - len(bin(h >> {b})) + 1 END AS r
      FROM hashed),
    regs AS (SELECT g, bucket, max(r) AS mj FROM ranked GROUP BY g, bucket),
    folded AS (
      SELECT g,
             CAST({m} - count(*) AS BIGINT) AS zeros,
             CAST(sum(CAST(1 AS BIGINT) << (40 - mj))
                  + ({m} - count(*)) * (CAST(1 AS BIGINT) << 40)
               AS BIGINT) AS sum_fp
      FROM regs GROUP BY g)
    SELECT g AS {group_col}, zeros, sum_fp,
           round(CASE WHEN {coef!r} / CAST(sum_fp AS DOUBLE) <= {2.5 * m!r}
                       AND zeros > 0
                      THEN {float(m)!r} * ln({float(m)!r}
                                             / CAST(zeros AS DOUBLE))
                      ELSE {coef!r} / CAST(sum_fp AS DOUBLE) END,
                 4) AS estimate
    FROM folded
"""


def kmv_distinct(
    df: DataFrame, group_col: str, value_col: str, k: int = 64
) -> DataFrame:
    """K-Minimum-Values distinct estimate per group: the k smallest
    distinct 32-bit hashes; estimate (k-1)·2^32 / h_k when the group
    reaches k distinct values, else the exact distinct count.

    The window runs over the DISTINCT-hash frame (already reduced by
    the groupBy), not raw rows, so a hot group costs its distinct
    count, not its row count.  Columns: (group, n_distinct_capped,
    kth_hash, estimate).

    Nulls are dropped (they contribute nothing to a distinct count;
    a null hash would also sort NULLS FIRST here but NULLS LAST in
    DuckDB, breaking bit-parity)."""
    hashes = (
        df.where(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).alias("g"), _h32(F.col(value_col)).alias("h")
        )
        .groupBy("g", "h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .drop("_n")
    )
    w = Window.partitionBy("g").orderBy("h")
    ranked = hashes.select(
        "g", "h", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= k)
    agg = ranked.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_capped"),
        F.max(F.when(F.col("rk") == k, F.col("h"))).alias("kth_hash"),
    )
    est = F.when(
        F.col("kth_hash").isNotNull(),
        F.round(
            F.lit(float((k - 1) * (1 << HASH_BITS)))
            / F.col("kth_hash").cast("double"),
            4,
        ),
    ).otherwise(F.col("n_distinct_capped").cast("double"))
    return agg.select(
        F.col("g").alias(group_col),
        "n_distinct_capped",
        "kth_hash",
        est.alias("estimate"),
    )


def kmv_oracle_sql(
    source_sql: str, group_col: str, value_expr: str, k: int = 64
) -> str:
    """DuckDB mirror of :func:`kmv_distinct`."""
    return f"""
    WITH src AS ({source_sql}),
    hashes AS (
      SELECT DISTINCT {group_col} AS g,
             ('0x' || substr(md5(CAST({value_expr} AS VARCHAR)), 1, 8))
               ::UBIGINT::BIGINT AS h
      FROM src WHERE {value_expr} IS NOT NULL),
    ranked AS (
      SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk
      FROM hashes),
    agg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_distinct_capped,
             max(CASE WHEN rk = {k} THEN h END) AS kth_hash
      FROM ranked WHERE rk <= {k} GROUP BY g)
    SELECT g AS {group_col}, n_distinct_capped, kth_hash,
           CASE WHEN kth_hash IS NOT NULL
                THEN round({float((k - 1) * (1 << HASH_BITS))!r}
                           / CAST(kth_hash AS DOUBLE), 4)
                ELSE CAST(n_distinct_capped AS DOUBLE) END AS estimate
    FROM agg
"""


def kmv_overlap(
    df_a: DataFrame, df_b: DataFrame, value_col: str, k: int = 256
) -> DataFrame:
    """Set-overlap estimation between two corpora WITHOUT a join —
    the theta-sketch pattern (Dasgupta et al. 2016): each side keeps
    its bottom-``k`` distinct hashes (a valid KMV sketch), the two
    k-sized sketches merge (union, re-take the k smallest), and
    within that uniform sample Jaccard = fraction present in both.
    Union distinct scales from the k-th hash; intersection =
    Jaccard × union.

    The per-side bottom-k uses ``orderBy(h).limit(k)`` — Spark's
    TakeOrderedAndProject computes per-partition top-k before the
    single-driver merge, so no global sort and no single-task window
    ever sees the full distinct-hash frame.  Everything after the two
    per-side reductions touches ≤ 2k rows.

    One row: (k_used, kth_hash, common, jaccard, union_est,
    intersection_est)."""

    def bottom_k(df, a_flag: int, b_flag: int):
        # null-safe like kmv_distinct: a null hash would sort NULLS
        # FIRST in Spark / NULLS LAST in DuckDB and steal a k-slot
        return (
            df.where(F.col(value_col).isNotNull())
            .select(_h32(F.col(value_col)).alias("h"))
            .distinct()
            .orderBy("h")
            .limit(k)
            .select(
                "h", F.lit(a_flag).alias("a"), F.lit(b_flag).alias("b")
            )
        )

    merged = (
        bottom_k(df_a, 1, 0)
        .unionByName(bottom_k(df_b, 0, 1))
        .groupBy("h")
        .agg(F.max("a").alias("a"), F.max("b").alias("b"))
        .orderBy("h")
        .limit(k)
    )
    agg = merged.agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.max("h").alias("kth_hash"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("common"),
    )
    jac = F.col("common").cast("double") / F.col("k_used").cast("double")
    union_est = F.when(
        F.col("k_used") < k, F.col("k_used").cast("double")
    ).otherwise(
        F.lit(float((k - 1) * (1 << HASH_BITS)))
        / F.col("kth_hash").cast("double")
    )
    return agg.select(
        "k_used",
        "kth_hash",
        "common",
        F.round(jac, 6).alias("jaccard"),
        F.round(union_est, 4).alias("union_est"),
        F.round(jac * union_est, 4).alias("intersection_est"),
    )


def kmv_overlap_oracle_sql(
    source_a_sql: str, source_b_sql: str, value_expr: str, k: int = 256
) -> str:
    """DuckDB mirror of :func:`kmv_overlap` (``source_*_sql`` expose
    ``value_expr``)."""
    h = (
        f"('0x' || substr(md5(CAST({value_expr} AS VARCHAR)), 1, 8))"
        "::UBIGINT::BIGINT"
    )
    return f"""
    WITH a_sk AS (
      SELECT h, 1 AS a, 0 AS b FROM (
        SELECT DISTINCT {h} AS h FROM ({source_a_sql})
        WHERE {value_expr} IS NOT NULL)
      ORDER BY h LIMIT {k}),
    b_sk AS (
      SELECT h, 0 AS a, 1 AS b FROM (
        SELECT DISTINCT {h} AS h FROM ({source_b_sql})
        WHERE {value_expr} IS NOT NULL)
      ORDER BY h LIMIT {k}),
    merged AS (
      SELECT h, max(a) AS a, max(b) AS b
      FROM (SELECT * FROM a_sk UNION ALL SELECT * FROM b_sk)
      GROUP BY h ORDER BY h LIMIT {k}),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth_hash,
             CAST(sum(a * b) AS BIGINT) AS common
      FROM merged)
    SELECT k_used, kth_hash, common,
           round(CAST(common AS DOUBLE) / CAST(k_used AS DOUBLE), 6)
             AS jaccard,
           round(CASE WHEN k_used < {k} THEN CAST(k_used AS DOUBLE)
                      ELSE {float((k - 1) * (1 << HASH_BITS))!r}
                           / CAST(kth_hash AS DOUBLE) END, 4) AS union_est,
           round((CAST(common AS DOUBLE) / CAST(k_used AS DOUBLE))
                 * (CASE WHEN k_used < {k} THEN CAST(k_used AS DOUBLE)
                         ELSE {float((k - 1) * (1 << HASH_BITS))!r}
                              / CAST(kth_hash AS DOUBLE) END), 4)
             AS intersection_est
    FROM agg
"""


def _cms_from_counts(
    counts: DataFrame, value_col: str, depth: int, width: int, k: int
) -> DataFrame:
    """Count-Min sketch + heavy-hitter readout over a prepared
    ``(v, n)`` value-count frame (non-null values cast to string, one
    row per value).  The caller holds (and caches) that frame, so a
    suite computing several sketches pays one corpus pass.

    Builds the depth×width integer counter matrix (row r hashes
    ``value || '#' || r``), then estimates the frequency of the true
    top-``k`` values as the min over the depth rows — the classic
    CMS point query, always ≥ the exact count.  All counters are
    exact BIGINTs; the sketch is ``depth·width`` rows regardless of
    corpus size, and the candidate join broadcasts ``depth·k`` cells.

    Columns: (value, exact_count, cms_estimate) — the pair exposes
    the sketch's overestimate for error auditing."""
    rows = F.explode(
        F.sequence(F.lit(0), F.lit(depth - 1))
    ).alias("r")
    cells = counts.select("v", "n", rows).select(
        "r",
        F.pmod(
            _h32(F.concat(F.col("v"), F.lit("#"), F.col("r").cast("string"))),
            F.lit(width),
        ).alias("c"),
        "n",
    )
    sketch = cells.groupBy("r", "c").agg(F.sum("n").cast("long").alias("cnt"))

    top = counts.orderBy(F.col("n").desc(), "v").limit(k)
    probes = top.select("v", F.col("n").alias("exact_count"), rows).select(
        "v",
        "exact_count",
        "r",
        F.pmod(
            _h32(F.concat(F.col("v"), F.lit("#"), F.col("r").cast("string"))),
            F.lit(width),
        ).alias("c"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["r", "c"])
        .groupBy("v", "exact_count")
        .agg(F.min("cnt").cast("long").alias("cms_estimate"))
    )
    return est.select(
        F.col("v").alias(value_col), "exact_count", "cms_estimate"
    )


def cms_oracle_sql(
    source_sql: str,
    value_expr: str,
    value_name: str,
    depth: int = 4,
    width: int = 1024,
    k: int = 10,
) -> str:
    """DuckDB mirror of :func:`_cms_from_counts` over ``source_sql``."""
    return f"""
    WITH src AS ({source_sql}),
    counts AS (
      SELECT CAST({value_expr} AS VARCHAR) AS v,
             CAST(count(*) AS BIGINT) AS n
      FROM src WHERE {value_expr} IS NOT NULL GROUP BY 1),
    cells AS (
      SELECT r, ('0x' || substr(md5(v || '#' || CAST(r AS VARCHAR)), 1, 8))
                  ::UBIGINT::BIGINT % {width} AS c,
             n
      FROM counts, UNNEST(range(0, {depth})) AS u(r)),
    sketch AS (SELECT r, c, CAST(sum(n) AS BIGINT) AS cnt
               FROM cells GROUP BY r, c),
    top AS (SELECT v, n FROM counts ORDER BY n DESC, v LIMIT {k}),
    probes AS (
      SELECT v, n AS exact_count, r,
             ('0x' || substr(md5(v || '#' || CAST(r AS VARCHAR)), 1, 8))
               ::UBIGINT::BIGINT % {width} AS c
      FROM top, UNNEST(range(0, {depth})) AS u(r))
    SELECT p.v AS {value_name}, p.exact_count,
           CAST(min(s.cnt) AS BIGINT) AS cms_estimate
    FROM probes p JOIN sketch s USING (r, c)
    GROUP BY p.v, p.exact_count
"""


def _f2_from_counts(counts: DataFrame, reps: int) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon, Matias & Szegedy
    1996) over a prepared ``(v, f)`` value-count frame (non-null
    values cast to string, one row per value; a null contributes no
    self-join pairs).  F2 = Σ_v f_v² — the SELF-JOIN SIZE of the value
    column, the quantity a 100 TB join planner wants before committing
    to a shuffle.  ``reps`` independent ±1 hash signs s_r(v); each
    rep's X_r = Σ_v s_r(v)·f_v is an EXACT BIGINT (one keyed aggregate
    over the counts frame), E[X_r²] = F2, and the estimate averages
    the X_r² across reps — the only float op is the final division, so
    the result is bit-identical cross-engine.

    Scale shape: the caller pays one corpus shuffle to (value, count)
    and can share it across sketches; this side then explodes ``reps``
    sign cells per DISTINCT value (bounded by the distinct count, not
    the row count) into ONE aggregate of ``reps`` rows.  X_r² is
    computed in exact integer arithmetic — at test scale X_r < 2³¹ so
    the square fits a BIGINT; at production scale shard values and
    merge X_r per shard (the sketch is linear: X_r(A∪B) = X_r(A) +
    X_r(B)).

    One row: (reps, f2_exact, f2_estimate) — exact vs estimate
    exposed for error auditing, the CMS readout's convention.
    """
    cells = counts.select(
        "v",
        "f",
        F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("r"),
    ).select(
        "r",
        (
            (
                F.lit(1)
                - F.lit(2)
                * _h32(
                    F.concat(F.col("v"), F.lit("#r"), F.col("r").cast("string"))
                ).bitwiseAND(F.lit(1))
            )
            * F.col("f")
        ).cast("long").alias("sf"),
    )
    xs = cells.groupBy("r").agg(F.sum("sf").cast("long").alias("x"))
    est = xs.agg(
        (
            F.sum(F.col("x") * F.col("x")).cast("double") / F.lit(float(reps))
        ).alias("f2_estimate")
    )
    exact = counts.agg(
        F.sum(F.col("f") * F.col("f")).cast("long").alias("f2_exact")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        F.lit(reps).cast("long").alias("reps"),
        "f2_exact",
        F.round("f2_estimate", 4).alias("f2_estimate"),
    )


def f2_oracle_sql(source_sql: str, value_expr: str, reps: int = 16) -> str:
    """DuckDB mirror of :func:`_f2_from_counts` over ``source_sql``."""
    return f"""
    WITH src AS ({source_sql}),
    counts AS (
      SELECT CAST({value_expr} AS VARCHAR) AS v,
             CAST(count(*) AS BIGINT) AS f
      FROM src WHERE {value_expr} IS NOT NULL GROUP BY 1),
    cells AS (
      SELECT r,
             CAST((1 - 2 * (('0x' || substr(md5(v || '#r'
                    || CAST(r AS VARCHAR)), 1, 8))::UBIGINT::BIGINT & 1))
                  * f AS BIGINT) AS sf
      FROM counts, UNNEST(range(0, {reps})) AS u(r)),
    xs AS (SELECT r, CAST(sum(sf) AS BIGINT) AS x FROM cells GROUP BY r),
    est AS (SELECT CAST(sum(x * x) AS DOUBLE) / {float(reps)!r}
              AS f2_estimate FROM xs),
    exact AS (SELECT CAST(sum(f * f) AS BIGINT) AS f2_exact FROM counts)
    SELECT CAST({reps} AS BIGINT) AS reps, f2_exact,
           round(f2_estimate, 4) AS f2_estimate
    FROM exact, est
"""
