"""Heavy-hitter guard for per-key count windows.

Problem (the one window-shaped skew hazard in this repo): a
``count(*) over (partition by key)`` puts EVERY occurrence of one key
into a single WindowExec task.  groupBy hot keys condense map-side and
joins get AQE skew-splitting, but Spark has NO mitigation for window
skew — a boilerplate 8-gram repeated 10^8-10^9 times at 100 TB funnels
GBs through one task and serializes the stage.

Guard (exact, fast-path-preserving):

1. *Discovery*: count grams over a DETERMINISTIC hash-based document
   subsample and collect the keys whose sampled count reaches a
   threshold (bounded ``max_hot`` rows driver-side).  Sampled
   occurrences are real occurrences, so every collected key certainly
   occurs at least ``threshold`` times corpus-wide — the guard never
   misclassifies a key as duplicated.  A key with true count far above
   ``threshold / fraction`` is caught with overwhelming probability,
   which is exactly the population that would serialize a window task.
2. *No hot keys* (every non-adversarial corpus at test scale): the
   caller keeps its ORIGINAL single-window plan, unchanged — the guard
   costs one subsampled count pass and nothing else.
3. *Hot keys found*: the caller broadcast-joins the hot set as a
   marker column, salts the window key FOR HOT ROWS ONLY (cold rows
   keep salt 0, so their window count stays exact over the whole key)
   and overrides the windowed value for hot rows from the marker —
   hot by sampled-count >= min_count is duplicated by definition, so
   the override is bit-identical to what the unguarded window would
   have produced, while no window task ever sees more than
   ``1/n_salts`` of a hot key.

Default thresholds are deliberately scale-gated: with
``fraction=0.01`` and ``threshold=10_000`` a key goes hot only when
its estimated corpus-wide count is ~1e6+ — the guard never fires at
sf0.01/sf0.1 (plans stay byte-identical to the unguarded form) and
fires exactly on the Zipfian boilerplate population at 100 TB.

Reference scope note: the reference engine (file.d) has no corpus
dedup at all — this module exists for the training-data operators
(dup_span_fraction, remove_dup_spans, line_dedup, jaccard_pairs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A key is hot when it shows up this many times in the subsample.
# Estimated true count at default fraction: THRESHOLD / FRACTION = 1M.
DEFAULT_FRACTION = 0.01
DEFAULT_THRESHOLD = 10_000
DEFAULT_MAX_HOT = 100_000  # driver-side bound on the collected hot set
DEFAULT_SALTS = 256  # hot-key spread: no task sees > 1/256 of a hot key

_MOD = 1_000_000  # hash-split modulus for the deterministic subsample


def doc_sample(df: DataFrame, id_col: str, fraction: float) -> DataFrame:
    """Deterministic hash-split document subsample: no RNG state, the
    same documents are selected on any engine or partitioning (same
    doctrine as the corpus hash_split operator).  fraction >= 1 returns
    the frame unchanged; fraction <= 0 returns an empty frame."""
    if fraction >= 1.0:
        return df
    bound = int(fraction * _MOD)
    return df.filter(
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(_MOD))
        < F.lit(bound)
    )


def hot_keys(
    grams: DataFrame,
    key_col: str,
    threshold: int,
    max_hot: int = DEFAULT_MAX_HOT,
) -> list:
    """Keys occurring >= ``threshold`` times in ``grams`` (a frame
    derived from a :func:`doc_sample` subsample), most frequent first,
    at most ``max_hot`` of them.  The groupBy condenses map-side, the
    filter keeps only heavy hitters, and the collect is bounded by
    ``max_hot`` — driver state stays a bounded model, per SCALE.md.

    Every build runs this pass; keep no hot set between builds.  The
    sampling job also materializes a persisted input (the tokenized
    survivors of ``corpus_build_end2end``), whose measured size picks
    the later joins, so a build that skipped it would plan differently."""
    rows = (
        grams.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__c__"))
        .filter(F.col("__c__") >= threshold)
        .orderBy(F.desc("__c__"), key_col)
        .limit(max_hot)
        .collect()
    )
    return [r[0] for r in rows]


def hot_marker(
    df: DataFrame, keys: list, key_col: str, key_type: str = "long"
) -> DataFrame:
    """Left-join a broadcast hot-key set onto ``df`` as a nullable
    boolean ``__hot__`` column (True for hot keys, null otherwise).
    One broadcast hash join — narrow, no shuffle of ``df``."""
    spark = df.sparkSession
    hot_df = spark.createDataFrame(
        [(k,) for k in keys], schema=f"{key_col} {key_type}"
    ).withColumn("__hot__", F.lit(True))
    return df.join(F.broadcast(hot_df), key_col, "left")


def salt_col(doc_col: str, n_salts: int = DEFAULT_SALTS) -> Column:
    """Window-key salt: spreads HOT rows over ``n_salts`` buckets
    (deterministic per document), keeps cold rows in bucket 0 so their
    per-key window stays exact.  Use as an extra partitionBy column."""
    return F.when(
        F.col("__hot__"),
        F.pmod(F.xxhash64(F.col(doc_col).cast("string")), F.lit(n_salts)),
    ).otherwise(F.lit(0))
