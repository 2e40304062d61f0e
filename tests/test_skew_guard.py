"""Heavy-hitter guard for the hot-gram count windows
(file_d_spark/functions/skew.py): on a Zipfian corpus — one
boilerplate phrase shared by a large fraction of documents — the
guarded plans must (a) detect the hot key from the deterministic
subsample, (b) salt the window key so no task holds the whole hot
partition, and (c) return BIT-IDENTICAL results to the unguarded
single-window form (the guard is exact: sampled occurrences are real
occurrences, so subsample-hot implies corpus-dup)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from file_d_spark.functions import corpus, dedup, skew

BOILER = "subscribe to our newsletter today for free daily updates"
N_DOCS = 120

# aggressive guard params for test scale: full-sample discovery makes
# the hot set exact and deterministic
GUARD = dict(hot_fraction=1.0, hot_threshold=2, hot_salts=8)
NO_GUARD = dict(hot_fraction=0.0)


@pytest.fixture(scope="module")
def skewed(spark):
    """~35% of all 8-grams come from one boilerplate phrase: every doc
    carries it, plus doc-unique filler (so docs are NOT near-dups of
    each other — only the phrase is hot)."""
    rows = []
    for i in range(N_DOCS):
        filler = " ".join(f"u{i}w{j}" for j in range(12))
        rows.append((i, f"{filler} {BOILER}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rowmap(df, key=lambda r: r[0]):
    return {key(r): tuple(r) for r in df.collect()}


def test_hot_key_discovered(skewed):
    from file_d_spark.functions.dedup import _portable_hash60
    from file_d_spark.functions.quality import _ngram_col
    from file_d_spark.functions.text import tokens

    grams = skewed.select(
        F.explode(
            F.array_distinct(_ngram_col(tokens(F.col("text")), 8))
        ).alias("g")
    ).select(_portable_hash60(F.col("g")).alias("__h__"))
    hot = skew.hot_keys(grams, "__h__", threshold=N_DOCS // 2)
    # the boilerplate phrase contributes grams present in EVERY doc;
    # no filler gram repeats across docs
    assert len(hot) >= 1
    counts = {
        r[0]: r[1]
        for r in grams.groupBy("__h__").count().collect()
    }
    for h in hot:
        assert counts[h] == N_DOCS


def test_doc_sample_deterministic_and_subset(skewed):
    s1 = skew.doc_sample(skewed, "doc_id", 0.3)
    s2 = skew.doc_sample(skewed, "doc_id", 0.3)
    ids1 = sorted(r[0] for r in s1.select("doc_id").collect())
    ids2 = sorted(r[0] for r in s2.select("doc_id").collect())
    assert ids1 == ids2  # hash split, no RNG state
    assert 0 < len(ids1) < N_DOCS
    assert skew.doc_sample(skewed, "doc_id", 1.0) is skewed


def test_dup_span_fraction_guarded_matches_unguarded(skewed):
    guarded = corpus.dup_span_fraction(skewed, "doc_id", "text", n=8, **GUARD)
    plain = corpus.dup_span_fraction(skewed, "doc_id", "text", n=8, **NO_GUARD)
    assert _rowmap(guarded) == _rowmap(plain)
    # every doc shares exactly the boilerplate grams (phrase has 9
    # words -> two 8-grams), everything else unique
    row = _rowmap(guarded)[0]
    assert row[2] == 2  # dup_grams
    # the guarded plan windows over the salt column — the hot key can
    # never occupy a single window task
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "__salt__" in plan


def test_remove_dup_spans_guarded_matches_unguarded(skewed):
    guarded = corpus.remove_dup_spans(
        skewed, "doc_id", "text", n=8, min_count=2, **GUARD
    )
    plain = corpus.remove_dup_spans(
        skewed, "doc_id", "text", n=8, min_count=2, **NO_GUARD
    )
    assert _rowmap(guarded) == _rowmap(plain)
    # the 9-word phrase is fully covered by its two duplicated 8-grams
    row = _rowmap(guarded)[0]
    assert row[2] == 9  # n_removed: exactly the boilerplate tokens
    assert BOILER.split()[0] not in row[3].split()
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "__salt__" in plan


def test_line_dedup_guarded_matches_unguarded(spark):
    # boilerplate LINE in every doc + unique lines; first occurrence
    # must survive in doc 0 only, under both plans
    rows = [
        (i, f"unique line {i} alpha\n{BOILER}\nunique line {i} beta")
        for i in range(N_DOCS)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    guarded = corpus.line_dedup(df, "doc_id", "text", **GUARD)
    plain = corpus.line_dedup(df, "doc_id", "text", **NO_GUARD)
    assert _rowmap(guarded) == _rowmap(plain)
    m = _rowmap(guarded)
    assert m[0][1].split("\n")[1] == BOILER  # kept at first occurrence
    assert m[0][2] == 3 and m[0][3] == 0
    assert m[5][2] == 2 and m[5][3] == 1  # later docs drop it
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "__salt__" in plan


def test_jaccard_pairs_guarded_matches_unguarded(spark):
    # two true near-dup pairs + a hot shingle shared by ALL docs; the
    # clamped-frequency order must stay lossless (verify is exact)
    rows = []
    for i in range(60):
        filler = " ".join(f"d{i}x{j}" for j in range(10))
        rows.append((i, f"{filler} {BOILER}"))
    # near-dup pair: docs 100/101 and 102/103
    rows += [
        (100, "the quick brown fox jumps over the lazy dog today"),
        (101, "the quick brown fox jumps over the lazy dog tonight"),
        (102, f"alpha beta gamma delta epsilon zeta eta theta {BOILER}"),
        (103, f"alpha beta gamma delta epsilon zeta eta theta {BOILER} x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    guarded = dedup.jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.7, **GUARD
    )
    plain = dedup.jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.7, **NO_GUARD
    )
    gset = {(r[0], r[1]) for r in guarded.collect()}
    pset = {(r[0], r[1]) for r in plain.collect()}
    assert gset == pset
    assert (100, 101) in gset and (102, 103) in gset


def test_salt_bounds_hot_partition(skewed):
    """The per-task bound itself: with the guard on, the hot gram's
    window input is split across salt buckets — max rows per
    (key, salt) group is a fraction of the hot key's total count."""
    from file_d_spark.functions.dedup import _portable_hash60
    from file_d_spark.functions.quality import _ngram_col
    from file_d_spark.functions.text import tokens

    grams = skewed.select(
        F.col("doc_id").alias("__doc__"),
        F.explode(
            F.array_distinct(_ngram_col(tokens(F.col("text")), 8))
        ).alias("g"),
    ).select("__doc__", _portable_hash60(F.col("g")).alias("__h__"))
    hot = skew.hot_keys(grams, "__h__", threshold=2)
    marked = skew.hot_marker(grams, hot, "__h__").withColumn(
        "__salt__", skew.salt_col("__doc__", 8)
    )
    dist = (
        marked.filter(F.col("__hot__"))
        .groupBy("__h__", "__salt__")
        .count()
        .groupBy("__h__")
        .agg(F.max("count").alias("mx"), F.sum("count").alias("tot"))
        .collect()
    )
    assert dist
    for r in dist:
        assert r["tot"] == N_DOCS
        # xxhash64 spreads 120 docs over 8 buckets; no bucket should
        # hold more than half the occurrences
        assert r["mx"] <= N_DOCS // 2


def test_default_guard_never_fires_at_test_scale(spark, sf_dir):
    """With default scale-gated thresholds the guarded plan is
    byte-identical to the unguarded one on the real test corpus — the
    fast path survives."""
    from file_d_spark.queries import load_table

    import re

    d = load_table(spark, sf_dir, "documents")
    guarded = corpus.dup_span_fraction(d, "doc_id", "text", n=8)
    plain = corpus.dup_span_fraction(
        d, "doc_id", "text", n=8, hot_fraction=0.0
    )

    def norm(df):  # strip expression / plan / lambda-variable ids
        s = df._jdf.queryExecution().executedPlan().toString()
        return re.sub(r"_\d+#", "#", re.sub(r"#\d+|plan_id=\d+", "#", s))

    assert norm(guarded) == norm(plain)


def _plan_counts(df) -> dict:
    """Exchanges and join strategies of the physical plan, counted as
    tools/profile.py counts them."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    pats = {"exchange": r"\bExchange\b", "bhj": "BroadcastHashJoin", "smj": "SortMergeJoin"}
    return {k: len(re.findall(p, plan)) for k, p in pats.items()}


def _build_in_group(spark, group, build):
    """Build a frame under job group ``group``; return it with the
    number of Spark jobs its build ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = build()
        df.schema
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_every_build_discovers_and_plans_the_same(spark, skewed):
    """No process-wide state carries over from one build to the next:
    a second identical build runs the same discovery jobs and plans the
    same as the first."""
    built = [
        _build_in_group(
            spark,
            f"skew-guard-build-{i}",
            lambda: corpus.dup_span_fraction(skewed, "doc_id", "text", n=8, **GUARD),
        )
        for i in range(2)
    ]
    (a, jobs_a), (b, jobs_b) = built
    assert jobs_a == jobs_b > 0
    assert _plan_counts(a) == _plan_counts(b)
    assert _rowmap(a) == _rowmap(b)


def test_corpus_build_end2end_plans_the_same_twice(spark, sf_dir):
    """The flagship corpus build plans the same on every build in a
    session, so a min-over-reps timing compares one plan."""
    from file_d_spark.queries import QUERIES, release_caches

    counts = []
    for _ in range(2):
        df = QUERIES["corpus_build_end2end"](spark, sf_dir)
        counts.append(_plan_counts(df))
        df.write.format("noop").mode("overwrite").save()
        release_caches()
    assert counts[0] == counts[1]
