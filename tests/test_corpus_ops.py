"""Unit tests for the corpus-quality / corpus-management operators
(functions/quality.py, functions/corpus.py) on synthetic multi-line
documents — the shapes the single-line testdata corpus can't exercise."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from file_d_spark.functions import corpus, quality


def rows(df, *cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


# --------------------------------------------------------------------------
# repetition metrics
# --------------------------------------------------------------------------


def test_repetition_metrics_basic(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),            # all-same: dup_word 0.75
            (2, "w x y z"),            # no repetition
            (3, "p q p q p q"),        # dominated by one bigram
        ],
        ["id", "t"],
    )
    out = {
        r["id"]: r
        for r in quality.repetition_metrics(df, "id", "t", top_n=2, dup_n=2).collect()
    }
    assert out[1]["n_words"] == 4
    assert out[1]["dup_word_frac"] == 0.75
    # 'a a' occurs 3 times x 2 chars over 4 word chars -> clamped to 1.0
    assert out[1]["top_ngram_char_frac"] == 1.0
    assert out[2]["dup_word_frac"] == 0.0
    assert out[2]["dup_ngram_char_frac"] == 0.0
    # 'p q' x3 + 'q p' x2 both duplicated -> every 2-gram occurrence is a dup
    assert out[3]["dup_ngram_char_frac"] == 1.0


def test_repetition_metrics_short_doc(spark):
    # fewer words than dup_n: no n-grams, fractions must be 0 (not null)
    df = spark.createDataFrame([(1, "only two")], ["id", "t"])
    r = quality.repetition_metrics(df, "id", "t", top_n=2, dup_n=5).collect()[0]
    assert r["dup_ngram_char_frac"] == 0.0
    assert r["n_words"] == 2


# --------------------------------------------------------------------------
# gopher filter
# --------------------------------------------------------------------------

GOOD_DOC = " ".join(["the quick brown fox jumps over the lazy dog again and"] * 6)


def test_gopher_keep_and_signals(spark):
    docs = [
        (1, GOOD_DOC, True),
        (2, "too short for the rules", False),          # < 50 words
        (3, " ".join(["###"] * 60), False),             # symbols, no alpha, no stopwords
        (4, "\n".join(["- item in a list of things"] * 60), False),  # bullets
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in docs], ["id", "t"])
    out = df.select(
        "id", quality.gopher_keep(F.col("t")).alias("keep")
    ).collect()
    expect = {i: k for i, _, k in docs}
    for r in out:
        assert r["keep"] == expect[r["id"]], r["id"]
    sig = df.filter("id = 4").select(
        *[v.alias(k) for k, v in quality.gopher_signals(F.col("t")).items()]
    ).collect()[0]
    assert sig["bullet_line_frac"] == 1.0


def test_gopher_ellipsis_rule(spark):
    text = "\n".join(
        ["the line goes on and on..."] * 40 + ["a normal line of text"] * 60
    )
    df = spark.createDataFrame([(1, text)], ["id", "t"])
    sig = df.select(
        *[v.alias(k) for k, v in quality.gopher_signals(F.col("t")).items()]
    ).collect()[0]
    assert sig["ellipsis_line_frac"] == 0.4
    assert not df.select(quality.gopher_keep(F.col("t")).alias("k")).collect()[0]["k"]


# --------------------------------------------------------------------------
# c4 cleaning
# --------------------------------------------------------------------------


def test_c4_clean_line_rules(spark):
    text = "\n".join(
        [
            "This is a good sentence.",      # kept
            "short.",                        # < 3 words
            "no terminal punctuation here",  # no punct
            'He said "stop".',               # kept (quote counts)
        ]
    )
    df = spark.createDataFrame([(1, text), (2, "Lorem Ipsum dolor sit amet.")], ["id", "t"])
    out = quality.c4_clean(df, "id", "t")
    got = {r["id"]: r for r in out.collect()}
    assert 2 not in got  # lorem ipsum doc dropped
    assert got[1]["n_lines_kept"] == 2
    assert got[1]["n_lines_dropped"] == 2
    assert got[1]["clean_text"] == 'This is a good sentence.\nHe said "stop".'


def test_c4_clean_drops_braces_and_empty(spark):
    df = spark.createDataFrame(
        [(1, "var x = { a: 1 }."), (2, "nothing ends right")], ["id", "t"]
    )
    assert quality.c4_clean(df, "id", "t").count() == 0


# --------------------------------------------------------------------------
# line dedup
# --------------------------------------------------------------------------


def test_line_dedup_cross_document(spark):
    boiler = "subscribe to our newsletter"
    df = spark.createDataFrame(
        [
            (1, f"unique one\n{boiler}"),
            (2, f"{boiler}\nunique two"),
            (3, f"unique three\n{boiler}\nunique three"),  # intra-doc dup too
        ],
        ["id", "t"],
    )
    out = {r["id"]: r for r in corpus.line_dedup(df, "id", "t").collect()}
    assert out[1]["clean_text"] == f"unique one\n{boiler}"   # first occurrence wins
    assert out[2]["clean_text"] == "unique two"
    assert out[2]["n_lines_dropped"] == 1
    assert out[3]["clean_text"] == "unique three"
    assert out[3]["n_lines_dropped"] == 2


def test_line_dedup_all_dropped_doc_survives(spark):
    df = spark.createDataFrame([(1, "same line"), (2, "same line")], ["id", "t"])
    out = {r["id"]: r for r in corpus.line_dedup(df, "id", "t").collect()}
    assert out[2]["clean_text"] == ""
    assert out[2]["n_lines_kept"] == 0


# --------------------------------------------------------------------------
# decontamination
# --------------------------------------------------------------------------


def test_decontaminate_ngram_overlap(spark):
    eval_set = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two exactly")], ["id", "t"]
    )
    train = spark.createDataFrame(
        [
            (1, "prefix text the secret benchmark answer is forty two exactly suffix"),
            (2, "completely unrelated training document with other words"),
        ],
        ["id", "t"],
    )
    out = {r["id"]: r for r in corpus.decontaminate(train, eval_set, "id", "t", n=5).collect()}
    assert out[1]["contaminated"] and out[1]["n_hits"] >= 1
    assert not out[2]["contaminated"] and out[2]["n_hits"] == 0


# --------------------------------------------------------------------------
# hash split / stratified sample
# --------------------------------------------------------------------------


def test_hash_split_deterministic_and_total(spark):
    df = spark.range(2000).withColumnRenamed("id", "k")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = corpus.hash_split(df, "k", w).groupBy("split").count().collect()
    b = corpus.hash_split(df, "k", w).groupBy("split").count().collect()
    assert {r["split"]: r["count"] for r in a} == {r["split"]: r["count"] for r in b}
    counts = {r["split"]: r["count"] for r in a}
    assert sum(counts.values()) == 2000
    assert 0.75 < counts["train"] / 2000 < 0.85
    assert counts["val"] > 0 and counts["test"] > 0


def test_hash_split_salt_changes_assignment(spark):
    df = spark.range(500).withColumnRenamed("id", "k")
    w = {"a": 0.5, "b": 0.5}
    base = rows(corpus.hash_split(df, "k", w), "k", "split")
    salted = rows(corpus.hash_split(df, "k", w, salt="x"), "k", "split")
    assert base != salted


def test_stratified_sample_rates(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)], ["k", "lang"]
    )
    out = corpus.stratified_sample(df, "k", "lang", {"en": 0.5, "de": 0.1})
    counts = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert 0.4 < counts["en"] / 1000 < 0.6
    assert 0.05 < counts["de"] / 1000 < 0.15
    # default_fraction=0 drops unknown strata entirely
    df2 = df.withColumn("lang", F.lit("fr"))
    assert corpus.stratified_sample(df2, "k", "lang", {"en": 0.5}).count() == 0


# --------------------------------------------------------------------------
# pii redaction
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "text,field,n,redacted_sub",
    [
        ("mail bob.smith+x@corp.example.com now", "n_email", 1, "<EMAIL>"),
        ("server at 192.168.1.254 down", "n_ipv4", 1, "<IP>"),
        ("call +44 20 7946 0958 today", "n_phone", 1, "<PHONE>"),
        ("ssn is 078-05-1120 ok", "n_ssn", 1, "<SSN>"),
        ("clean text with no pii at all", "n_pii", 0, "clean text"),
    ],
)
def test_pii_redact_patterns(spark, text, field, n, redacted_sub):
    df = spark.createDataFrame([(text,)], ["t"])
    r = corpus.pii_redact(F.col("t"))
    got = df.select(
        r[field].alias("n"), r["redacted"].alias("red")
    ).collect()[0]
    assert got["n"] == n
    assert redacted_sub in got["red"]


def test_pii_redact_multiple_and_total(spark):
    df = spark.createDataFrame(
        [("a@b.co and c@d.org from 10.0.0.1",)], ["t"]
    )
    r = corpus.pii_redact(F.col("t"))
    got = df.select(
        r["n_email"].alias("e"), r["n_ipv4"].alias("i"), r["n_pii"].alias("p"),
        r["redacted"].alias("red"),
    ).collect()[0]
    assert (got["e"], got["i"], got["p"]) == (2, 1, 3)
    assert got["red"] == "<EMAIL> and <EMAIL> from <IP>"


# --------------------------------------------------------------------------
# url normalization
# --------------------------------------------------------------------------


@pytest.mark.parametrize(
    "raw,want",
    [
        ("HTTPS://WWW.Ex.com:443/A/b?utm_source=x&b=2&a=1#f", "https://www.ex.com/A/b?a=1&b=2"),
        ("https://www.ex.com/A/b?a=1&b=2", "https://www.ex.com/A/b?a=1&b=2"),
        ("http://Ex.COM:80", "http://ex.com/"),
        ("http://ex.com/?fbclid=abc", "http://ex.com/"),
        ("https://ex.com/p?z=1&gclid=g&a=2", "https://ex.com/p?a=2&z=1"),
        ("https://ex.com:8080/p", "https://ex.com:8080/p"),  # non-default port kept
    ],
)
def test_url_normalize(spark, raw, want):
    df = spark.createDataFrame([(raw,)], ["u"])
    got = df.select(corpus.url_normalize(F.col("u")).alias("n")).collect()[0]["n"]
    assert got == want


def test_mixture_sample_rebalances(spark, sf_dir):
    from file_d_spark.tables import load_table

    documents = load_table(spark, sf_dir, "documents")
    weights = {"en": 0.5, "de": 0.2, "zh": 0.2, "fr": 0.1}
    out = corpus.mixture_sample(documents, "doc_id", "lang", weights)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    before = {r["lang"]: r["n"] for r in
              documents.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) == set(weights)          # unlisted groups dropped
    # the binding group (largest n_g/w_g deficit) keeps every row
    binding = min(weights, key=lambda g: before[g] / weights[g])
    assert got[binding] == before[binding]
    # achieved proportions approach the targets (hash sampling is
    # binomial around the keep rate — allow a loose tolerance)
    total = sum(got.values())
    for g, w in weights.items():
        assert abs(got[g] / total - w) < 0.08, (g, got[g] / total, w)
    # deterministic: the same call selects the same rows
    again = corpus.mixture_sample(documents, "doc_id", "lang", weights)
    assert sorted(r["doc_id"] for r in again.select("doc_id").collect()) == \
           sorted(r["doc_id"] for r in out.select("doc_id").collect())


def test_mixture_sample_validation(spark, sf_dir):
    import pytest as _pytest

    from file_d_spark.tables import load_table

    documents = load_table(spark, sf_dir, "documents")
    with _pytest.raises(ValueError):
        corpus.mixture_sample(documents, "doc_id", "lang", {})
    with _pytest.raises(ValueError):
        corpus.mixture_sample(documents, "doc_id", "lang", {"en": 0.0})
    with _pytest.raises(ValueError):
        corpus.mixture_sample(documents, "doc_id", "lang", {"klingon": 1.0})


def test_ngram_topk_counts_and_rank(spark):
    from file_d_spark.functions import corpus as _c

    rows = [
        (1, "a b a b c"),   # bigrams: "a b" x2, "b a", "b c"
        (2, "a b x"),       # "a b", "b x"
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["gram"]: r for r in _c.ngram_topk(df, "doc_id", "text", n=2, k=3).collect()}
    assert got["a b"]["n_occurrences"] == 3 and got["a b"]["n_docs"] == 2
    assert got["a b"]["rank"] == 1
    # ties broken lexicographically: "b a", "b c", "b x" all count 1
    assert got["b a"]["rank"] == 2 and got["b c"]["rank"] == 3
    assert "b x" not in got  # cut at k=3 is deterministic


def test_ngram_topk_validation(spark):
    import pytest as _pytest

    from file_d_spark.functions import corpus as _c

    df = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        _c.ngram_topk(df, "doc_id", "text", n=0)
    with _pytest.raises(ValueError):
        _c.ngram_topk(df, "doc_id", "text", k=0)


# --------------------------------------------------------------------------
# duplicate-span fraction
# --------------------------------------------------------------------------


def test_dup_span_fraction_shared_spans(spark):
    # doc 1 and 2 share the span "p q r"; doc 3 is all-unique; doc 4 is
    # too short for 3-grams and must drop out entirely
    df = spark.createDataFrame(
        [
            (1, "a b p q r c d"),   # 5 grams, 1 shared ("p q r")
            (2, "x y p q r z w"),   # 5 grams, 1 shared
            (3, "e f g h i j k"),   # 5 grams, 0 shared
            (4, "too short"),
        ],
        ["id", "t"],
    )
    out = {r["id"]: r for r in corpus.dup_span_fraction(df, "id", "t", n=3).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["n_grams"] == 5 and out[1]["dup_grams"] == 1
    assert out[1]["dup_fraction"] == 0.2
    assert out[2]["dup_fraction"] == 0.2
    assert out[3]["dup_grams"] == 0 and out[3]["dup_fraction"] == 0.0


def test_dup_span_fraction_identical_docs(spark):
    # exact duplicates: every gram shared -> fraction 1.0; repeated
    # grams inside one doc do NOT count as duplicates (distinct per doc)
    df = spark.createDataFrame(
        [(1, "m n o m n o"), (2, "m n o m n o"), (3, "m n o q")],
        ["id", "t"],
    )
    out = {r["id"]: r for r in corpus.dup_span_fraction(df, "id", "t", n=3).collect()}
    assert out[1]["dup_fraction"] == 1.0 and out[2]["dup_fraction"] == 1.0
    # doc 3 shares only "m n o" of its 2 distinct grams
    assert out[3]["n_grams"] == 2 and out[3]["dup_grams"] == 1


def test_dup_span_fraction_solo_doc_has_no_dups(spark):
    df = spark.createDataFrame([(1, "a b c d e f")], ["id", "t"])
    r = corpus.dup_span_fraction(df, "id", "t", n=3).collect()[0]
    assert r["dup_grams"] == 0 and r["dup_fraction"] == 0.0


# --------------------------------------------------------------------------
# unigram log-prob quality score
# --------------------------------------------------------------------------


def test_unigram_logprob_hand_computed(spark):
    import math

    # corpus: tokens a a a b  -> p(a)=3/4, p(b)=1/4
    df = spark.createDataFrame([(1, "a a a"), (2, "b")], ["id", "t"])
    out = {r["id"]: r for r in corpus.unigram_logprob(df, "id", "t").collect()}
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 1
    assert out[1]["mean_logp"] == round(math.log10(3 / 4), 4)
    assert out[2]["mean_logp"] == round(math.log10(1 / 4), 4)


def test_unigram_logprob_rare_vocab_scores_lower(spark):
    common = " ".join(["the quick brown fox"] * 5)
    df = spark.createDataFrame(
        [(1, common), (2, common), (3, "zxqv jkwp mmtr qqzl")],
        ["id", "t"],
    )
    out = {r["id"]: r["mean_logp"] for r in corpus.unigram_logprob(df, "id", "t").collect()}
    assert out[3] < out[1] == out[2]


# --------------------------------------------------------------------------
# tf-idf keywords
# --------------------------------------------------------------------------


def test_tfidf_topk_hand_computed(spark):
    import math

    # 2 docs; "b" appears in both (idf 0) so the distinguishing terms win
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "c b")],
        ["id", "t"],
    )
    out = corpus.tfidf_topk(df, "id", "t", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append((r["rank"], r["term"], r["score"]))
    # doc 1: tf(a)=2/3 idf=log10(2/1); tf(b)=1/3 idf=log10(2/2)=0
    assert by_doc[1][0][1] == "a"
    assert by_doc[1][0][2] == round(2 / 3 * math.log10(2), 6)
    assert by_doc[1][1] == (2, "b", 0.0)
    # doc 2: "c" wins, "b" scores 0
    assert by_doc[2][0][1] == "c"
    assert by_doc[2][0][2] == round(1 / 2 * math.log10(2), 6)


def test_tfidf_topk_ties_break_by_term(spark):
    df = spark.createDataFrame([(1, "z y x w v")], ["id", "t"])
    out = corpus.tfidf_topk(df, "id", "t", k=5).collect()
    # all terms tie on score -> alphabetical rank order
    assert [r["term"] for r in sorted(out, key=lambda r: r["rank"])] == [
        "v", "w", "x", "y", "z"
    ]


def test_tfidf_topk_validation(spark):
    df = spark.createDataFrame([(1, "a")], ["id", "t"])
    with pytest.raises(ValueError):
        corpus.tfidf_topk(df, "id", "t", k=0)


def test_budget_select_prefix_and_parallel_plan(spark, sf_dir):
    """budget_select must (a) pick exactly the top-scored prefix whose
    cumulative weight fits the budget, (b) never plan a SinglePartition
    window — the whole point is the distributed prefix sum."""
    from file_d_spark.functions import corpus
    from file_d_spark.tables import load_table
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("w"),
        (F.col("doc_id") % 97).cast("double").alias("score"),
    )
    out = corpus.budget_select(d, "score", "w", "doc_id",
                               budget_fraction=0.3, partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, "prefix sum fell into one reducer"
    rows = out.collect()
    ranked = sorted(
        d.collect(), key=lambda r: (-r.score, r.doc_id)
    )
    total = sum(r.w for r in ranked)
    budget = int(total * 0.3)
    expect, cum = [], 0
    for r in ranked:
        cum += r.w
        if cum > budget:
            break
        expect.append((r.doc_id, r.w, cum))
    assert sorted((r.doc_id, r.weight, r.cum_weight) for r in rows) == sorted(
        expect
    )
    assert max((r.cum_weight for r in rows), default=0) <= budget


def test_budget_select_pins_partition_assignment(spark, sf_dir):
    """The subtotal collect and the final windowed join are separate
    Spark jobs; repartitionByRange re-samples boundaries per job (the
    sampler seed derives from the RDD id), so the ranged frame MUST be
    materialized once — otherwise a boundary-straddling row can get a
    different __pid__ in the two jobs and the cumulative sum silently
    corrupts at real scale.  Guard: the final plan reads the pinned RDD
    (Scan ExistingRDD) and contains NO range exchange of its own, and
    repeated executions agree exactly."""
    from file_d_spark.functions import corpus
    from file_d_spark.tables import load_table
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("w"),
        (F.col("doc_id") % 97).cast("double").alias("score"),
    )
    out = corpus.budget_select(d, "score", "w", "doc_id",
                               budget_fraction=0.3, partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, "ranged frame not pinned via localCheckpoint"
    assert "rangepartitioning" not in plan.lower(), (
        "final job re-plans the range exchange -> boundaries can re-sample"
    )
    first = sorted((r.doc_id, r.weight, r.cum_weight) for r in out.collect())
    second = sorted((r.doc_id, r.weight, r.cum_weight) for r in out.collect())
    assert first == second


# ---------------------------------------------------------------------------
# DSIR importance weighting (Xie et al. arXiv:2302.03169)
# ---------------------------------------------------------------------------


def test_dsir_logweights_hand_computed(spark):
    """Two-bucket-level sanity on a tiny fixture: docs made of target-
    only vocabulary score higher than docs of raw-only vocabulary, the
    exact value matching the Laplace-smoothed log-ratio sum."""
    import math

    from file_d_spark.functions.corpus import dsir_logweights

    corpus = spark.createDataFrame(
        [(1, "aa aa"), (2, "bb bb"), (3, "aa bb")],
        ["doc_id", "text"],
    )
    target = spark.createDataFrame([(10, "aa aa aa")], ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dsir_logweights(
            corpus, target, "doc_id", "text", n_buckets=64
        ).collect()
    }
    # features per doc: 2 unigrams + 1 bigram = 3
    assert all(out[d]["n_feats"] == 3 for d in (1, 2, 3))
    # target is all-'aa': docs of 'aa' must outscore docs of 'bb'
    assert out[1]["logweight"] > out[3]["logweight"] > out[2]["logweight"]

    # exact check for doc 2 ('bb bb'): every feature ('bb' x2 + 'bb bb')
    # is absent from the target
    raw_counts = {"aa": 3, "bb": 3, "aa aa": 1, "bb bb": 1, "aa bb": 1}
    tgt_counts = {"aa": 3, "aa aa": 2}
    big_r = sum(raw_counts.values()) + 64
    big_t = sum(tgt_counts.values()) + 64

    def lr(g):
        q = (
            math.log((tgt_counts.get(g, 0) + 1) / big_t)
            - math.log((raw_counts.get(g, 0) + 1) / big_r)
        ) * 1e7
        return math.floor(q + 0.5) if q >= 0 else math.ceil(q - 0.5)

    want2 = round((lr("bb") * 2 + lr("bb bb")) / 1e7, 4)
    assert out[2]["logweight"] == want2


def test_dsir_scoring_pass_is_narrow(spark, sf_dir):
    """The 100 TB shape: after the two bounded model aggregations, the
    scoring pass itself plans as scan -> broadcast join -> project —
    no exchange, no per-doc feature shuffle."""
    from file_d_spark.queries import QUERIES

    df = QUERIES["dsir_importance"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_adaptive_quality_filter_hand_computed(spark):
    """threshold = smallest score s with count(<=s) >= q * group size,
    in exact integer arithmetic."""
    from file_d_spark.functions import corpus

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("a", 4),
         ("b", 10), ("b", 10), ("b", 30)],
        "grp string, score long",
    )
    out = corpus.adaptive_quality_filter(df, "grp", "score", quantile=0.5)
    rows = [(r.grp, r.score, r.threshold, r.kept) for r in out.collect()]
    # a: tot=4, need cum*2 >= 4 -> cum >= 2 -> threshold 2
    assert all(t == 2 for g, s, t, k in rows if g == "a")
    assert {(s, k) for g, s, t, k in rows if g == "a"} == {
        (1, False), (2, True), (3, True), (4, True)
    }
    # b: tot=3, need cum*2 >= 3 -> cum >= 1.5 -> first score with cum 2
    assert all(t == 10 for g, s, t, k in rows if g == "b")
    assert all(k for g, s, t, k in rows if g == "b")


def test_adaptive_quality_filter_quantile_edges(spark):
    from file_d_spark.functions import corpus

    df = spark.createDataFrame(
        [("a", s) for s in (5, 6, 7, 8, 9, 10)], "grp string, score long"
    )
    # q=1.0: threshold is the max -> exactly one kept score value
    out = corpus.adaptive_quality_filter(df, "grp", "score", quantile=1.0)
    assert {r.score for r in out.collect() if r.kept} == {10}
    # tiny q: threshold is the min -> everything kept
    out = corpus.adaptive_quality_filter(df, "grp", "score", quantile=0.001)
    assert all(r.kept for r in out.collect())
    import pytest as _pytest

    with _pytest.raises(ValueError):
        corpus.adaptive_quality_filter(df, "grp", "score", quantile=0.0)
    with _pytest.raises(ValueError):
        corpus.adaptive_quality_filter(df, "grp", "score", quantile=1.5)


def test_adaptive_quality_filter_window_runs_on_histogram(spark):
    """The skew story: the cumulative window must consume the
    (group, score) AGGREGATE, never the raw rows — on web-scale text a
    hot language would otherwise funnel its whole partition through
    one WindowExec task."""
    from file_d_spark.functions import corpus

    df = spark.createDataFrame(
        [("a", i % 3) for i in range(100)], "grp string, score long"
    )
    out = corpus.adaptive_quality_filter(df, "grp", "score", quantile=0.25)
    plan = out._jdf.queryExecution().executedPlan().toString()
    w = plan.find("Window")
    assert w != -1
    # everything below the window (printed after it in the tree) must
    # include the histogram HashAggregate before any scan
    below = plan[w:]
    agg = below.find("HashAggregate")
    scan = below.find("Scan")
    assert agg != -1 and (scan == -1 or agg < scan), (
        "window consumes raw rows, not the (group, score) histogram"
    )


def test_domain_cap_matches_single_window_rank(spark):
    """The salted two-level selection must equal the naive one-window
    top-cap per group (same md5 total order), including ranks."""
    import hashlib

    from file_d_spark.functions import corpus

    rows = [(i, "big") for i in range(200)] + [
        (1000 + i, "small") for i in range(3)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = corpus.domain_cap(df, "doc_id", "source", cap=5, n_salts=8)
    got = {(r.source, r.doc_id): r.rank for r in out.collect()}

    def key(i):
        return (hashlib.md5(str(i).encode()).hexdigest(), i)

    want = {}
    for grp, ids in (
        ("big", range(200)),
        ("small", range(1000, 1003)),
    ):
        for rank, i in enumerate(sorted(ids, key=key)[:5], start=1):
            want[(grp, i)] = rank
    assert got == want  # exact set AND exact ranks
    # under-cap group keeps everything
    assert sum(1 for (g, _) in got if g == "small") == 3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        corpus.domain_cap(df, "doc_id", "source", cap=0)


def test_domain_cap_no_unsalted_group_window(spark):
    """The first (corpus-sized) window must partition by (group,
    bucket), never by the group alone — that's the whole point."""
    from file_d_spark.functions import corpus

    df = spark.createDataFrame(
        [(i, "g") for i in range(50)], "doc_id long, source string"
    )
    plan = (
        corpus.domain_cap(df, "doc_id", "source", cap=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    windows = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    specs = [w for w in windows]
    assert len(specs) == 2
    # exactly one of the two windows is the bounded global one; the
    # corpus-sized one carries the salt bucket in its partition spec
    assert any("__bucket__" in s for s in specs)


def test_unimax_mixture_hand_computed(spark):
    """counts {a:100, b:4}, temperature 2: w=(10,2), T=min(10,2)=2,
    rates=(0.2, 1.0) -> b keeps everything, a keeps its md5-frac<0.2
    slice (checked against DuckDB computing the same expression)."""
    import duckdb

    from file_d_spark.functions import corpus

    rows = [(f"a{i}", "a") for i in range(100)] + [
        (f"b{i}", "b") for i in range(4)
    ]
    df = spark.createDataFrame(rows, "k string, grp string")
    kept = {
        r.k
        for r in corpus.unimax_mixture(
            df, "k", "grp", temperature=2, salt="s1"
        ).collect()
    }
    assert {f"b{i}" for i in range(4)} <= kept
    want = {
        r[0]
        for r in duckdb.sql(
            "SELECT k FROM (SELECT unnest([" +
            ",".join(f"'a{i}'" for i in range(100)) +
            "]) AS k) WHERE ('0x' || substr(md5(k || 's1'), 1, 8))::UBIGINT"
            " / 4294967296.0 < 0.2"
        ).fetchall()
    }
    assert {k for k in kept if k.startswith("a")} == want
    import pytest as _pytest

    with _pytest.raises(ValueError):
        corpus.unimax_mixture(df, "k", "grp", temperature=3)


def test_quantile_normalize_hand_computed(spark):
    from file_d_spark.functions import corpus

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("a", 5), ("b", 7)],
        "grp string, score long",
    )
    out = {
        (r.grp, r.score): (r.cum_count, r.group_total, r.pct_rank)
        for r in corpus.quantile_normalize(df, "grp", "score").collect()
    }
    assert out[("a", 1)] == (2, 4, 0.5)
    assert out[("a", 2)] == (3, 4, 0.75)
    assert out[("a", 5)] == (4, 4, 1.0)
    assert out[("b", 7)] == (1, 1, 1.0)


def test_quantile_normalize_window_on_histogram(spark):
    from file_d_spark.functions import corpus

    df = spark.createDataFrame(
        [("a", i % 4) for i in range(80)], "grp string, score long"
    )
    plan = (
        corpus.quantile_normalize(df, "grp", "score")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    w = plan.find("Window")
    below = plan[w:]
    agg = below.find("HashAggregate")
    scan = below.find("Scan")
    assert w != -1 and agg != -1 and (scan == -1 or agg < scan)


def test_funnel_steps_hand_computed(spark):
    """Strict-order earliest-completion semantics: step events at or
    before the previous step's time don't count; broken chains leave
    nulls; epoch-micro bigints come back exact."""
    from file_d_spark.functions.funnel import funnel_steps

    rows = [
        # u1 completes: view@10, click@20, purchase@30 (purchase@5 too early)
        (1, "2024-01-01 00:00:10.000001", "view"),
        (1, "2024-01-01 00:00:20", "click"),
        (1, "2024-01-01 00:00:05", "purchase"),
        (1, "2024-01-01 00:00:30", "purchase"),
        # u2 breaks: click BEFORE its first view, never after
        (2, "2024-01-01 00:00:50", "view"),
        (2, "2024-01-01 00:00:40", "click"),
        # u3 never does step 1 -> absent from output
        (3, "2024-01-01 00:00:01", "click"),
        # u4: click at the SAME micro as view -> strict > rejects it
        (4, "2024-01-01 00:01:00", "view"),
        (4, "2024-01-01 00:01:00", "click"),
        (4, "2024-01-01 00:01:01", "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r.user_id: r
        for r in funnel_steps(
            df, "user_id", "ts", "event_type", ["view", "click", "purchase"]
        ).collect()
    }
    assert set(out) == {1, 2, 4}
    u1 = out[1]
    base = 1704067200_000000  # 2024-01-01 UTC epoch micros
    assert (u1.t_1, u1.t_2, u1.t_3) == (
        base + 10_000001, base + 20_000000, base + 30_000000
    )
    assert u1.completed
    assert out[2].t_2 is None and not out[2].completed
    assert out[4].t_2 == base + 61_000000 and out[4].t_3 is None

    import pytest as _pytest

    with _pytest.raises(ValueError):
        funnel_steps(df, "user_id", "ts", "event_type", ["view"])
    with _pytest.raises(ValueError):
        funnel_steps(df, "user_id", "ts", "event_type", ["a", "a", "b"])


def test_funnel_steps_no_windows_in_plan(spark):
    """The funnel must be joins+aggs only — a per-user ordered window
    would serialize bot users."""
    from file_d_spark.functions.funnel import funnel_steps

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:01", "view")],
        "user_id long, ts string, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    plan = (
        funnel_steps(df, "user_id", "ts", "event_type", ["view", "click"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan


def test_cohort_retention_hand_computed(spark):
    """Two day-cohorts: u1/u2 start day 0 (u1 returns day 1 and 3,
    u2 never), u3 starts day 1 and returns day 2."""
    from file_d_spark.functions.funnel import cohort_retention

    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-02 09:00:00"),
        (1, "2024-01-02 23:00:00"), (1, "2024-01-04 01:00:00"),
        (2, "2024-01-01 05:00:00"),
        (3, "2024-01-02 12:00:00"), (3, "2024-01-03 12:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {
        (r.cohort_period, r.periods_since): (
            r.n_active, r.cohort_size, r.retention
        )
        for r in cohort_retention(df, "user_id", "ts", period="day").collect()
    }
    base = 19723  # 2024-01-01 in epoch days
    assert out[(base, 0)] == (2, 2, 1.0)
    assert out[(base, 1)] == (1, 2, 0.5)   # only u1 returns day 2
    assert out[(base, 3)] == (1, 2, 0.5)   # u1 on day 4
    assert (base, 2) not in out            # nobody from cohort0 on day 3
    assert out[(base + 1, 0)] == (1, 1, 1.0)
    assert out[(base + 1, 1)] == (1, 1, 1.0)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cohort_retention(df, "user_id", "ts", period="fortnight")


def test_cohort_retention_no_windows(spark):
    from file_d_spark.functions.funnel import cohort_retention

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "user_id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    plan = (
        cohort_retention(df, "user_id", "ts")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan


def test_quantile_thresholds_matches_adaptive_filter(spark):
    """quantile_thresholds (long-format, multi-quantile) must produce
    the SAME integer thresholds adaptive_quality_filter derives one
    quantile at a time, and count rows exactly (nulls dropped)."""
    import random

    rng = random.Random(0xA1)
    rows = [
        (rng.choice(["en", "de", "fr"]), rng.randrange(0, 50))
        for _ in range(400)
    ] + [("en", None)]
    df = spark.createDataFrame(rows, "lang string, score long")
    got = {
        (r.lang, r.num, r.den): r
        for r in corpus.quantile_thresholds(
            df, "lang", "score", quantiles=[(1, 4), (1, 2), (9, 10)]
        ).collect()
    }
    non_null = df.where("score is not null")
    for num, den in ((1, 4), (1, 2), (9, 10)):
        want = {
            r.lang: r.threshold
            for r in corpus.adaptive_quality_filter(
                non_null, "lang", "score", quantile=num / den
            ).select("lang", "threshold").distinct().collect()
        }
        for lang in ("en", "de", "fr"):
            row = got[(lang, num, den)]
            assert row.threshold == want[lang], (lang, num, den)
            assert row.n_rows == non_null.where(
                F.col("lang") == lang
            ).count()


def test_quantile_thresholds_rejects_bad_fraction(spark):
    df = spark.createDataFrame([("en", 1)], "lang string, score long")
    with pytest.raises(ValueError, match="not in"):
        corpus.quantile_thresholds(df, "lang", "score", quantiles=[(3, 2)])
    with pytest.raises(ValueError, match="not in"):
        corpus.quantile_thresholds(df, "lang", "score", quantiles=[(0, 4)])
