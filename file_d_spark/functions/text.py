"""Text-analysis functions for large-scale training-data pipelines:
tokenization, language ID, character entropy, document fingerprinting.

These extend the reference's surface (it has no text analytics) with
the operations a 100 TB corpus pipeline needs; everything is pure
Column expressions so the hot path stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"
# a BPE-ish subword segmentation: letter runs, digit runs, single punct
BPE_TOKEN_RE = r"[A-Za-z]+|\d+|[^\sA-Za-z\d]"


def tokens(col: Column) -> Column:
    """Whitespace tokens (empty strings filtered)."""
    return F.filter(F.split(F.trim(col), TOKEN_SPLIT_RE), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count via the regex segmentation — a cheap
    stand-in for a BPE tokenizer's length signal."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_RE), 0))


# tiny per-language stopword seeds for the n-gram/stopword heuristic
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]
DE_STOPWORDS = ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"]
ES_STOPWORDS = ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"]
FR_STOPWORDS = ["le", "la", "de", "et", "un", "est", "pour", "dans", "que", "sur"]

LANG_STOPWORDS = {"en": EN_STOPWORDS, "de": DE_STOPWORDS, "es": ES_STOPWORDS, "fr": FR_STOPWORDS}


def _argmax_lang(scores: dict[str, Column]) -> Column:
    best = F.greatest(*scores.values())
    result = F.lit("und")
    # reversed so earlier langs win ties via later when() precedence
    for lang in reversed(list(scores)):
        result = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(
            result
        )
    return result


def with_lang_id(df, text_col: str, out_col: str = "lang_guess"):
    """DataFrame-level language ID: the argmax language by stopword
    hits over the distinct lower-cased tokens; 'und' (undetermined)
    when all scores are zero, ties broken by the fixed order
    en>de>es>fr.  The distinct-token array and the per-language hit
    counts are staged as real columns, so tokenization runs ONCE per
    row and the argmax reads four materialized ints (as one expression,
    HOFs sit outside codegen's subexpression elimination and the token
    chain would re-run for every score reference).  CollapseProject
    keeps the stages apart because the intermediate columns are
    non-cheap and referenced more than once."""
    sc_cols = {lang: f"__sc_{lang}__" for lang in LANG_STOPWORDS}
    staged = df.withColumn(
        "__ltoks__", F.array_distinct(tokens(F.lower(F.col(text_col))))
    ).withColumns(
        {
            name: F.size(
                F.array_intersect(
                    "__ltoks__", F.lit(list(LANG_STOPWORDS[lang]))
                )
            )
            for lang, name in sc_cols.items()
        }
    )
    out = staged.withColumn(
        out_col, _argmax_lang({lang: F.col(name) for lang, name in sc_cols.items()})
    )
    return out.drop("__ltoks__", *sc_cols.values())


def char_entropy(df, id_col: str, text_col: str):
    """Shannon entropy (bits) of the character distribution per
    document — a cheap perplexity proxy: machine-generated or
    low-quality text (repeated boilerplate, base64 blobs, single-char
    floods) sits at the entropy extremes.

    Linear aggregation form (explode -> groupBy(doc, char) ->
    groupBy(doc)), same scale shape as the Gopher repetition metrics:
    shuffles on (doc, char), never quadratic per document.  Uses
    H = log2(n) - sum(k*log2(k))/n so one pass over the counts
    suffices."""
    chars = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), ""), lambda c: c != "")
        ).alias("__ch__"),
    )
    counts = chars.groupBy(id_col, "__ch__").agg(
        F.count(F.lit(1)).alias("__k__")
    )
    return counts.groupBy(id_col).agg(
        F.round(
            F.log2(F.sum("__k__"))
            - F.sum(F.col("__k__") * F.log2("__k__")) / F.sum("__k__"),
            4,
        ).alias("entropy")
    )


def fingerprint(col: Column) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct token set.  Two documents with the same bag of words
    collapse to one fingerprint (the cheap dedup key before
    minhash/simhash)."""
    sorted_tokens = F.array_sort(F.array_distinct(tokens(F.lower(col))))
    return F.md5(F.array_join(sorted_tokens, " "))
