"""Corpus-management operators for training-data pipelines: line-level
dedup (CCNet-style), benchmark decontamination, deterministic hash
splits, stratified sampling, PII redaction, URL normalization.

Scale designs:
  line_dedup       explode lines -> one shuffle on the line digest ->
                   keep the globally-first occurrence (min (doc, pos))
                   -> regroup by doc.  Linear; the digest groupBy is
                   the only wide dependency, exactly like exact_dedup.
  decontaminate    n-gram equi-join of corpus against a (small) eval
                   set: eval n-grams broadcast, so the corpus-side
                   pass is narrow — no corpus shuffle at all.
  hash_split /     md5-hex prefix thresholding — deterministic,
  stratified       engine-portable (the same md5 hex string compares
  sampling         identically everywhere), no RNG state, no shuffle.
  pii_redact       chained regexp_replace, whole-stage codegen.
  url ops          pure string expressions (lowercase host, strip
                   default port / fragment / tracking params, sort
                   query keys); dedup is then exact_dedup on the
                   normalized form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from file_d_spark.cachereg import register as _register_cache
from file_d_spark.functions import skew
from file_d_spark.functions.quality import _ngram_col
from file_d_spark.functions.text import tokens

# --------------------------------------------------------------------------
# CCNet-style line-level exact dedup across the corpus
# --------------------------------------------------------------------------


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    hot_fraction: float = skew.DEFAULT_FRACTION,
    hot_threshold: int = skew.DEFAULT_THRESHOLD,
    hot_salts: int = skew.DEFAULT_SALTS,
) -> DataFrame:
    """Deduplicate at line granularity across the WHOLE corpus: a line
    survives only in the first document (smallest id, then smallest
    line position) that contains it; later occurrences are dropped and
    the documents re-joined.  CCNet dedups paragraphs this way before
    any fuzzy matching — it removes boilerplate (headers, cookie
    banners) that whole-document dedup never catches.

    Output: (id, clean_text, n_lines_kept, n_lines_dropped); documents
    whose lines are all dropped still appear (clean_text = '').

    Window skew guard (:mod:`~file_d_spark.functions.skew`): the very
    lines this operator exists to remove — boilerplate repeated across
    a large fraction of the corpus — are exactly the ones that would
    funnel into a single row_number window task.  Digests hot in a
    deterministic doc subsample take a different exact path: their
    global first occurrence is min(struct(doc, pos)) from a dedicated
    aggregation (map-side combine condenses the hot key; the result is
    bounded by the hot-set size and broadcasts back), and the
    row_number window runs salted so the hot digest spreads over
    ``hot_salts`` buckets; cold digests keep the exact single-window
    fast path (salt 0).  No hot keys → plan byte-identical to the
    unguarded form.
    """

    def lines_of(frame: DataFrame) -> DataFrame:
        return (
            frame.select(
                F.col(id_col).alias("doc"),
                F.posexplode(
                    F.split(F.col(text_col), sep)
                ).alias("pos", "line"),
            )
            .filter(F.trim("line") != "")
            .withColumn("__digest__", F.xxhash64(F.trim(F.col("line"))))
        )

    lines = lines_of(df)
    hot: list = []
    if hot_fraction > 0:
        hot = skew.hot_keys(
            lines_of(skew.doc_sample(df, id_col, hot_fraction)),
            "__digest__",
            max(2, hot_threshold),
        )
    if hot:
        # exact global first occurrence of each HOT digest: a narrow
        # broadcast-filtered pass + a groupBy whose hot key condenses
        # map-side (min is commutative) to <= |hot| rows — broadcast
        hot_first = (
            skew.hot_marker(lines, hot, "__digest__")
            .filter(F.col("__hot__"))
            .groupBy("__digest__")
            .agg(F.min(F.struct("doc", "pos")).alias("__first__"))
        )
        kept = (
            skew.hot_marker(lines, hot, "__digest__")
            .join(F.broadcast(hot_first), "__digest__", "left")
            .withColumn("__salt__", skew.salt_col("doc", hot_salts))
            .withColumn(
                "__rn__",
                F.row_number().over(
                    Window.partitionBy("__digest__", "__salt__").orderBy(
                        "doc", "pos"
                    )
                ),
            )
            .withColumn(
                "__keep__",
                F.when(
                    F.col("__hot__"),
                    (F.col("doc") == F.col("__first__.doc"))
                    & (F.col("pos") == F.col("__first__.pos")),
                ).otherwise(F.col("__rn__") == 1),
            )
        )
    else:
        kept = lines.withColumn(
            "__keep__",
            F.row_number().over(
                Window.partitionBy("__digest__").orderBy("doc", "pos")
            )
            == 1,
        )
    return (
        kept.groupBy("doc")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep__"),
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("clean_text"),
            F.sum(F.col("__keep__").cast("int")).alias("n_lines_kept"),
            F.sum((~F.col("__keep__")).cast("int")).alias("n_lines_dropped"),
        )
        .withColumnRenamed("doc", id_col)
    )


# --------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap)
# --------------------------------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Flag corpus documents sharing any word ``n``-gram with the eval
    set (the standard train/test contamination check: GPT-3 used 13-gram
    overlap, PaLM 8-gram).  Returns (id, n_hits, contaminated) for
    every corpus document.

    The eval side is aggregated to DISTINCT n-gram digests and
    broadcast, so the corpus pass is a narrow map + broadcast-hash
    semi-join — no corpus shuffle.  At 100 TB the eval set (benchmarks)
    is MBs, so the broadcast always fits.
    """

    def grams(frame: DataFrame) -> DataFrame:
        return frame.select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.array_distinct(_ngram_col(tokens(F.col(text_col)), n))
            ).alias("g"),
        ).withColumn("__digest__", F.xxhash64("g")).drop("g")

    eval_grams = grams(eval_set).select("__digest__").distinct()
    hits = (
        grams(corpus)
        .join(F.broadcast(eval_grams), "__digest__")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select(F.col(id_col).alias("doc"))
        .join(hits, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# --------------------------------------------------------------------------
# deterministic hash splits + stratified sampling
# --------------------------------------------------------------------------


def _hash_frac(key: Column) -> Column:
    """Deterministic uniform [0,1) from the md5 of the key — the first
    8 hex chars as a fraction of 2^32.  Pure string/arith expressions
    that evaluate identically in Spark and DuckDB (both emit lowercase
    md5 hex of the UTF-8 bytes), so splits are portable across engines
    and stable across runs/partitionings — the property a training
    pipeline needs so that re-runs never migrate documents between
    train and validation."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(1 << 32))


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Assign every row to a named split by deterministic key hash.

    ``weights`` maps split name -> fraction (must sum to <= 1; any
    remainder goes to the last split).  Same key + salt => same split,
    on any engine, at any scale, with no shuffle."""
    frac = _hash_frac(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    names = list(weights)
    bound = 0.0
    expr = F.lit(names[-1])
    cases = []
    for name in names[:-1]:
        bound += weights[name]
        cases.append((bound, name))
    for bound, name in reversed(cases):
        expr = F.when(frac < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum subsample: keep a row iff its hash
    fraction falls below its stratum's rate.  Unlike
    ``df.sampleBy`` this is reproducible across runs and engines
    (no RNG, no partition sensitivity)."""
    frac = _hash_frac(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    rate = F.lit(default_fraction)
    for value, f in fractions.items():
        rate = F.when(F.col(strata_col) == value, F.lit(f)).otherwise(rate)
    return df.filter(frac < rate)


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# (name, pattern, replacement) — conservative patterns that translate
# 1:1 between Java and RE2/PCRE so oracle engines agree byte-for-byte
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}[ -]?\(?\d{1,4}\)?(?:[ -]?\d{2,4}){2,3}", "<PHONE>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
]


def pii_redact(text_col: Column) -> dict[str, Column]:
    """Redact the PII pattern family; returns the redacted column plus
    a per-category hit count.  Chained regexp_replace — all codegen."""
    out: dict[str, Column] = {}
    red = text_col
    total = F.lit(0)
    for name, pat, repl in PII_PATTERNS:
        n = F.size(F.regexp_extract_all(red, F.lit(pat), 0))
        out[f"n_{name}"] = n
        total = total + n
        red = F.regexp_replace(red, pat, repl)
    out["n_pii"] = total
    out["redacted"] = red
    return out


# --------------------------------------------------------------------------
# URL normalization (web-corpus dedup key)
# --------------------------------------------------------------------------

TRACKING_PARAMS = [
    "utm_source", "utm_medium", "utm_campaign", "utm_term",
    "utm_content", "gclid", "fbclid", "ref",
]


def url_normalize(url: Column) -> Column:
    """Canonical URL form for dedup: lowercase scheme+host, strip
    fragment, default ports, trailing slash on bare paths, and
    tracking query params; surviving query keys sorted.  Pure string
    expressions (split/filter/sort/join) — no UDF."""
    no_frag = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]+)", 1))
    host = F.regexp_replace(hostport, r":(80|443)$", "")
    pathq = F.regexp_replace(rest, r"^[^/?]+", "")
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qs = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.filter(
        F.split(qs, "&"),
        lambda kv: (kv != "")
        & ~F.split(kv, "=")[0].isin(*TRACKING_PARAMS),
    )
    sorted_q = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(sorted_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), sorted_q)),
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping token-window chunking — the standard prep step that
    turns documents into fixed-budget training/RAG chunks: windows of
    ``size`` whitespace tokens starting every ``stride`` tokens (the
    last windows may be shorter; a doc shorter than ``size`` yields one
    chunk).  Output: (id, chunk_id, n_tokens, chunk_text).

    Scale shape: tokenize once, explode the start offsets in-row
    (``sequence`` + ``slice`` — JVM codegen, no UDF), so the op is a
    narrow per-row flatMap: no shuffle at all, and the output row count
    is ~n_tokens/stride per doc regardless of corpus size.
    """
    if stride <= 0 or size <= 0:
        raise ValueError("chunk_tokens: size and stride must be positive")
    toks = F.split(F.col(text_col), " ")
    staged = df.select(
        F.col(id_col),
        toks.alias("__toks__"),
        F.greatest(F.size(toks), F.lit(1)).alias("__n__"),
    )
    starts = F.sequence(F.lit(1), F.col("__n__"), F.lit(stride))
    return (
        staged.select(
            F.col(id_col), "__toks__", F.explode(starts).alias("__s__")
        )
        .select(
            F.col(id_col),
            ((F.col("__s__") - 1) / stride).cast("long").alias("chunk_id"),
            F.size(F.slice("__toks__", F.col("__s__"), size)).alias("n_tokens"),
            F.array_join(F.slice("__toks__", F.col("__s__"), size), " ").alias(
                "chunk_text"
            ),
        )
    )


def mixture_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    target_weights: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Rebalance the corpus to target group proportions (data-mixture
    shaping: "40% en / 30% de / 30% code") by deterministic
    down-sampling — no upsampling, no RNG.

    With group counts n_g and target weights w_g, the largest
    achievable total is T = min_g(n_g / w_g); each group keeps
    w_g * T / n_g of its rows (the scarcest group keeps 100%), chosen
    by the portable hash fraction so membership is stable across runs,
    engines, and partitionings.  Groups not in ``target_weights`` are
    dropped.

    Scale shape: group counts are one small agg collected as a model
    (bounded by the number of groups, not the data); the sampling pass
    itself is a narrow filter — no shuffle, no RNG state.
    """
    if not target_weights:
        raise ValueError("mixture_sample: target_weights must be non-empty")
    bad = {g: w for g, w in target_weights.items() if w <= 0}
    if bad:
        raise ValueError(f"mixture_sample: non-positive weights: {bad}")
    counts = {
        r[0]: r[1]
        for r in df.groupBy(group_col).count().collect()
        if r[0] in target_weights
    }
    missing = [g for g in target_weights if g not in counts]
    if missing:
        raise ValueError(
            f"mixture_sample: groups absent from the data: {missing}"
        )
    total = min(counts[g] / w for g, w in target_weights.items())
    frac = _hash_frac(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    rate = F.lit(0.0)
    for g, w in target_weights.items():
        keep = min(1.0, (w * total) / counts[g])
        rate = F.when(F.col(group_col) == g, F.lit(keep)).otherwise(rate)
    return df.filter(frac < rate)


def adaptive_quality_filter(
    df: DataFrame,
    group_col: str,
    score_col: str,
    quantile: float = 0.25,
) -> DataFrame:
    """Per-group adaptive quality gate: flag rows whose integer
    ``score_col`` falls below the group's exact ``quantile`` — the
    language-calibrated quality filter of LLM curation pipelines (a
    fixed global threshold over- prunes low-resource languages whose
    score distribution sits lower).

    The group threshold is the smallest score s with
    ``count(score <= s) >= quantile * count(*)`` — computed EXACTLY,
    in integer arithmetic (``den*cum >= num*tot`` with quantile =
    num/den), so there is no float percentile drift between engines.

    Scale shape: no sort of the data and no per-row window.  The score
    distribution is condensed FIRST by a (group, score) groupBy —
    map-side partial aggregation absorbs hot groups — and the
    cumulative window then runs over one row per DISTINCT (group,
    score), bounded by score cardinality, not corpus size.  Thresholds
    (one row per group) broadcast back; the final pass is a narrow
    map.  Adds a ``threshold`` and a ``kept`` column.
    """
    from fractions import Fraction

    frac = Fraction(str(quantile))
    if not 0 < frac <= 1:
        raise ValueError(f"adaptive_quality_filter: quantile {quantile} not in (0, 1]")
    hist = df.groupBy(group_col, score_col).agg(F.count(F.lit(1)).alias("__n__"))
    w = Window.partitionBy(group_col).orderBy(score_col)
    cum = hist.select(
        group_col,
        score_col,
        F.sum("__n__").over(w).alias("__cum__"),
        F.sum("__n__").over(Window.partitionBy(group_col)).alias("__tot__"),
    )
    thr = (
        cum.filter(
            F.col("__cum__") * F.lit(frac.denominator)
            >= F.col("__tot__") * F.lit(frac.numerator)
        )
        .groupBy(group_col)
        .agg(F.min(score_col).alias("threshold"))
    )
    return df.join(F.broadcast(thr), group_col).withColumn(
        "kept", F.col(score_col) >= F.col("threshold")
    )


def domain_cap(
    df: DataFrame,
    id_col: str,
    group_col: str,
    cap: int,
    salt: str = "",
    n_salts: int = 64,
) -> DataFrame:
    """Cap every group (domain / source / site) at EXACTLY ``cap``
    rows, keeping a deterministic uniform sample — the "no domain may
    dominate the corpus" rule of web-scale curation.  Selection order
    is the portable md5 hash of (id, salt) with the id as tie-break,
    so membership is stable across runs, engines and partitionings,
    and re-runs never swap picked rows.

    Returns the kept rows with their selection ``rank`` (1-based).

    Scale shape — distributed exact top-K per key WITHOUT a hot-key
    window: a single ``row_number() over (partition by group)`` would
    funnel a dominant domain (half the crawl) through one task.
    Instead rows first rank inside (group, salt-bucket) — ``n_salts``
    parallel tasks per group, each emitting at most ``cap`` local
    survivors — and the global rank window then runs over at most
    ``n_salts * cap`` rows per group.  Both windows order by the same
    total key order, so survivor ranks equal the unsalted ranks
    exactly.  Bucket assignment uses the fast engine hash: any row
    partition yields the same final set, so it needs no portability.
    """
    if cap < 1:
        raise ValueError(f"domain_cap: cap must be >= 1, got {cap}")
    okey = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(salt))
    ).alias("__okey__")
    staged = df.select(
        "*",
        okey,
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_salts)).alias(
            "__bucket__"
        ),
    )
    local = Window.partitionBy(group_col, "__bucket__").orderBy(
        "__okey__", id_col
    )
    survivors = (
        staged.withColumn("__lrank__", F.row_number().over(local))
        .filter(F.col("__lrank__") <= cap)
        .drop("__lrank__", "__bucket__")
    )
    world = Window.partitionBy(group_col).orderBy("__okey__", id_col)
    return (
        survivors.withColumn("rank", F.row_number().over(world))
        .filter(F.col("rank") <= cap)
        .drop("__okey__")
    )


def unimax_mixture(
    df: DataFrame,
    key_col: str,
    group_col: str,
    temperature: int = 2,
    salt: str = "",
) -> DataFrame:
    """Temperature-scaled group rebalancing (the UniMax / multilingual
    sampling rule): group weights w_g = n_g^(1/temperature), so
    abundant groups are down-weighted and scarce groups up-weighted
    relative to their natural share, WITHOUT upsampling — the scarcest
    effective group keeps 100% and everything else keeps
    w_g * T / n_g with T = min_g(n_g / w_g).

    ``temperature`` must be a power of two (2 or 4): the weight is
    then a composition of sqrt calls, which IEEE 754 requires to be
    CORRECTLY ROUNDED — so Python (driver model), Spark and any SQL
    oracle compute bit-identical rates.  General real exponents would
    ride on pow(), whose last-ulp behavior is libm-specific.

    Scale shape: identical to :func:`mixture_sample` — one group-count
    agg (rows = number of groups) collected as a bounded driver model,
    then a narrow deterministic hash filter; no shuffle, no RNG.
    """
    import math

    if temperature not in (2, 4):
        raise ValueError(
            f"unimax_mixture: temperature must be 2 or 4 (sqrt-composable), "
            f"got {temperature}"
        )

    def weight(n: float) -> float:
        w = math.sqrt(n)
        if temperature == 4:
            w = math.sqrt(w)
        return w

    counts = {r[0]: r[1] for r in df.groupBy(group_col).count().collect()}
    if not counts:
        return df.filter(F.lit(False))
    total = min(n / weight(n) for n in counts.values())
    frac = _hash_frac(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    rate = F.lit(0.0)
    for g, n in counts.items():
        keep = min(1.0, (weight(n) * total) / n)
        rate = F.when(F.col(group_col) == g, F.lit(keep)).otherwise(rate)
    return df.filter(frac < rate)


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    score_col: str,
) -> DataFrame:
    """Map each row's integer score to its within-group percentile
    rank — pct_rank = count(score' <= score) / count(*) in (0, 1] —
    so heterogeneous quality signals become comparable across
    languages / sources before combining or thresholding them.

    Adds ``cum_count``, ``group_total`` (exact bigints) and
    ``pct_rank`` (one double division of the two — deterministic on
    any IEEE engine).

    Scale shape: same histogram doctrine as
    :func:`adaptive_quality_filter` — the (group, score) groupBy
    condenses the distribution map-side before the cumulative window,
    which only ever sees one row per distinct (group, score).  The
    rank table joins back on (group, score); its size is score
    cardinality, not corpus size, so AQE broadcasts it when small and
    shuffles both sides otherwise — never a per-row window.
    """
    hist = df.groupBy(group_col, score_col).agg(
        F.count(F.lit(1)).alias("__n__")
    )
    w = Window.partitionBy(group_col).orderBy(score_col)
    ranks = hist.select(
        group_col,
        score_col,
        F.sum("__n__").over(w).alias("cum_count"),
        F.sum("__n__").over(Window.partitionBy(group_col)).alias(
            "group_total"
        ),
    ).withColumn(
        "pct_rank",
        F.col("cum_count").cast("double") / F.col("group_total").cast("double"),
    )
    return df.join(ranks, [group_col, score_col])


def pack_offsets(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    budget: int,
    shards: int = 32,
    salt: str = "",
) -> DataFrame:
    """Concat-then-chunk sequence packing: documents are concatenated
    in a deterministic order and the stream is cut every ``budget``
    tokens (the standard LLM pretraining packing, where sequences cross
    document boundaries).  Emits per doc: its shard, start offset in
    the shard's token stream, and the pack (context window) its first
    token lands in.

    Scale shape: a single global stream would serialize the corpus
    through one partition, so the stream is sharded by the portable
    md5 hash (deterministic, engine-portable); each shard packs
    independently with a KEYED window (partitionBy shard, orderBy id) —
    the parallel analogue of packing per input file.  One shuffle on
    the shard key, cumulative sums stay within partitions.
    """
    if budget <= 0 or shards <= 0:
        raise ValueError("pack_offsets: budget and shards must be positive")
    shard = (
        _hash_frac(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
        * shards
    ).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = df.select(
        F.col(id_col),
        F.col(n_tokens_col).cast("long").alias("__tok__"),
        shard.alias("shard"),
    )
    return staged.select(
        F.col(id_col),
        "shard",
        (F.sum("__tok__").over(w) - F.col("__tok__")).alias("start_offset"),
        (
            (F.sum("__tok__").over(w) - F.col("__tok__")) / budget
        ).cast("long").alias("pack_id"),
    )


def ngram_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    k: int = 50,
) -> DataFrame:
    """Corpus-level n-gram vocabulary: the ``k`` most frequent word
    n-grams with counts and document frequency — the profiling step
    behind boilerplate detection, stopword lists, and contamination
    screens.  Output: (gram, n_docs, n_occurrences, rank), rank ties
    broken lexicographically so the cut is deterministic.

    Scale shape: explode → one groupBy shuffle keyed by the gram
    (partial map-side aggregation collapses hot grams before the
    exchange), then a distributed TakeOrdered(k) of the aggregated
    vocabulary — the only global sort ever sees one row per gram, and
    the rank window runs over the k survivors, not the corpus.
    """
    from file_d_spark.functions.quality import _ngram_col
    from file_d_spark.functions.text import tokens

    if n <= 0 or k <= 0:
        raise ValueError("ngram_topk: n and k must be positive")
    grams = df.select(
        F.col(id_col).alias("__doc__"),
        F.explode(_ngram_col(tokens(F.lower(F.col(text_col))), n)).alias("gram"),
    )
    counts = grams.groupBy("gram").agg(
        F.count_distinct("__doc__").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    order = [F.col("n_occurrences").desc(), F.col("gram")]
    top = counts.orderBy(*order).limit(k)
    # rank the k survivors WITHOUT an unpartitioned WindowExec (it
    # would plan a single-partition window — harmless over k rows but
    # a standing scale-smell warning): pack the k rows into one sorted
    # array (negated count => occurrences desc, gram asc) and
    # posexplode, so rank is just the array position
    packed = top.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("n_occurrences")).alias("negocc"),
                    F.col("gram"),
                    F.col("n_docs"),
                )
            )
        ).alias("arr")
    )
    return (
        packed.select(F.posexplode("arr").alias("pos", "t"))
        .select(
            F.col("t.gram").alias("gram"),
            F.col("t.n_docs").alias("n_docs"),
            (-F.col("t.negocc")).alias("n_occurrences"),
            (F.col("pos") + 1).alias("rank"),
        )
    )


# --------------------------------------------------------------------------
# duplicate-span fraction (ExactSubstr proxy, Lee et al. 2021
# "Deduplicating Training Data Makes Language Models Better",
# arXiv:2107.06499 — word-n-gram granularity instead of suffix arrays)
# --------------------------------------------------------------------------


def dup_span_fraction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    tokens_col: str | None = None,
    hot_fraction: float = skew.DEFAULT_FRACTION,
    hot_threshold: int = skew.DEFAULT_THRESHOLD,
    hot_salts: int = skew.DEFAULT_SALTS,
) -> DataFrame:
    """Per document: the fraction of its DISTINCT word n-grams that
    also occur in at least one other document.  The standard "how much
    of this doc is copied from elsewhere in the corpus" signal used to
    score (not just drop) near-duplicated training text.

    Scale design: grams are hashed to portable 60-bit ints
    (:func:`~file_d_spark.functions.dedup._portable_hash60`) before the
    shuffle, so the wide dependency moves 8-byte keys, not n-word
    strings (~10x shuffle-volume reduction at n=8).  ONE gram shuffle:
    doc frequency comes from a count window over the gram hash (grams
    are distinct per doc so count(*) == doc frequency), then a doc-
    keyed aggregation.  The r3 form (freq groupBy + join of the grams
    back to it) shuffled the exploded grams TWICE and re-tokenized the
    corpus for the second branch — measured 1.9x slower.

    Window skew is guarded (:mod:`~file_d_spark.functions.skew`):
    grams hot in a deterministic doc subsample — sampled count >= 2
    proves corpus-wide count >= 2, so their dup flag is known without
    counting — are flagged from a broadcast set and SALTED in the
    window key, so no window task ever holds more than ``1/hot_salts``
    of a Zipfian boilerplate gram; cold grams keep the exact
    single-window fast path (salt 0).  With no hot keys (every
    non-adversarial corpus at test scale) the plan is byte-identical
    to the unguarded form.  Docs shorter than n tokens have no grams
    and drop out — same in the oracle.

    ``tokens_col`` names an already-tokenized array column to use
    instead of re-splitting ``text_col`` — composition pipelines that
    tokenize once upstream (corpus_build_end2end) pass it to avoid
    paying the split per stage."""
    from file_d_spark.functions.dedup import spread
    from file_d_spark.functions.quality import _ngram_sql, _tokens_sql

    if tokens_col is None:
        # per-gram tokenize+hash is heavy per-row work — don't let a
        # one-split scan pipeline it into a single task (r9: 2.24s ->
        # 1.42s at sf0.1); composition pipelines passing tokens_col
        # manage their own partitioning upstream
        df = spread(df)

    # the gram projection ships as SQL text (identical trees): the
    # Column-algebra form cost ~600 py4j round trips per grams_of call
    # per plan build, and it is built twice (main + skew subsample)
    toks_sql = (
        f"`{tokens_col}`" if tokens_col else _tokens_sql(f"`{text_col}`")
    )

    def grams_of(frame: DataFrame) -> DataFrame:
        return frame.selectExpr(
            f"`{id_col}` AS __doc__",
            f"explode(array_distinct({_ngram_sql(toks_sql, n)})) AS __gram__",
        ).selectExpr(
            "__doc__",
            "CAST(conv(substring(md5(__gram__), 1, 15), 16, 10) AS BIGINT)"
            " AS __h__",
        )

    grams = grams_of(df)
    hot: list = []
    if hot_fraction > 0:
        hot = skew.hot_keys(
            grams_of(skew.doc_sample(df, id_col, hot_fraction)),
            "__h__",
            max(2, hot_threshold),
        )
    if hot:
        flagged = (
            skew.hot_marker(grams, hot, "__h__")
            .withColumn("__salt__", skew.salt_col("__doc__", hot_salts))
            .withColumn(
                "__dup__",
                F.when(F.col("__hot__"), F.lit(True)).otherwise(
                    F.count(F.lit(1)).over(
                        Window.partitionBy("__h__", "__salt__")
                    )
                    > 1
                ),
            )
        )
    else:
        flagged = grams.withColumn(
            "__dup__",
            F.count(F.lit(1)).over(Window.partitionBy("__h__")) > 1,
        )
    return (
        flagged.groupBy("__doc__")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("__dup__").cast("long")).alias("dup_grams"),
        )
        .select(
            F.col("__doc__").alias(id_col),
            "n_grams",
            "dup_grams",
            F.round(
                F.col("dup_grams").cast("double") / F.col("n_grams"), 4
            ).alias("dup_fraction"),
        )
    )


def remove_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_count: int = 2,
    hot_fraction: float = skew.DEFAULT_FRACTION,
    hot_threshold: int = skew.DEFAULT_THRESHOLD,
    hot_salts: int = skew.DEFAULT_SALTS,
) -> DataFrame:
    """ExactSubstr-style duplicate-SPAN REMOVAL (Lee et al. 2107.06499
    §4.1 at word-n-gram granularity): every token covered by an n-gram
    that occurs at least ``min_count`` times corpus-wide — counting
    multiplicity, so a phrase repeated inside ONE document also
    qualifies — is cut from the document.  Where
    :func:`dup_span_fraction` only SCORES how much of a doc is copied,
    this produces the cleaned text itself.

    Returns ``(id_col, n_tokens, n_removed, clean_text)`` for EVERY
    input document; ``clean_text`` is the surviving tokens re-joined
    with single spaces ('' when the whole doc was duplicated spans).
    Docs shorter than ``n`` tokens have no grams and pass through.

    Scale design: grams shuffle ONCE as portable 60-bit hashes (8-byte
    keys) with their 1-based start position; corpus-wide occurrence
    count comes from a count window over the gram hash (same
    single-shuffle shape as dup_span_fraction, same heavy-hitter
    guard: subsample-hot grams are >= min_count by construction —
    sampled occurrences are real occurrences — so they pass the filter
    from a broadcast marker and are salted in the window key; cold
    grams keep the exact single-window path).  Duplicated START
    POSITIONS then collapse to one int array per affected document —
    a doc-keyed aggregation whose output is proportional to the
    duplicated region, not the corpus — and the span arithmetic
    (expand starts to covered positions, drop covered tokens, rejoin)
    runs entirely in array HOFs inside the row: no per-position
    explode, no covered-position shuffle, no rebuild groupBy.  The
    final join back to the token arrays is keyed on the doc id and
    broadcasts whenever the duplicated-doc set is small (AQE).
    """
    from file_d_spark.functions.dedup import _portable_hash60

    if n < 2:
        raise ValueError("remove_dup_spans: n must be >= 2")
    if min_count < 2:
        raise ValueError("remove_dup_spans: min_count must be >= 2")

    def grams_of(frame: DataFrame) -> DataFrame:
        t = frame.select(
            F.col(id_col).alias("__id__"),
            tokens(F.col(text_col)).alias("__t__"),
        )
        # (doc, start, gram-hash) — starts are 1-based; guard short
        # docs (sequence(1, 0) would count DOWN in Spark, not return
        # empty)
        starts = F.when(
            F.size("__t__") >= n,
            F.sequence(F.lit(1), F.size("__t__") - F.lit(n - 1)),
        ).otherwise(F.array().cast("array<int>"))
        return t.select(
            "__id__",
            F.explode(
                F.transform(
                    starts,
                    lambda s: F.struct(
                        s.alias("s"),
                        _portable_hash60(
                            F.concat_ws(" ", F.slice(F.col("__t__"), s, n))
                        ).alias("h"),
                    ),
                )
            ).alias("__g__"),
        ).select(
            "__id__",
            F.col("__g__.s").alias("__s__"),
            F.col("__g__.h").alias("__h__"),
        )

    toks = df.select(
        F.col(id_col).alias("__id__"),
        tokens(F.col(text_col)).alias("__t__"),
    )
    grams = grams_of(df)
    hot: list = []
    if hot_fraction > 0:
        hot = skew.hot_keys(
            grams_of(skew.doc_sample(df, id_col, hot_fraction)),
            "__h__",
            max(min_count, hot_threshold),
        )
    if hot:
        # hot grams are >= min_count by construction (their SAMPLED
        # occurrences alone reach it) — pass the filter from the
        # broadcast marker; cold grams count exactly in salt bucket 0
        dup_grams = (
            skew.hot_marker(grams, hot, "__h__")
            .withColumn("__salt__", skew.salt_col("__id__", hot_salts))
            .withColumn(
                "__c__",
                F.count(F.lit(1)).over(
                    Window.partitionBy("__h__", "__salt__")
                ),
            )
            .filter(F.col("__hot__") | (F.col("__c__") >= min_count))
        )
    else:
        dup_grams = grams.withColumn(
            "__c__",
            F.count(F.lit(1)).over(Window.partitionBy("__h__")),
        ).filter(F.col("__c__") >= min_count)
    dup_starts = dup_grams.groupBy("__id__").agg(
        F.collect_list("__s__").alias("__ds__")
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("__ds__"), F.array().cast("array<int>")),
                lambda s: F.sequence(s, s + F.lit(n - 1)),
            )
        )
    )
    joined = toks.join(dup_starts, "__id__", "left").withColumn(
        "__cov__", covered
    )
    kept = F.filter(
        F.col("__t__"),
        lambda t, i: ~F.array_contains(F.col("__cov__"), i + F.lit(1)),
    )
    return joined.select(
        F.col("__id__").alias(id_col),
        F.size("__t__").alias("n_tokens"),
        (F.size("__t__") - F.size(kept)).alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


# --------------------------------------------------------------------------
# unigram log-probability quality score (KenLM-perplexity proxy from
# corpus-level unigram statistics, CCNet-style filtering signal)
# --------------------------------------------------------------------------


def unigram_logprob(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per document: mean log10 unigram probability of its tokens under
    the corpus's own unigram distribution — the cheap stand-in for the
    KenLM-perplexity quality filter (low mean log-prob = rare/garbled
    vocabulary).

    Scale design: one token-count groupBy (map-side combine over a
    zipfian key set), the total token count reduced driver-side from
    the ALREADY-AGGREGATED vocabulary (a scalar, not a data pass), and
    the per-token probability lookup as an equi-join of exploded
    tokens against the vocabulary.  At web scale, truncate the
    vocabulary to its head and fold the tail into an OOV floor before
    the join so the vocab side stays broadcastable."""
    tok = df.select(
        F.col(id_col).alias("__doc__"),
        F.explode(tokens(F.col(text_col))).alias("__t__"),
    )
    vocab = tok.groupBy("__t__").agg(F.count(F.lit(1)).alias("__c__"))
    total = vocab.agg(F.sum("__c__")).collect()[0][0] or 1
    return (
        tok.join(vocab, "__t__")
        .groupBy("__doc__")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log10(F.col("__c__"))) - F.log10(F.lit(float(total))),
                4,
            ).alias("mean_logp"),
        )
        .select(F.col("__doc__").alias(id_col), "n_tokens", "mean_logp")
    )


def bigram_logprob(
    df: DataFrame, id_col: str, text_col: str, lam: float = 0.9
) -> DataFrame:
    """Per document: mean log10 INTERPOLATED-BIGRAM probability of its
    token stream under the corpus's own statistics — the next fidelity
    step past :func:`unigram_logprob` toward the KenLM-style filter
    (CCNet): ``p(b|a) = lam * c(ab)/c(a·) + (1-lam) * c(b)/total``.
    Docs with fewer than two tokens have no bigrams and drop out.

    Scale design: ONE bigram-count groupBy over the corpus (map-side
    combine over a zipfian key set); the history totals ``c(a·)`` come
    from that SAME aggregate (a model-side re-aggregation, not a
    second corpus pass); the unigram side re-reads the CACHED
    tokenized frame; and the interpolated log-probability is computed ONCE
    PER DISTINCT BIGRAM model-side, so the corpus-side work is a
    single (a, b) equi-join against the model followed by the per-doc
    mean.  At web scale truncate both vocabularies to their heads and
    fold the tails into an OOV floor before the join so the model side
    stays broadcastable."""
    # cached: three consumers read the tokenized frame (the bigram
    # explode feeds both the count aggregate and the final scoring
    # join, the unigram explode a third pass) — without the cache the
    # regex tokenizer re-runs over the corpus for each
    toks = _register_cache(
        df.select(
            F.col(id_col).alias("__doc__"),
            tokens(F.col(text_col)).alias("__toks__"),
        ).cache()
    )
    n1 = F.greatest(F.size("__toks__") - 1, F.lit(0))
    bi = toks.select(
        "__doc__",
        F.explode(
            F.zip_with(
                F.slice("__toks__", 1, n1),
                F.slice(F.col("__toks__"), 2, n1),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("__bg__"),
    ).select(
        "__doc__",
        F.col("__bg__.a").alias("__a__"),
        F.col("__bg__.b").alias("__b__"),
    )
    big = bi.groupBy("__a__", "__b__").agg(F.count(F.lit(1)).alias("__cab__"))
    hist = big.groupBy("__a__").agg(F.sum("__cab__").alias("__ca__"))
    # unigram counts come off the SAME tokenized frame — re-deriving
    # from the text column would run the regex tokenizer a second time
    # over the whole corpus
    uni = (
        toks.select(F.explode("__toks__").alias("__b__"))
        .groupBy("__b__")
        .agg(F.count(F.lit(1)).alias("__cb__"))
    )
    total = uni.agg(F.sum("__cb__")).collect()[0][0] or 1
    model = (
        big.join(hist, "__a__")
        .join(uni, "__b__")
        .select(
            "__a__",
            "__b__",
            F.log10(
                F.lit(lam) * F.col("__cab__") / F.col("__ca__")
                + F.lit(1.0 - lam) * F.col("__cb__") / F.lit(float(total))
            ).alias("__lp__"),
        )
    )
    return (
        bi.join(model, ["__a__", "__b__"])
        .groupBy("__doc__")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("__lp__"), 4).alias("mean_logp"),
        )
        .select(F.col("__doc__").alias(id_col), "n_bigrams", "mean_logp")
    )


# --------------------------------------------------------------------------
# TF-IDF keyword extraction
# --------------------------------------------------------------------------


def tfidf_topk(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Top-k TF-IDF terms per document: tf = count/doc_len, idf =
    log10(N_docs/doc_freq), ranked by the ROUNDED score (6dp) with the
    term string as tie-break — rounding first makes the ordering
    engine-portable (a 1-ulp log10 difference can't flip two ranks).

    Scale design: one (doc, term) count groupBy (map-side combine),
    document frequency derived from that SAME aggregate (count per
    term — no second corpus pass), N_docs as a driver scalar, and a
    per-doc top-k window partitioned by doc id — every wide dependency
    is keyed, nothing global."""
    if k <= 0:
        raise ValueError("tfidf_topk: k must be positive")
    n_docs = df.select(id_col).distinct().count() or 1
    dt = (
        df.select(
            F.col(id_col).alias("__doc__"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .groupBy("__doc__", "term")
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    doc_len = dt.groupBy("__doc__").agg(F.sum("__c__").alias("__n__"))
    dfreq = dt.groupBy("term").agg(F.count(F.lit(1)).alias("__df__"))
    score = F.round(
        (F.col("__c__") / F.col("__n__"))
        * F.log10(F.lit(float(n_docs)) / F.col("__df__")),
        6,
    )
    ranked = (
        dt.join(doc_len, "__doc__")
        .join(dfreq, "term")
        .select("__doc__", "term", score.alias("score"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("__doc__").orderBy(
                    F.col("score").desc(), F.col("term")
                )
            ),
        )
        .filter(F.col("rank") <= k)
    )
    return ranked.select(
        F.col("__doc__").alias(id_col), "term", "score", "rank"
    )


# --------------------------------------------------------------------------
# deterministic epoch shuffle into training shards
# --------------------------------------------------------------------------


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    seed: int = 0,
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic corpus shuffle for a training epoch: every document
    gets a pseudo-random but REPRODUCIBLE (seed-keyed) position inside
    one of ``n_shards`` shards — the shuffled-shard layout data loaders
    stream.  Changing ``seed`` produces an independent permutation
    (a new epoch); re-running the same seed reproduces it exactly,
    which is what makes interrupted corpus builds resumable.

    Output: (id, shard, pos) with pos dense 0..len(shard)-1.

    Scale shape: the order key is an md5 of (seed, id) — engine-
    portable, so the whole permutation is oracle-checkable — and the
    ONLY wide op is one hash shuffle on the shard key; each shard
    orders its own rows (a per-shard sort, never a global one).  Shard
    count is the parallelism knob: pick shards ~= writer tasks."""
    key = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string")))
    shard = F.pmod(
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long"), F.lit(n_shards)
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("__key__", id_col)
    return (
        df.select(
            F.col(id_col),
            key.alias("__key__"),
            shard.alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w) - 1)
        .select(id_col, "shard", "pos")
    )


def budget_select(
    df: DataFrame,
    score_col: str,
    weight_col: str,
    id_col: str,
    budget_fraction: float = 0.5,
    partitions: int | None = None,
) -> DataFrame:
    """Token-budget corpus selection: keep the highest-scoring rows
    whose cumulative weight fits ``budget_fraction`` of the total —
    "take the best N tokens" curation (quality-ranked data selection a
    la DsDm/DataComp filtering) — WITHOUT the single-partition running
    sum a naive ``sum() OVER (ORDER BY score)`` plans.

    Distributed prefix sum (the TeraSort + scan pattern):
      1. range-partition by (score desc, id) — a balanced distributed
         sort, each partition holds a contiguous score range;
      2. per-partition subtotals -> ONE bounded collect (numPartitions
         rows, a driver model, never data);
      3. exclusive partition offsets rebroadcast and added to a
         PER-PARTITION cumulative window (partitionBy the partition id,
         so every window task works on its own slice in parallel).

    Two balanced shuffles total; the naive global window funnels the
    entire corpus through ONE reducer.  Results are independent of
    where the range boundaries land because (score, id) is a total
    order.  Output: (id, weight, cum_weight), rows with
    cum_weight <= floor(total * budget_fraction).

    The frame is materialized (localCheckpoint) after the partition id
    is stamped: the subtotal collect and the final windowed join are
    two separate Spark jobs, and repartitionByRange re-samples its
    boundaries per job (the sampler seed derives from the RDD id), so
    without pinning, a boundary-straddling row could land in different
    partitions in the two jobs and silently corrupt the cumulative sum
    once sampling is partial (i.e. at real scale).  Pinning also saves
    the recompute of the sort shuffle in the second job."""
    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col),
        F.col(score_col).alias("__score__"),
        F.col(weight_col).cast("long").alias("__w__"),
    )
    # repartitionByRange executes its input TWICE — a boundary-sampling
    # pass and the shuffle itself — and budget_select's callers feed it
    # expensive scoring pipelines (tokenize + array_distinct per doc).
    # Cache the narrow (id, score, weight) projection so the upstream
    # runs once; unpersisted right after the pinned checkpoint below
    # materializes (r13, §2.3).
    base = base.cache()
    r = base.repartitionByRange(n, F.desc("__score__"), F.col(id_col))
    r = _register_cache(
        r.withColumn("__pid__", F.spark_partition_id()).localCheckpoint(
            eager=True
        )
    )
    base.unpersist()  # the checkpoint holds the rows from here on
    sub = sorted(
        r.groupBy("__pid__").agg(F.sum("__w__").alias("w")).collect(),
        key=lambda row: row["__pid__"],
    )
    total = sum(row.w for row in sub)
    budget = int(total * budget_fraction)
    offsets, acc = [], 0
    for row in sub:
        offsets.append((row["__pid__"], acc))
        acc += row.w
    off_df = spark.createDataFrame(offsets, "__pid__ int, __off__ long")
    w = (
        Window.partitionBy("__pid__")
        .orderBy(F.desc("__score__"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        r.join(F.broadcast(off_df), "__pid__")
        .withColumn("__cum__", F.col("__off__") + F.sum("__w__").over(w))
        .filter(F.col("__cum__") <= F.lit(budget))
        .select(
            F.col(id_col),
            F.col("__w__").alias("weight"),
            F.col("__cum__").alias("cum_weight"),
        )
    )


# --------------------------------------------------------------------------
# DSIR importance weighting (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling", arXiv:2302.03169)
# --------------------------------------------------------------------------


def dsir_logweights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 8192,
    round_dp: int = 4,
) -> DataFrame:
    """DSIR importance log-weight per raw-corpus document: how much
    the doc resembles the TARGET domain, as
    ``sum over hashed n-gram features f of ln p_target(f) - ln p_raw(f)``
    — the published data-selection signal (hashed unigram+bigram
    bag-of-ngrams models with Laplace +1 smoothing; resampling then
    keeps docs with the largest weights).

    Scale design (100 TB): the feature models are BUCKET COUNTS —
    two groupBys over ``n_buckets`` keys (map-side combine condenses
    each mapper to <= n_buckets partial rows), collected as a BOUNDED
    driver model (n_buckets longs, like the k-means centroids), turned
    into one quantized log-ratio array and shipped back as a broadcast
    one-row frame.  Scoring is then a SINGLE narrow corpus pass: the
    in-row feature buckets index the broadcast array via an aggregate
    HOF — no posting explode, no corpus shuffle, no per-doc join.

    Engine-portability: per-bucket log-ratios quantize once to 1e-7
    fixed-point bigints (half-away-from-zero, matching both engines'
    ``round``), so the per-doc sum is exact integer arithmetic — no
    float accumulation order anywhere.  The bucket hash is the
    portable 60-bit md5 hash mod ``n_buckets``, so a DuckDB oracle
    reproduces every value, collisions included.

    Returns ``(id_col, n_feats, logweight)`` for EVERY corpus doc
    (n_feats = 0, logweight = 0.0 for tokenless docs).
    """
    import math

    from file_d_spark.functions.dedup import _portable_hash60, spread

    # the model fits and the scoring pass all do per-gram hashing —
    # heavy per-row work that would pipeline into a single task on a
    # one-split scan (the bitext_mine r9 lesson); spread() is
    # conditional, so real many-split scans skip the repartition
    corpus = spread(corpus)
    target = spread(target)

    def feat_buckets(text: Column) -> Column:
        toks = tokens(text)
        grams = F.concat(toks, _ngram_col(toks, 2))
        return F.transform(
            grams,
            lambda g: F.pmod(
                _portable_hash60(g), F.lit(n_buckets)
            ).cast("int"),
        )

    # both model fits ride ONE union-tagged aggregation (r13 — was one
    # collect job per side; the driver pays ~0.3 s of fixed scheduling
    # per job): <= 2*n_buckets rows collected, same counts per side
    def side_buckets(frame: DataFrame, side: int) -> DataFrame:
        return frame.select(
            F.lit(side).alias("__s__"),
            F.explode(feat_buckets(F.col(text_col))).alias("__b__"),
        )

    rows = (
        side_buckets(corpus, 0)
        .unionByName(side_buckets(target, 1))
        .groupBy("__s__", "__b__")
        .agg(F.count(F.lit(1)).alias("__c__"))
        .collect()
    )  # <= 2*n_buckets rows: a bounded driver model
    raw_c = {r[1]: r[2] for r in rows if r[0] == 0}
    tgt_c = {r[1]: r[2] for r in rows if r[0] == 1}
    big_r = sum(raw_c.values()) + n_buckets
    big_t = sum(tgt_c.values()) + n_buckets

    def half_away(x: float) -> int:
        return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))

    lrq = [
        half_away(
            (
                math.log((tgt_c.get(b, 0) + 1) / big_t)
                - math.log((raw_c.get(b, 0) + 1) / big_r)
            )
            * 1e7
        )
        for b in range(n_buckets)
    ]
    spark = corpus.sparkSession
    model = spark.createDataFrame([(lrq,)], "lrq array<long>")
    return (
        corpus.select(
            F.col(id_col).alias("__id__"),
            feat_buckets(F.col(text_col)).alias("__f__"),
        )
        .crossJoin(F.broadcast(model))
        .select(
            F.col("__id__").alias(id_col),
            F.size("__f__").cast("long").alias("n_feats"),
            F.round(
                F.aggregate(
                    "__f__",
                    F.lit(0).cast("long"),
                    lambda acc, b: acc + F.element_at(F.col("lrq"), b + F.lit(1)),
                ).cast("double")
                / F.lit(1e7),
                round_dp,
            ).alias("logweight"),
        )
    )


# --------------------------------------------------------------------------
# PMI collocation mining
# --------------------------------------------------------------------------


def pmi_phrases(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    k: int = 20,
    round_dp: int = 6,
) -> DataFrame:
    """Top-``k`` two-word collocations by pointwise mutual information
    — the phrase-mining primitive behind multi-word tokenizer vocab
    entries and "treat 'new york' as one token" preprocessing:

        pmi(a, b) = ln( (c_ab / N_bi) / ((c_a / N_uni) * (c_b / N_uni)) )

    with ``c_ab >= min_count`` to suppress one-off pairings.

    Scale design: ONE bigram-count groupBy + one unigram-count groupBy
    over the cached tokenized frame (both zipfian keys — map-side
    combine condenses each mapper); the corpus totals fold out of the
    aggregated model frames, never a data re-pass; the pair scoring
    join runs model-side (distinct bigrams × two unigram lookups) and
    the final top-k is TakeOrderedAndProject.  The corpus never enters
    a wide dependency beyond the two counting shuffles.

    Engine-portability: one ``ln`` over one double ratio built with a
    FIXED operation order, rounded to ``round_dp`` (the weighted-sample
    precedent: ln is bit-stable cross-engine here); ties break on
    (a, b).  Returns (a, b, c_ab, pmi)."""
    toks = _register_cache(
        df.select(tokens(F.col(text_col)).alias("__toks__")).cache()
    )
    bi = (
        toks.select(
            F.explode(
                F.zip_with(
                    F.slice(
                        "__toks__", 1,
                        F.greatest(F.size("__toks__") - 1, F.lit(0)),
                    ),
                    F.slice(
                        "__toks__", 2,
                        F.greatest(F.size("__toks__") - 1, F.lit(0)),
                    ),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("__p__")
        )
        .groupBy(F.col("__p__.a").alias("a"), F.col("__p__.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    uni = (
        toks.select(F.explode("__toks__").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("c_t"))
    )
    uni = _register_cache(uni.cache())
    n_uni = uni.agg(F.sum("c_t").cast("double").alias("__nu__"))
    n_bi = bi.agg(F.sum("c_ab").cast("double").alias("__nb__"))
    scored = (
        bi.filter(F.col("c_ab") >= min_count)
        .join(uni.select(F.col("t").alias("a"), F.col("c_t").alias("c_a")), "a")
        .join(uni.select(F.col("t").alias("b"), F.col("c_t").alias("c_b")), "b")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "a",
            "b",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab").cast("double") / F.col("__nb__"))
                    / (
                        (F.col("c_a").cast("double") / F.col("__nu__"))
                        * (F.col("c_b").cast("double") / F.col("__nu__"))
                    )
                ),
                round_dp,
            ).alias("pmi"),
        )
    )
    return (
        scored.orderBy(F.col("pmi").desc(), "a", "b").limit(k)
    )


def quantile_thresholds(
    df: DataFrame,
    group_col: str,
    score_col: str,
    quantiles: list | None = None,
) -> DataFrame:
    """Per-group exact quantile thresholds in long format (one row per
    (group, quantile) with the integer-rule threshold) — the
    multi-quantile generalization of the single-threshold derivation
    inside :func:`adaptive_quality_filter`.

    Each threshold is the smallest score s with
    ``den·count(score ≤ s) ≥ num·count(*)`` (quantile = num/den) —
    exact integer arithmetic, so Spark and DuckDB agree bit-for-bit
    over the same rows.

    Scale shape (the adaptive_quality_filter doctrine): the (group,
    score) groupBy condenses the distribution FIRST — map-side partial
    aggregation absorbs hot groups — and the cumulative window runs
    over one row per distinct (group, score); the quantile fan-out
    multiplies that bounded frame by len(quantiles), never the corpus.

    Returns (group_col, num, den, n_rows, threshold), all metric
    columns BIGINT.  Null scores are dropped.
    """
    if quantiles is None:
        quantiles = [(1, 4), (1, 2), (9, 10)]
    qs = [(int(n), int(d)) for n, d in quantiles]
    for n, d in qs:
        if not 0 < n <= d:
            raise ValueError(f"quantile_thresholds: {n}/{d} not in (0, 1]")

    src = df.select(
        F.col(group_col).alias(group_col),
        F.col(score_col).cast("long").alias("__s__"),
    ).where(F.col("__s__").isNotNull())
    hist = src.groupBy(group_col, "__s__").agg(F.count(F.lit(1)).alias("__n__"))
    w = Window.partitionBy(group_col).orderBy("__s__")
    cum = hist.select(
        group_col,
        "__s__",
        F.sum("__n__").over(w).alias("__cum__"),
        F.sum("__n__").over(Window.partitionBy(group_col)).alias("__tot__"),
    )
    qlit = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(n).cast("long").alias("num"),
                    F.lit(d).cast("long").alias("den"),
                )
                for n, d in qs
            ]
        )
    ).alias("__q__")
    return (
        cum.select(group_col, "__s__", "__cum__", "__tot__", qlit)
        .select(group_col, "__s__", "__cum__", "__tot__", "__q__.num", "__q__.den")
        .filter(F.col("__cum__") * F.col("den") >= F.col("__tot__") * F.col("num"))
        .groupBy(group_col, "num", "den")
        .agg(
            F.max("__tot__").alias("n_rows"),
            F.min("__s__").alias("threshold"),
        )
    )
