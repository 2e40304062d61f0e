"""Deduplication operators for training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant):
  exact          one hash-groupBy — a single shuffle on the digest;
                 at 100 TB this is the cheapest full-corpus pass.
  jaccard        exact pairwise similarity but pruned by an inverted
                 shingle index (self-join on shingle): only documents
                 SHARING a shingle ever meet, so cost is driven by
                 posting-list sizes, not N².
  minhash+LSH    constant-size signatures (K mins) + banding: candidate
                 pairs come from equi-joins on (band, band_hash) —
                 shuffle keys are small and uniform; verification
                 reranks candidates with exact Jaccard.  THE scale
                 path for near-dup at 100 TB.
  simhash        one 63-bit signature per doc; hamming<=k via banded
                 equi-join over bit chunks (pigeonhole), then exact
                 hamming check with bit_count — no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from file_d_spark.cachereg import register as _register_cache
from file_d_spark.functions import skew
from file_d_spark.functions.text import tokens


def spread(df: DataFrame) -> DataFrame:
    """Repartition to full parallelism before CPU-heavy array work —
    but ONLY when the input is under-split.

    Small corpora arrive as one file split; without this the entire
    shingle/signature computation pipelines into a single task.  At
    real scale the scan already has many splits, and an unconditional
    ``repartition`` would round-robin-shuffle the WHOLE corpus for
    nothing — so the spread is skipped when the scan's file count
    already reaches the session parallelism.  ``inputFiles()`` is a
    driver-side listing (no job); frames not backed by files (memory
    relations, post-shuffle frames) report none and keep the spread,
    which is right for the small fixtures that produce them."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) >= parallelism:
            return df
    except Exception:
        pass
    return df.repartition(parallelism)

# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one survivor (min id) per exact content digest."""
    return (
        df.withColumn("__digest__", F.md5(F.col(content_col).cast("string")))
        .groupBy("__digest__")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("__digest__")
    )


def incremental_dedup(
    new_df: DataFrame, seen_df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """Exact incremental dedup: new docs whose content digest does NOT
    appear in the seen corpus (left-anti join on the digest).  This is
    the correctness baseline; at 100 TB prefer :func:`bloom_dedup`,
    which replaces the seen-side shuffle with a broadcast filter."""
    digest = F.md5(F.col(content_col).cast("string")).alias("__digest__")
    new_d = new_df.withColumn("__digest__", digest)
    seen_d = seen_df.select(digest)
    return new_d.join(seen_d, "__digest__", "left_anti").drop("__digest__")


def _portable_hash60(col: Column) -> Column:
    """Engine-portable 60-bit hash: the first 15 hex chars of md5,
    parsed as an integer.  Identical in DuckDB as
    ``('0x' || substr(md5(x), 1, 15))::UBIGINT`` — the seam that lets
    hash-dependent operators (bloom, simhash) carry full SQL oracles.
    60 bits keeps the value strictly inside a signed long."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _portable_hash60_hi(col: Column) -> Column:
    """Second independent portable hash: hex chars 17..31 of the same
    md5 (no second digest pass)."""
    return F.conv(F.substring(F.md5(col), 17, 15), 16, 10).cast("long")


def _bloom_positions(
    content_col: str, k: int, m: int, portable: bool = False
) -> list[Column]:
    """k bit positions per row by double hashing: pos_i = (b1 + i*b2)
    mod m with b1/b2 folded into the 31-bit prime field (products stay
    far below 2^63 — no long overflow under ANSI mode).

    ``portable=True`` derives b1/b2 from md5 hex instead of xxhash64 so
    a DuckDB oracle can reproduce the exact bit layout (including false
    positives); xxhash64 stays the default hot path."""
    s = F.col(content_col).cast("string")
    if portable:
        b1 = F.pmod(_portable_hash60(s), F.lit(_MH_PRIME))
        b2 = F.pmod(_portable_hash60_hi(s), F.lit(_MH_PRIME - 2)) + 1
    else:
        b1 = F.pmod(F.xxhash64(s), F.lit(_MH_PRIME))
        b2 = F.pmod(F.xxhash64(s, F.lit(0x5BD1E995)), F.lit(_MH_PRIME - 2)) + 1
    return [F.pmod(b1 + F.lit(i) * b2, F.lit(m)) for i in range(k)]


# Word arrays up to this many longs (1 MB) embed as a plan literal;
# larger filters ship as a broadcast one-row frame (see bloom_dedup).
_BLOOM_LITERAL_MAX_WORDS = 1 << 17


def bloom_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    content_col: str,
    id_col: str,
    expected_items: int | None = None,
    fpp: float = 0.01,
    portable: bool = False,
    literal_max_words: int = _BLOOM_LITERAL_MAX_WORDS,
) -> DataFrame:
    """Incremental dedup via a Bloom filter of the seen corpus — the
    scale path for "drop what we already have" against a reference
    corpus FAR larger than the new batch.

    Built from public primitives (this Spark build exposes no
    bloom_filter_agg / might_contain): the seen side maps each digest
    to k bit positions and bit_or-aggregates them into sparse 64-bit
    words — ONE shuffle of tiny (word_idx, bits) rows with map-side
    partial combine — which densify driver-side into a single
    array<long> literal the new batch's scan probes in place (no join,
    no shuffle of either data side).

    Guarantees NO false negatives (every true duplicate is dropped);
    ~``fpp`` of genuinely-new docs are dropped as false positives —
    acceptable for corpus building, not for billing.

    ``expected_items`` sizes the filter; pass the known corpus count to
    skip the sizing count job.  Practical bound: the word array is
    ~1.2 bits/item/0.1fpp — at fpp=1% a 10M-doc corpus is a ~12 MB
    literal; beyond that raise fpp, shard the filter per seen-corpus
    partition range, or register a JVM bloom UDAF."""
    import math

    if expected_items is None:
        expected_items = max(seen_df.count(), 1)
    m = max(64, int(-expected_items * math.log(fpp) / (math.log(2.0) ** 2)))
    k = max(1, round(m / expected_items * math.log(2.0)))
    n_words = (m + 63) // 64
    if n_words > (1 << 22):
        raise ValueError(
            f"bloom_dedup: {n_words} words exceeds the driver-side bound "
            "(the word array is still densified on the driver); "
            "raise fpp or shard the filter"
        )
    sparse = (
        seen_df.select(
            F.explode(
                F.array(*_bloom_positions(content_col, k, m, portable))
            ).alias("pos")
        )
        .selectExpr(
            "pos div 64 AS w",
            "shiftleft(1L, cast(pmod(pos, 64) AS int)) AS b",
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("bits"))
        .collect()
    )
    words = [0] * n_words
    for r in sparse:
        words[r.w] = r.bits
    # Small filters embed as ONE array literal in the task binary;
    # past _BLOOM_LITERAL_MAX_WORDS (1 MB) that literal becomes a
    # codegen/scheduler hazard, so the word array ships as a broadcast
    # one-row frame instead and the probe reads the broadcast column —
    # identical bit layout either way (test_dedup_ops boundary test).
    if n_words <= literal_max_words:
        bloom = F.lit(words)
        probe = new_df
    else:
        model = new_df.sparkSession.createDataFrame(
            [(words,)], "__bloom__: array<long>"
        )
        probe = new_df.crossJoin(F.broadcast(model))
        bloom = F.col("__bloom__")
    hits = [
        F.bit_get(
            F.get(bloom, (pos / 64).cast("int")), F.pmod(pos, F.lit(64))
        )
        == 1
        for pos in _bloom_positions(content_col, k, m, portable)
    ]
    might_contain = hits[0]
    for h in hits[1:]:
        might_contain = might_contain & h
    out = probe.filter(~might_contain)
    return out.drop("__bloom__") if probe is not new_df else out


# --------------------------------------------------------------------------
# shingles + exact jaccard via inverted index
# --------------------------------------------------------------------------


def word_shingles(col: Column, n: int = 2) -> Column:
    """Distinct n-word shingles of a text column.

    Built from n SHIFTED SLICES zipped together, NOT an index transform
    with element_at(toks, i+j): higher-order functions evaluate
    interpreted, and a lambda that references the captured token
    expression re-evaluates the whole split/trim per element — O(len·n)
    string splits per document.  Slices evaluate the token expression
    once each (O(n) total) and the zip lambdas touch only their element
    arguments."""
    toks = tokens(col)
    if n == 1:
        return F.array_distinct(toks)
    length = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    zipped = F.slice(toks, 1, length)
    for j in range(1, n):
        zipped = F.zip_with(
            zipped,
            F.slice(toks, j + 1, length),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    return F.array_distinct(zipped)



# Above this many candidate pairs, the candidate docs' shingle sets no
# longer fit a comfortable broadcast (each set is ~1-5 KB of shingle
# strings; 100k pairs ≈ ≤200k docs ≈ several hundred MB serialized on
# the driver) — fall back to shuffle joins keyed on doc id.  Same
# result, two extra exchanges; only a near-everything-duplicate corpus
# reaches this.
_VERIFY_BROADCAST_MAX_PAIRS = 100_000


def _verify_pairs(
    sh, candidates, threshold: float, broadcast_max: int | None = None
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs.

    ``candidates`` is cached — it feeds the cand-doc broadcast AND the
    final spine, and without the cache every broadcast job re-executes
    the whole candidate-generation subtree.  ``sh`` is the CACHED
    (doc, shingles, set_size) frame, so verification reads the shingle
    sets from memory instead of recomputing them; both join sides
    reference byte-identical plans so ReuseExchange ships one
    broadcast, not two.

    While candidates are sparse (the normal case) the shingle sets of
    candidate docs are broadcast; above ``broadcast_max`` pairs
    (default ``_VERIFY_BROADCAST_MAX_PAIRS``) the broadcast would blow
    driver memory, so the joins run as shuffles instead.
    """
    if broadcast_max is None:
        broadcast_max = _VERIFY_BROADCAST_MAX_PAIRS
    candidates = _register_cache(candidates.cache())
    n_pairs = candidates.count()  # materializes the cache; reused below
    hint = F.broadcast if n_pairs <= broadcast_max else (lambda d: d)
    cand_docs = candidates.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc")
    ).distinct()
    sets = sh.join(hint(cand_docs), "doc").select(
        "doc", "shingles", "set_size"
    )
    return (
        candidates.join(
            hint(sets.alias("sa")), F.col("doc_a") == F.col("sa.doc")
        )
        .join(hint(sets.alias("sb")), F.col("doc_b") == F.col("sb.doc"))
        .withColumn(
            "common", F.size(F.array_intersect("sa.shingles", "sb.shingles"))
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("sa.set_size") + F.col("sb.set_size") - F.col("common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.7,
    hot_fraction: float = skew.DEFAULT_FRACTION,
    hot_threshold: int = skew.DEFAULT_THRESHOLD,
    hot_salts: int = skew.DEFAULT_SALTS,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold — exact, via a
    PREFIX-FILTERED inverted index (AllPairs/PPJoin family).

    Order shingles by ascending global frequency (ties by value) and
    index only each doc's prefix — the first |A| - ceil(t*|A|) + 1
    shingles.  Any pair with J >= t must share a shingle in BOTH
    prefixes, so the candidate join only touches each doc's RAREST
    shingles: a globally hot shingle (boilerplate, stack-trace
    preamble) falls out of every prefix and its posting list never
    self-joins — this removes the quadratic hot-key blowup of a plain
    inverted index.  Candidates are then verified with the exact
    Jaccard on the full shingle sets, so the filter is lossless.

    Shuffles are all linear in the posting count: freq groupBy
    (shingle), rank window (doc), prefix self-join (shingle),
    pair-groupBy.  No shuffle is quadratic in a posting list.

    Rejected alternative (round 3, measured): replacing the freq/rank
    windows with a binary hot/cold bitmap (top-K frequency set, probed
    in-row or per posting) runs 4-5x SLOWER end-to-end.  On a
    small-vocabulary corpus nearly every shingle is "hot", so the
    binary split loses the graded order — prefixes then admit
    mid-frequency shingles and the candidate join explodes.  The
    pruning power lives in ranking each doc's shingles by EXACT global
    frequency, which the window pair computes in two linear shuffles.

    The freq window carries the heavy-hitter guard
    (:mod:`~file_d_spark.functions.skew`), which is NOT that rejected
    bitmap: hotness here is scale-gated (default ~1e6+ estimated
    occurrences), so the graded frequency order survives for the
    entire real vocabulary and only the pathological Zipfian tail —
    shingles whose posting lists would serialize a window task — is
    clamped to one shared huge frequency (they sort last, fall out of
    every prefix, and their window partitions are salted).  The
    clamped order is still a consistent TOTAL order over shingles
    (ties broken by value), which is all the AllPairs prefix theorem
    needs — losslessness is unchanged, and the verify stage is exact
    regardless.
    """
    from pyspark.sql import Window

    # Shingles are hashed to LONGS at the frame boundary and the whole
    # pipeline — postings, freq window, prefix self-join, and above
    # all the exact-Jaccard verify — runs on 8-byte ints instead of
    # ~25-byte strings.  array_intersect on long arrays measured 18x
    # faster than on string arrays (7.3s vs 135.8s over the 10.3M
    # candidates of a 10x-replicated sf0.1 corpus), and the shuffled
    # posting rows shrink ~3x.  Exactness: |h(A) ∩ h(B)| == |A ∩ B|
    # whenever xxhash64 is injective on the corpus vocabulary; a
    # collision (expected only past ~2^32 distinct shingles) merges
    # two shingles corpus-WIDE, which is a universe coarsening — the
    # candidate set stays a superset (lossless) and the Jaccard of an
    # affected pair shifts by at most 1/|A∪B|.  array_distinct guards
    # the intra-document case so set_size stays consistent with the
    # coarsened universe.
    sh = (
        spread(df)
        .select(
            F.col(id_col).alias("doc"),
            F.array_distinct(
                F.transform(
                    word_shingles(F.col(text_col), n),
                    lambda s: F.xxhash64(s),
                )
            ).alias("shingles"),
        )
        .withColumn("set_size", F.size("shingles"))
        .filter(F.col("set_size") > 0)
        .cache()
    )  # one shingle pass, reused by the posting AND the verify stage
    _register_cache(sh)
    posting = sh.select("doc", "set_size", F.explode("shingles").alias("shingle"))
    hot: list = []
    if hot_fraction > 0:
        hot = skew.hot_keys(
            skew.doc_sample(sh, "doc", hot_fraction).select(
                "doc", F.explode("shingles").alias("shingle")
            ),
            "shingle",
            max(2, hot_threshold),
        )
    # global shingle frequency as a window count (NOT a groupBy +
    # broadcast join: at 100 TB the vocabulary itself is huge, so the
    # freq table must stay distributed; the window shuffles postings by
    # shingle once and never collects them)
    if hot:
        ranked = (
            skew.hot_marker(posting, hot, "shingle", key_type="long")
            .withColumn("__salt__", skew.salt_col("doc", hot_salts))
            .withColumn(
                "__freq__",
                F.when(F.col("__hot__"), F.lit(1 << 60)).otherwise(
                    F.count(F.lit(1)).over(
                        Window.partitionBy("shingle", "__salt__")
                    )
                ),
            )
        )
    else:
        ranked = posting.withColumn(
            "__freq__",
            F.count(F.lit(1)).over(Window.partitionBy("shingle")),
        )
    ranked = ranked.withColumn(
        "__rank__",
        F.row_number().over(
            Window.partitionBy("doc").orderBy("__freq__", "shingle")
        ),
    )
    prefix_len = F.col("set_size") - F.ceil(F.lit(threshold) * F.col("set_size")) + 1
    # materialize the prefix ONCE: the self-join below broadcasts one
    # side, and a BroadcastExchange cannot reuse the other side's
    # shuffle Exchange — without this the whole freq/rank window
    # subtree (2 exchanges, 2 sorts, 2 windows) executes twice, once
    # per join side (plan-verified r13).  The checkpoint is ~30% of
    # the posting count (the prefix theorem's bound), far smaller than
    # the recompute it replaces.
    prefix = _register_cache(
        ranked.filter(F.col("__rank__") <= prefix_len)
        .select("doc", "set_size", "shingle")
        .cache()
    )
    # size filter inside the join: jaccard >= t needs t*|A| <= |B|
    # (and symmetrically), so mismatched sizes never pair up.
    # Pairs sharing several prefix shingles come out duplicated, and
    # the candidates MUST dedup before verification: on the
    # duplicate-heavy corpora dedup exists for, near-identical pairs
    # share their ENTIRE prefix, so verifying per candidate ROW pays
    # the array_intersect once per shared shingle (~30x measured on a
    # 10x-replicated corpus: 167s -> the pair-key shuffle of plain
    # int pairs costs far less than the redundant intersects it
    # removes).  The LSH path (minhash_lsh_pairs) already dedups
    # per-band collisions for the same reason.
    candidates = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (F.col("b.set_size") >= threshold * F.col("a.set_size"))
            & (F.col("a.set_size") >= threshold * F.col("b.set_size")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _verify_pairs(sh, candidates, threshold)


# --------------------------------------------------------------------------
# minhash + LSH
# --------------------------------------------------------------------------


_MH_PRIME = (1 << 31) - 1  # Mersenne prime; products stay < 2^62


def _mh_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed (a_i, b_i) pairs for the universal hash family
    h_i(x) = (a_i*x + b_i) mod P — deterministic, no RNG state."""
    out = []
    x = 0x9E3779B9
    for _ in range(num_hashes):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        a = (x % (_MH_PRIME - 1)) + 1
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        b = x % _MH_PRIME
        out.append((a, b))
    return out


def base_hashes(shingles: Column) -> Column:
    """Per-shingle xxhash64 folded into the 31-bit prime field.
    Accepts the HASHED long shingles of :func:`_shingle_frame` (the
    xxhash64 already happened at the frame boundary — values are
    bit-identical to the old hash-the-string form).  MUST be
    materialized as a real column before fanning out into the K
    min-hash derivations: higher-order functions evaluate interpreted,
    so an expression referenced by K lambdas would re-run the pass K
    times per row."""
    return F.transform(shingles, lambda h: F.pmod(h, F.lit(_MH_PRIME)))


def minhash_signature(base: Column, num_hashes: int = 64) -> Column:
    """K min-hash values from a materialized :func:`base_hashes`
    column.

    The expensive string hash runs ONCE per shingle (in the base
    column); the K functions derive arithmetically via a universal
    hash family h_i(x) = (a_i*x + b_i) mod P over a 31-bit prime
    field (products < 2^62 — no long overflow under ANSI mode).

    All K running minima update in ONE traversal of the base array:
    aggregate with a K-lane accumulator, each lane doing
    least(acc_i, (a_i*h + b_i) mod P) with a_i/b_i read from two
    folded literal arrays.  The K-separate-passes form (array_min of
    a transform per hash function) re-walks the shingle array K times
    interpreted — measured ~2.5x slower at K=64."""
    consts = _mh_constants(num_hashes)
    # one py4j trip per literal array — F.lit(list) expands to one
    # trip per ELEMENT (r14; 2 × 64 longs ≈ 1,050 trips per plan here)
    from file_d_spark.functions.sqlexpr import lit_longs

    a_lit = lit_longs([a for a, _ in consts])
    b_lit = lit_longs([b for _, b in consts])
    return F.aggregate(
        base,
        F.array_repeat(F.lit(_MH_PRIME).cast("long"), num_hashes),
        lambda acc, h: F.transform(
            acc,
            lambda x, i: F.least(
                x, F.pmod(h * F.get(a_lit, i) + F.get(b_lit, i), F.lit(_MH_PRIME))
            ),
        ),
    )


def _shingle_frame(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Cached (doc, shingles, set_size) frame — one shingle pass,
    reused by the signature AND the verify stage.  Shingles are
    xxhash64 LONGS, not strings (see the rationale in
    :func:`jaccard_pairs`: 18x cheaper exact-Jaccard verification,
    ~3x smaller shuffles; exact under corpus-vocabulary injectivity,
    universe-coarsened and still candidate-lossless under a
    collision).  The minhash base derivation is unchanged bit-for-bit:
    it always was pmod(xxhash64(shingle), P), and :func:`base_hashes`
    now applies pmod to the already-hashed value."""
    sh = (
        spread(df)
        .select(
            F.col(id_col).alias("doc"),
            F.array_distinct(
                F.transform(
                    word_shingles(F.col(text_col), n),
                    lambda s: F.xxhash64(s),
                )
            ).alias("shingles"),
        )
        .withColumn("set_size", F.size("shingles"))
        .filter(F.col("set_size") > 0)
        .cache()
    )
    return _register_cache(sh)


def _banded_signatures(
    sh: DataFrame, num_hashes: int, bands: int, cache: bool = True
) -> DataFrame:
    """(doc, band, bucket) LSH banding of a shingle frame.

    ``cache=True`` is for consumers that traverse the banding twice
    (the self-join in :func:`minhash_lsh_pairs`); single-pass
    consumers (the two-table fuzzy ops) pass False — materializing a
    corpus × bands cache that is read once costs memory and a write
    pass for nothing."""
    rows_per_band = num_hashes // bands
    # two projections: base hashes materialize once (referenced 64×
    # by the derivations — CollapseProject keeps the non-cheap column)
    hashed = sh.select("doc", base_hashes(F.col("shingles")).alias("__base__"))
    sig = hashed.select(
        "doc", minhash_signature(F.col("__base__"), num_hashes).alias("sig")
    )
    # one SQL string instead of bands*rows Column objects: building
    # ~80 py4j Columns costs ~0.5 s of plan-build per banded frame
    # (pure driver time, paid on every plan); the parsed expression is
    # identical, so results are bit-equal
    structs = ", ".join(
        "struct({b} as band, xxhash64({refs}) as bucket)".format(
            b=b,
            refs=", ".join(
                f"sig[{b * rows_per_band + r}]" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    banded = sig.select(
        "doc", F.expr(f"explode(array({structs}))").alias("bb")
    ).select("doc", "bb.band", "bb.bucket")
    if cache:
        return _register_cache(banded.cache())
    return banded


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact
    Jaccard >= threshold on the candidates.

    bands=16 over 64 hashes (r=4 rows/band) puts the S-curve knee near
    j ≈ (1/16)^(1/4) ≈ 0.5 — high recall at threshold 0.7.
    """
    sh = _shingle_frame(df, id_col, text_col, n)
    banded = _banded_signatures(sh, num_hashes, bands)
    # dedup pairs via groupBy on the pair key (a pair colliding in
    # several bands must verify once, not once per band)
    candidates = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("__nb__"))
        .drop("__nb__")
    )
    return _verify_pairs(sh, candidates, threshold)


def fuzzy_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """Fuzzy train/eval contamination: flag corpus documents whose text
    is a NEAR-duplicate (exact Jaccard >= ``threshold``, candidates via
    MinHash banding) of any eval-set document.  Complements
    :func:`file_d_spark.functions.corpus.decontaminate`, which needs a
    verbatim shared n-gram — paraphrased or lightly-edited benchmark
    leakage only trips this fuzzy check.

    Returns one row per corpus document:
    ``(id, n_matches, max_jaccard, contaminated)``.

    Scale shape (the 100 TB case is corpus >> eval): the eval side —
    benchmarks, MBs — is banded and BROADCAST into the candidate join,
    so the corpus stays un-shuffled end to end: one narrow signature
    pass, a broadcast-hash join per band key, and a groupBy on the
    (sparse) candidate pairs.  Verification broadcasts the eval shingle
    sets and the candidate id list back onto the cached corpus shingle
    frame — both bounded by the eval/candidate size, never by the
    corpus.
    """
    sh_c = _shingle_frame(corpus, id_col, text_col, n)
    sh_e = _shingle_frame(eval_set, id_col, text_col, n)
    banded_c = _banded_signatures(sh_c, num_hashes, bands, cache=False)
    banded_e = _banded_signatures(sh_e, num_hashes, bands, cache=False)
    candidates = (
        banded_c.alias("a")
        .join(F.broadcast(banded_e.alias("b")), ["band", "bucket"])
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("__nb__"))
        .drop("__nb__")
    )
    candidates = _register_cache(candidates.cache())
    # verify: the (eval-bounded) candidate pairs broadcast straight
    # onto the cached corpus shingle frame — the corpus side stays the
    # un-shuffled probe side, and the eval shingle sets broadcast
    # whole.  (The r13 pre-shape first semi-joined the corpus shingles
    # down to candidate docs and broadcast THAT — same row count, but
    # one extra distinct shuffle and one extra broadcast build per run
    # for a frame the candidate broadcast already bounds.)
    pairs = (
        sh_c.alias("sa")
        .join(F.broadcast(candidates), F.col("sa.doc") == F.col("doc_a"))
        .join(F.broadcast(sh_e.alias("sb")), F.col("doc_b") == F.col("sb.doc"))
        .withColumn(
            "common", F.size(F.array_intersect("sa.shingles", "sb.shingles"))
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("sa.set_size") + F.col("sb.set_size") - F.col("common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    hits = pairs.groupBy(F.col("doc_a").alias("doc")).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )
    return (
        corpus.select(F.col(id_col).alias("doc"))
        .join(F.broadcast(hits), "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_matches", F.lit(0).cast("long")).alias("n_matches"),
            F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
            (F.coalesce("n_matches", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def fuzzy_incremental_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """Incremental NEAR-dup dedup: flag new-batch documents whose text
    has exact Jaccard >= ``threshold`` (candidates via MinHash
    banding) against ANY document of the seen corpus — the fuzzy
    sibling of :func:`incremental_dedup`/:func:`bloom_dedup`, which
    only catch byte-identical re-crawls.

    Returns one row per new document: ``(id, n_near_dups, kept)``.

    Scale shape — the contrast with :func:`fuzzy_decontaminate` is the
    SEEN side: a reference corpus is as big as the corpus itself, so
    nothing broadcasts.  Both sides band to constant-size keys and
    meet in a (band, bucket)-keyed equi-join — uniform hash keys,
    shuffle linear in banded rows (the same candidate-generation shape
    the self-join dedup uses, AQE-splittable); verification joins are
    bounded by the candidate count.  In steady state the seen side's
    banded signatures are a persisted artifact (band/bucket-bucketed
    table — cf. bucketed incremental dedup), so each ingest run only
    signatures and shuffles the NEW batch.
    """
    sh_n = _shingle_frame(new_df, id_col, text_col, n)
    sh_s = _shingle_frame(seen_df, id_col, text_col, n)
    banded_n = _banded_signatures(sh_n, num_hashes, bands, cache=False)
    banded_s = _banded_signatures(sh_s, num_hashes, bands, cache=False)
    candidates = (
        banded_n.alias("a")
        .join(banded_s.alias("b"), ["band", "bucket"])
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("__nb__"))
        .drop("__nb__")
    )
    candidates = _register_cache(candidates.cache())
    sets_a = sh_n.join(
        candidates.select(F.col("doc_a").alias("doc")).distinct(), "doc"
    ).select("doc", "shingles", "set_size")
    sets_b = sh_s.join(
        candidates.select(F.col("doc_b").alias("doc")).distinct(), "doc"
    ).select("doc", "shingles", "set_size")
    dup_counts = (
        candidates.join(
            sets_a.alias("sa"), F.col("doc_a") == F.col("sa.doc")
        )
        .join(sets_b.alias("sb"), F.col("doc_b") == F.col("sb.doc"))
        .withColumn(
            "common", F.size(F.array_intersect("sa.shingles", "sb.shingles"))
        )
        .filter(
            F.col("common").cast("double")
            / (F.col("sa.set_size") + F.col("sb.set_size") - F.col("common"))
            >= threshold
        )
        .groupBy(F.col("doc_a").alias("doc"))
        .agg(F.count(F.lit(1)).alias("n_near_dups"))
    )
    return (
        new_df.select(F.col(id_col).alias("doc"))
        .join(dup_counts, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_near_dups", F.lit(0).cast("long")).alias(
                "n_near_dups"
            ),
            (F.coalesce("n_near_dups", F.lit(0)) == 0).alias("kept"),
        )
    )


# --------------------------------------------------------------------------
# simhash
# --------------------------------------------------------------------------

SIMHASH_BITS = 63  # stay inside a signed long


_SIMHASH_LANES = 16  # 16-bit counters, 4 per long accumulator
_SIMHASH_LANE_MASK = 0x0001000100010001  # one count bit per 16-bit lane
_SIMHASH_MAX_TOKENS = 0xFFFF  # lane counters saturate at 65535 tokens


def simhash(
    df: DataFrame, id_col: str, text_col: str, portable: bool = False
) -> DataFrame:
    """63-bit SimHash per document from token xxhash64s
    (frequency-weighted: repeated tokens vote repeatedly).
    ``portable=True`` switches to the 60-bit md5-derived token hash
    (:func:`_portable_hash60`) so the signature — and therefore the
    whole near-dup pair set — is bit-for-bit reproducible in DuckDB.

    Pure per-row expressions, NO shuffle (the groupBy variant costs an
    exchange of every token).  The bit votes are counted in ONE pass
    over the hash array via SWAR lanes: accumulator k (of 16 longs)
    adds ``(h >> k) & 0x0001000100010001``, so bit position 16*j + k
    counts up in the j-th 16-bit lane of accumulator k.  One traversal
    with 16 scalar updates per token replaces the 63 interpreted
    array-aggregate passes of the naive form (~6x fewer interpreted
    ops, measured ~3x end-to-end).  Documents are capped at 65535
    tokens so a lane can never overflow into its neighbor; votes over a
    65k-token document are statistically identical on a prefix.

    The lane/vote expressions ship as SQL text (selectExpr), not Column
    algebra: the 63-term vote sum plus the 16-lane aggregate cost ~700
    py4j round trips per plan build (~0.9 ms each on the measured host)
    when assembled Column-by-Column; the identical trees parse JVM-side
    in one call."""
    if portable:
        tok_hash_sql = "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)"
    else:
        tok_hash_sql = "xxhash64(t)"
    n_bits = 60 if portable else SIMHASH_BITS
    tokens_sql = r"filter(split(trim(`%s`), '\\s+'), t -> t != '')" % text_col
    # zero-token docs carry no signal: an all-zero signature would pair
    # every pair of empty docs at hamming 0, while a vote-based oracle
    # (group over tokens) never sees them at all — drop them here so
    # both engines agree that signature-less docs produce no pairs
    hashed = (
        spread(df)
        .selectExpr(
            f"`{id_col}` AS doc",
            f"slice(transform({tokens_sql}, t -> {tok_hash_sql}),"
            f" 1, {_SIMHASH_MAX_TOKENS}) AS __hashes__",
        )
        .filter(F.size("__hashes__") > 0)
    )
    # materialize the lane accumulators ONCE (aggregate is non-cheap, so
    # CollapseProject keeps the projection); the 63 per-bit extractions
    # below are scalar shift/mask ops against it, not array traversals
    lane_terms = ", ".join(
        f"element_at(acc, {k + 1}) + (shiftright(h, {k}) & {_SIMHASH_LANE_MASK})"
        for k in range(_SIMHASH_LANES)
    )
    counted = hashed.selectExpr(
        "doc",
        "size(__hashes__) AS __n__",
        f"aggregate(__hashes__,"
        f" array_repeat(CAST(0 AS BIGINT), {_SIMHASH_LANES}),"
        f" (acc, h) -> array({lane_terms})) AS __lanes__",
    )

    # bit i set <=> ones-count*2 > n (vote sum = 2*ones - n > 0)
    def bit_term(i: int) -> str:
        k, j = i % _SIMHASH_LANES, i // _SIMHASH_LANES
        return (
            f"(CASE WHEN (shiftright(element_at(__lanes__, {k + 1}),"
            f" {16 * j}) & 65535) * 2 > __n__"
            f" THEN {1 << i} ELSE 0 END)"
        )

    vote_sum = " + ".join(["0"] + [bit_term(i) for i in range(n_bits)])
    sig = counted.selectExpr("doc", f"CAST({vote_sum} AS BIGINT) AS simhash")
    return sig


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Pairs with hamming(simhash) <= max_hamming via the pigeonhole
    banding trick: split the signature into ``chunks`` bit ranges; any
    pair within distance k must agree exactly on at least one chunk
    when chunks > k — so candidates come from equi-joins on
    (chunk_idx, chunk_value), never a cross join.  The pigeonhole holds
    even when ``bits % chunks`` trailing bits stay un-banded (<= k bad
    bits can dirty at most k of the > k chunks), so the output is
    EXACTLY the hamming <= max_hamming pair set — which is what lets
    the portable mode carry a brute-force SQL oracle."""
    assert chunks > max_hamming, "need chunks > max_hamming for full recall"
    # materialize the signatures ONCE: the chunk self-join below
    # broadcasts one side, and a BroadcastExchange cannot reuse the
    # other side's shuffle Exchange — without the cache the whole
    # tokenize+hash+SWAR-vote subtree executes twice, once per join
    # side (plan-verified r13, the jaccard-prefix lesson).  One long
    # per doc — far smaller than the recompute it replaces.
    sig = _register_cache(
        simhash(df, id_col, text_col, portable=portable).cache()
    )
    per_chunk = (60 if portable else SIMHASH_BITS) // chunks
    chunk_mask = (1 << per_chunk) - 1
    chunk_structs = ", ".join(
        f"named_struct('chunk', {c}, 'val',"
        f" shiftright(simhash, {c * per_chunk}) & {chunk_mask})"
        for c in range(chunks)
    )
    chunked = sig.selectExpr(
        "doc", "simhash", f"explode(array({chunk_structs})) AS cc"
    ).select("doc", "simhash", "cc.chunk", "cc.val")
    cand = (
        chunked.alias("a")
        .join(chunked.alias("b"), ["chunk", "val"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# --------------------------------------------------------------------------
# duplicate clustering (connected components over near-dup pairs)
# --------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 12,
    driver_max_pairs: int = 100_000,
) -> DataFrame:
    """Group near-dup pairs into duplicate clusters: (id, cluster_id)
    where cluster_id = min id reachable in the pair graph.

    A dedup pipeline needs clusters, not pairs — if A~B and B~C, keeping
    "one of each pair" would drop both B and C; the right unit is the
    connected component with one representative (min id) kept.

    Scale design: alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — each round is two keyed groupBy+join passes over the
    edge list, and the round count is O(log n) on ANY graph, including
    adversarial chains where plain label propagation needs
    diameter-many shuffles.  Lineage is truncated each round with
    localCheckpoint so round k doesn't replay rounds 1..k-1;
    convergence is detected from a (count, hash-sum) signature of the
    edge set — one tiny aggregate per round instead of a full
    set-compare.  ``max_iter`` stays as a hard safety bound.
    """
    pairs = pairs.select(src, dst)

    # Bounded-model fast path: near-dup pair lists are tiny relative to
    # the corpus (pairs, not docs — a 100 TB corpus with 1% near-dups
    # in small cliques stays far under the bound), and the Pregel loop
    # costs ~2 jobs per round in fixed scheduling overhead.  Below the
    # bound, union-find on the driver gives the identical min-label
    # result in one job + one collect; above it, the distributed loop
    # runs — same contract, no driver risk.
    # ONE limit-collect answers both "is the pair list small?" and
    # "what are the pairs?" (r13 — was a count job plus a collect job;
    # each driver job costs 0.2-0.4 s of fixed scheduling overhead on
    # the measured host): fetching bound+1 rows proves the overflow
    # without counting, and below the bound the fetched rows ARE the
    # complete set.  The probe runs straight off the pair plan — no
    # checkpoint first (also r13: the eager checkpoint was a whole
    # extra materialization pass the fast path never needed); only the
    # distributed path below pays one (checkpointed) re-execution, and
    # there it is noise against the contraction loop.
    fast_rows = pairs.limit(driver_max_pairs + 1).collect()
    if len(fast_rows) <= driver_max_pairs:
        import pyspark.sql.types as T

        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in fast_rows:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        id_type = pairs.schema[src].dataType
        schema = T.StructType(
            [
                T.StructField("id", id_type),
                T.StructField("cluster_id", id_type),
            ]
        )
        rows = [(x, find(x)) for x in parent]
        return pairs.sparkSession.createDataFrame(rows, schema)

    # distributed path: materialize the pair list ONCE before fanning
    # out — nodes references it twice and the contraction once more,
    # and each would otherwise re-execute the (expensive) pair subtree
    pairs = _register_cache(pairs.localCheckpoint(eager=True))
    nodes = _register_cache(
        pairs.select(F.col(src).alias("id"))
        .unionByName(pairs.select(F.col(dst).alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    stars = _star_contraction(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")), max_iter
    )
    # star edges carry every non-root member; roots label themselves
    return nodes.join(
        stars.select(F.col("u").alias("id"), F.col("v").alias("root")),
        "id",
        "left",
    ).select("id", F.coalesce("root", F.col("id")).alias("cluster_id"))


def _star_contraction(edges0: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star rounds until the edge set is
    stable; returns star edges ``(u=member, v=component min)``.

    large-star(u): every strictly-larger neighbor of ``u`` re-attaches
    to ``m = min(N(u) ∪ {u})`` — after it, every edge points downhill.
    small-star(u): ``u`` and all its (smaller) parents attach to their
    common minimum.  Alternating the two halves chain depth every
    round, so rounds = O(log n) even on a path graph, while each round
    is two keyed aggregations — no broadcast, no driver state.
    """
    edges = (
        edges0.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
    )
    edges = _register_cache(edges.localCheckpoint(eager=True))
    prev_sig = None
    for _ in range(max_iter):
        # -- large-star
        adj = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            adj.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        large = (
            adj.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # -- small-star (input is downhill-oriented: v < u everywhere)
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .distinct()
        )
        edges = _register_cache(
            small.repartition("u").localCheckpoint(eager=True)
        )
        # bit_xor: order-free and overflow-free under ANSI mode (edges
        # are distinct, so xor-cancellation of duplicates can't occur)
        sig_row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).first()
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    return edges


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Per-document cluster assignment: every doc in ``df`` gets a
    cluster_id (its component's min id; singletons map to themselves)
    plus is_representative for the survivor."""
    cc = connected_components(pairs, src, dst)
    return (
        df.select(F.col(id_col))
        .join(cc.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn(
            "is_representative", (F.col(id_col) == F.col("cluster_id"))
        )
    )
