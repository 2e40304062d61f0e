"""Replication stress harness — the 4th scaling decade.

Replicates the driver's sf0.1 tables N-fold (id columns offset per
copy; document text perturbed by one trailing token so the corpus is
NEAR-duplicate-heavy rather than exactly-duplicate) and times a query
list against the replicated directory.  This is the probe that caught
the round-8 string-shingle verify bottleneck (SCALE.md "Measured
scaling decades + replication stress"): correctness lives at the
driver SFs, but super-linear shapes only show when the data outruns
the fixed overhead.

Usage:
    python tools/replication_stress.py [--factor 10] [--out DIR]
        [query ...]

Runs a built-in heavy-hitter list when no queries are named.  Prints
one JSON line.  Protocol notes: compare WARM runs only — the first
heavy query of a fresh session pays ~60-100s of JVM ramp at x10 (C2 +
GC sizing); the harness runs a small warmup query first for exactly
this reason.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# the repo root replaces this script's directory, where tools/profile.py
# would shadow the standard library's profile module
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BASE_SF = "/root/testdata/sf0.1"
DEFAULT_QUERIES = [
    "dedup_cluster", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_simhash", "dsir_importance", "dup_span_fraction",
    "exact_substr_clean", "fuzzy_decontaminate", "line_dedup",
    "bm25_suite", "bpe_train_apply", "ann_methods",
    "kmeans_clusters", "embedding_pq", "quality_adaptive_filter",
]

# tables replicated N-fold, with the id column offset per copy.
# lineitem/orders offset their shared join key consistently, so order
# joins stay within a copy while per-customer/supplier/part fan-out
# grows N-fold — the realistic scale-up shape.
TABLES = {
    "documents": "doc_id",
    "embeddings": "vec_id",
    "events": "event_id",
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
}
# dimension tables copied verbatim so every load_table target resolves
VERBATIM = ["region", "nation", "customer", "supplier", "part"]


def build(out_dir: str, factor: int, base: str = BASE_SF) -> None:
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for table, id_col in TABLES.items():
        src = f"read_parquet('{base}/{table}.parquet')"
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
        exprs = []
        for c in cols:
            if c == id_col:
                exprs.append(f"{c} + i * 1000000000 AS {c}")
            elif table == "documents" and c == "text":
                # one-token perturbation: near-duplicate, not exact —
                # the adversarial regime for fuzzy dedup
                exprs.append("text || ' c' || i::VARCHAR AS text")
            else:
                exprs.append(c)
        con.execute(
            f"COPY (SELECT {', '.join(exprs)} FROM {src},"
            f" UNNEST(range(0, {factor})) AS u(i))"
            f" TO '{out_dir}/{table}.parquet' (FORMAT PARQUET)"
        )
    for table in VERBATIM:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{base}/{table}.parquet'))"
            f" TO '{out_dir}/{table}.parquet' (FORMAT PARQUET)"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--out", default="/tmp/sfx10")
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    if args.rebuild or not os.path.exists(
        os.path.join(args.out, "documents.parquet")
    ):
        build(args.out, args.factor)

    from file_d_spark import get_spark
    from file_d_spark.queries import QUERIES, release_caches

    spark = get_spark("replication_stress", cpus=32)
    names = args.queries or DEFAULT_QUERIES
    # JVM warmup on a small query so the first listed query isn't
    # billed the C2/GC ramp
    QUERIES["dedup_exact"](spark, args.out).count()
    release_caches()
    times = {}
    for name in names:
        t0 = time.time()
        n = QUERIES[name](spark, args.out).count()
        times[name] = round(time.time() - t0, 2)
        print(f"# {name}: {times[name]}s rows={n}", file=sys.stderr, flush=True)
        release_caches()
    print(json.dumps({
        "factor": args.factor,
        "base": BASE_SF,
        "total_s": round(sum(times.values()), 2),
        "queries": times,
    }))


if __name__ == "__main__":
    main()
