"""Skew stress harness — hot keys, not more bytes.

The x10 replication stress (tools/replication_stress.py) scales VOLUME;
this probe scales CONCENTRATION: it rewrites sf0.1 into a same-sized
corpus whose keys are adversarially hot, then times group-keyed
queries against both directories.  Because row counts are identical,
wall-clock ratio ≈ 1 means the operator's skew shape holds (work
redistributes); a ratio approaching the core count means a hot key
serialized into one task.

Rewrites (row counts unchanged):
  * documents.lang   -> 'en' for ~95% of docs (hot aggregation group)
  * documents.text   -> one shared text for 100 docs (hot content: a
    100-clique for pair ops, ~100x posting lists for gram ops —
    multiplicity chosen so pair output stays linear-ish; exact-dedup
    FIRST is the documented pipeline order for higher multiplicity)
  * events.user_id   -> 0 for ~90% of events (hot window/session key)

Usage:
    python tools/skew_stress.py [--out /tmp/sfskew] [--rebuild]
        [query ...]

Prints one JSON line with per-query base/skew seconds and the ratio.
Compare WARM runs only (the harness warms each query once per dir).
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

#: group-keyed shapes whose skew guards this probe exercises
DEFAULT_QUERIES = [
    "token_stats_suite",         # salted-agg leg + plain-groupBy leg
    "quality_adaptive_filter",   # histogram-window quantiles
    "quantile_normalize",        # histogram-window percentile
    "topk_per_group",            # rank window per group
    "sessionize",                # per-user ordering (inherently keyed)
    "cardinality_limit",         # per-user distinct cap
    "rolling_zscore",            # (user, type) keyed window
    "dedup_exact",               # digest groupBy under duplication
    "line_dedup",                # hot line keys
    "dup_span_fraction",         # hot grams -> skew-guard window
    "dedup_ngram_jaccard",       # hot shingles -> prefix filter
    "funnel_steps",              # keyed min-joins on the hot user
    # r10 registrations (ratios recorded in SCALE.md at registration)
    "throttle_modes",            # both admission modes, keyed windows
    "bigram_logprob",            # zipfian bigram histogram
    "bpe_fertility",             # hot-word histogram + lang groupBy
    "pmi_phrases",               # identical-text clique bigram counts
    "sketch_hll_distinct",       # register shuffles under hot groups
    "sketch_overlap",            # bottom-k heaps under duplication
]


def build(out_dir: str, base: str = BASE_SF) -> None:
    """Single-file parquet per table via DuckDB COPY (the
    replication_stress.py convention — load_table expects files,
    not Spark part-directories)."""
    import duckdb

    from file_d_spark.tables import TABLE_NAMES

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        src = f"read_parquet('{base}/{t}.parquet')"
        if t == "documents":
            sel = (
                "SELECT * REPLACE ("
                "  CASE WHEN doc_id % 100 < 95 THEN 'en' ELSE lang END"
                "    AS lang,"
                "  CASE WHEN doc_id < 100 THEN"
                f"    (SELECT text FROM {src} ORDER BY doc_id LIMIT 1)"
                "  ELSE text END AS text)"
                f" FROM {src}"
            )
        elif t == "events":
            sel = (
                "SELECT * REPLACE ("
                "  CASE WHEN event_id % 100 < 90 THEN 0"
                "  ELSE user_id END AS user_id)"
                f" FROM {src}"
            )
        else:
            sel = f"SELECT * FROM {src}"
        con.execute(
            f"COPY ({sel}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/sfskew")
    ap.add_argument(
        "--base", default=BASE_SF,
        help="corpus to skew and compare against (e.g. /tmp/sfx10 to"
        " stack concentration on top of the x10 volume stress)",
    )
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("queries", nargs="*", default=None)
    args = ap.parse_args()
    base_sf = args.base

    if args.rebuild or not os.path.exists(
        os.path.join(args.out, "documents.parquet")
    ):
        build(args.out, base=base_sf)

    from file_d_spark.queries import QUERIES, release_caches
    from file_d_spark.session import get_spark

    names = args.queries or DEFAULT_QUERIES
    spark = get_spark("skew-stress", cpus=int(os.environ.get(
        "SPARK_GRAFT_CPUS", "32")))

    def run(name: str, sf_dir: str) -> float:
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.time() - t0
        release_caches()
        return dt

    out = {}
    for name in names:
        run(name, base_sf)  # warm (JVM + file listing)
        base = min(run(name, base_sf) for _ in range(2))
        run(name, args.out)
        skew = min(run(name, args.out) for _ in range(2))
        out[name] = {
            "base_s": round(base, 3),
            "skew_s": round(skew, 3),
            "ratio": round(skew / base, 2) if base else None,
        }
        print(f"# {name}: base {base:.2f}s skew {skew:.2f}s "
              f"ratio {skew / base:.2f}", file=sys.stderr)
    print(json.dumps({"metric": "skew_stress", "queries": out}))


if __name__ == "__main__":
    main()
