"""Attribute py4j round trips to repo call sites, aggregated over ALL
bench queries (or a named subset) — the global view count_py4j's
per-query totals can't give: a shared helper that costs 60 trips but
is called from 30 queries is a bigger target than a 500-trip site used
once.

For each trip, walks the Python stack to the innermost frame inside
the repo that is not this script's own (so py4j and pyspark frames,
which live outside the repo, are skipped; other tools/ modules and
bench.py count as sites), and counts (file:line). Prints the top sites
with their per-query spread.

Usage: python tools/trace_py4j.py [sf_dir] [names...]
"""

from __future__ import annotations

import json
import os
import sys
import traceback
from collections import Counter, defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SITES: Counter = Counter()
PER_QUERY: dict = defaultdict(Counter)
CURRENT = {"q": None}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = sys.argv[2:]

    import bench
    from file_d_spark.queries import QUERIES, release_caches
    from file_d_spark.session import get_spark
    from file_d_spark.tables import load_table

    spark = get_spark("trace_py4j")
    load_table(spark, sf_dir, "region").count()

    import py4j.clientserver as cs

    orig = cs.ClientServerConnection.send_command

    def attributing(self, *a, **kw):
        # innermost repo frame that is not this function
        site = "<other>"
        for fr in reversed(traceback.extract_stack()):
            fn = fr.filename
            if fn.startswith(REPO) and "trace_py4j" not in fn:
                site = f"{os.path.relpath(fn, REPO)}:{fr.lineno}"
                break
        SITES[site] += 1
        if CURRENT["q"]:
            PER_QUERY[site][CURRENT["q"]] += 1
        return orig(self, *a, **kw)

    names = only if only else list(bench.BENCH_QUERIES)
    # warm every build once so memoized schema loads don't attribute
    for name in names:
        QUERIES[name](spark, sf_dir).schema
        spark.catalog.clearCache()
        release_caches()

    cs.ClientServerConnection.send_command = attributing
    try:
        for name in names:
            CURRENT["q"] = name
            df = QUERIES[name](spark, sf_dir)
            df.schema
            CURRENT["q"] = None
            spark.catalog.clearCache()
            release_caches()
    finally:
        cs.ClientServerConnection.send_command = orig
        CURRENT["q"] = None

    total = sum(SITES.values())
    print(f"TOTAL attributed trips: {total}", file=sys.stderr)
    out = []
    for site, n in SITES.most_common(80):
        qs = PER_QUERY[site].most_common(5)
        out.append({"site": site, "trips": n, "top_queries": qs})
        print(
            f"{n:7d}  {site}   "
            + ", ".join(f"{q}={c}" for q, c in qs),
            file=sys.stderr,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
