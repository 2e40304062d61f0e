"""Run every __spark_entry__ query and its DuckDB oracle side by side,
mirroring the driver's correctness gate: row count + sorted-column
value comparison.  Usage: python tools/check_oracles.py [sf_dir] [names...]"""

from __future__ import annotations

import math
import os
import sys
import time

# the repo root replaces this script's directory, where tools/profile.py
# would shadow the standard library's profile module
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.reindex(sorted(df.columns), axis=1)
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]").astype(str)
    if len(out):
        out = out.astype(str) if False else out
        out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if sorted(got.columns) != sorted(want.columns):
        return f"columns: {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows: {len(got)} vs {len(want)}"
    # Dtype drift is a driver hash mismatch even when values are equal:
    # e.g. DuckDB sum(INTEGER) -> HUGEINT -> pandas float64 ("56.0")
    # against Spark bigint ("56").  The float-tolerant compare below
    # would mask it (it did, for sessionize, three rounds running), so
    # flag int-vs-float drift loudly before comparing values.
    for c in sorted(got.columns):
        a, b = got[c], want[c]
        ai = pd.api.types.is_integer_dtype(a)
        bi = pd.api.types.is_integer_dtype(b)
        af = pd.api.types.is_float_dtype(a)
        bf = pd.api.types.is_float_dtype(b)
        if (ai and bf) or (af and bi):
            return (
                f"col {c} dtype drift: spark {a.dtype} vs oracle {b.dtype}"
                " (driver hash would mismatch; CAST the oracle column)"
            )
    g, w = normalize(got), normalize(want)
    for c in g.columns:
        a, b = g[c], w[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            for i, (x, y) in enumerate(zip(a, b)):
                if pd.isna(x) and pd.isna(y):
                    continue
                if pd.isna(x) or pd.isna(y) or not math.isclose(
                    float(x), float(y), rel_tol=1e-9, abs_tol=1e-9
                ):
                    return f"col {c} row {i}: {x!r} vs {y!r}"
        else:
            xa = a.astype(str).where(~a.isna(), "<null>")
            xb = b.astype(str).where(~b.isna(), "<null>")
            bad = xa != xb
            if bad.any():
                i = list(g.index[bad])[:3]
                return f"col {c} rows {i}: {list(xa[bad][:3])} vs {list(xb[bad][:3])}"
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from file_d_spark.queries import release_caches
    from file_d_spark.session import get_spark

    spark = get_spark("check_oracles", cpus=16)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
            release_caches()  # free query-internal persists per run
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(got)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            risky = [
                f"{c}:{t}"
                for c, t in zip(rel.columns, map(str, rel.types))
                if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL")
            ]
            want = rel.df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {str(e)[:200]}")
            continue
        if risky:
            failures.append(name)
            print(
                f"FAIL  {name}: oracle emits {risky} — pandas coerces these"
                " to float64/object and the driver hash diverges; CAST to"
                " BIGINT/DOUBLE in the oracle SQL"
            )
            continue
        diff = compare(got, want)
        if diff:
            failures.append(name)
            print(f"FAIL  {name}: {diff} [{time.time()-t0:.1f}s]")
        else:
            print(f"OK    {name}: {len(got)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
