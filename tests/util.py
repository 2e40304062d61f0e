"""Result-comparison helpers mirroring the driver's oracle check:
sort columns by name, sort rows, compare values (floats approximately)."""

from __future__ import annotations

import math

import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.reindex(sorted(df.columns), axis=1)
    # make timestamps comparable across engines
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]").astype(str)
    if len(out):
        out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(
            drop=True
        )
    return out


def assert_frames_match(spark_df, duck_df: pd.DataFrame, rtol: float = 1e-9):
    got = normalize(spark_df.toPandas())
    want = normalize(duck_df)
    assert list(got.columns) == list(want.columns), (
        f"columns differ: {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"row counts differ: {len(got)} vs {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            for i, (a, b) in enumerate(zip(g, w)):
                if pd.isna(a) and pd.isna(b):
                    continue
                assert not (pd.isna(a) or pd.isna(b)), f"{c}[{i}]: {a} vs {b}"
                assert math.isclose(float(a), float(b), rel_tol=rtol, abs_tol=1e-9), (
                    f"{c}[{i}]: {a} vs {b}"
                )
        else:
            ga, wa = g.astype(str).fillna(""), w.astype(str).fillna("")
            mismatches = (ga != wa)
            assert not mismatches.any(), (
                f"column {c} differs at rows {list(got.index[mismatches])[:5]}: "
                f"{list(ga[mismatches][:3])} vs {list(wa[mismatches][:3])}"
            )


def parse_prometheus_text(text: str) -> dict[tuple[str, tuple], float]:
    """Tiny scrape parser: (metric, ((label, value), ...)) -> sample
    value."""
    import re

    out: dict[tuple[str, tuple], float] = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        m = re.fullmatch(r"([a-zA-Z_:][\w:]*)(?:\{(.*)\})?\s+(\S+)", line)
        if not m:
            continue
        labels = tuple(
            sorted(
                (lm.group(1), lm.group(2))
                for lm in re.finditer(r'(\w+)="((?:[^"\\]|\\.)*)"', m.group(2) or "")
            )
        )
        out[(m.group(1), labels)] = float(m.group(3))
    return out
