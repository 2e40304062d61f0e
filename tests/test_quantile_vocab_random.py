"""Randomized differential for quantile_thresholds: seeded random
corpora evaluated by an INDEPENDENT pure-Python implementation
(collections.Counter + sorted lists — no Spark expressions), compared
against the Spark operator.  The oracle pair already pins Spark ==
DuckDB; this pins both to the intended definition (the ADVICE-r8
lesson: a shared wrong expression passes its own bit-check).

Mutation teeth (verified by hand when authoring; the random seeds
flip them probabilistically, the deterministic boundary fixture flips
them on EVERY run): replacing the ``>=`` admission with ``>`` moves
the threshold off every exact den·cum == num·tot boundary (the
[1,1,2,2] fixture pins the 1/2-quantile to 1, a ``>`` mutant returns
2); reading the PREVIOUS distinct score flips every group.
"""

from __future__ import annotations

import random
from collections import Counter

from file_d_spark.functions import corpus


def _py_quantile(rows, qs):
    by: dict = {}
    for g, s in rows:
        if s is None:
            continue
        by.setdefault(g, []).append(int(s))
    out = {}
    for g, ss in by.items():
        tot = len(ss)
        cnt = Counter(ss)
        for num, den in qs:
            cum, thr = 0, None
            for s in sorted(cnt):
                cum += cnt[s]
                if den * cum >= num * tot:
                    thr = s
                    break
            out[(g, num, den)] = (tot, thr)
    return out


def test_quantile_thresholds_boundary_fixture(spark):
    """den·cum == num·tot exactly: scores [1,1,2,2], 1/2-quantile —
    cum(1)=2, 2·2 == 1·4, so the threshold is 1 (a ``>`` mutant says 2)."""
    df = spark.createDataFrame(
        [("g", 1), ("g", 1), ("g", 2), ("g", 2)], "g string, s long"
    )
    rows = corpus.quantile_thresholds(df, "g", "s", quantiles=[(1, 2)]).collect()
    assert len(rows) == 1 and rows[0].threshold == 1 and rows[0].n_rows == 4
    assert _py_quantile([("g", 1), ("g", 1), ("g", 2), ("g", 2)], [(1, 2)])[
        ("g", 1, 2)
    ] == (4, 1)


def test_quantile_thresholds_random_differential(spark):
    qs = [(1, 4), (1, 2), (3, 4), (9, 10)]
    for seed in (0x11, 0x22, 0x33):
        rng = random.Random(seed)
        # small score alphabet + round group sizes force exact
        # den*cum == num*tot boundary hits (the >= vs > tooth)
        rows = [
            (rng.choice(["en", "de", "fr", "ja"]), rng.randrange(0, 6))
            for _ in range(rng.choice([200, 400]))
        ]
        rows += [("en", None), ("de", None)]
        want = _py_quantile(rows, qs)
        df = spark.createDataFrame(rows, "g string, s long")
        got = {
            (r.g, r.num, r.den): (r.n_rows, r.threshold)
            for r in corpus.quantile_thresholds(df, "g", "s", quantiles=qs)
            .collect()
        }
        assert got == want, f"seed {seed:#x}"
