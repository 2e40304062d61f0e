"""throttle limit_distribution: per-value ratio shares of the limit
(F5 fixture family)."""

import re

from file_d_spark import Pipeline


def test_throttle_limit_distribution(spark):
    rows = []
    for i in range(30):
        sev = "error" if i % 3 == 0 else ("warn" if i % 3 == 1 else "info")
        rows.append(("svc", f"2024-01-01T00:00:{i:02d}Z", sev, i))
    df = spark.createDataFrame(rows, "k string, time string, severity string, n long")
    p = Pipeline.from_dict(
        {
            "actions": [
                {
                    "type": "throttle",
                    "throttle_field": "k",
                    "time_field": "time",
                    "time_field_format": "rfc3339",
                    "bucket_interval": "1m",
                    "buckets_count": 100000,
                    "default_limit": 10,
                    "order_fields": ["n"],
                    "limit_distribution": {
                        "field": "severity",
                        "enabled": True,
                        "ratios": [
                            {"ratio": 0.5, "values": ["error"]},
                            {"ratio": 0.3, "values": ["warn"]},
                        ],
                    },
                }
            ]
        }
    )
    out = p.apply(df)
    counts = {r.severity: r.c for r in out.groupBy("severity").count().withColumnRenamed("count", "c").collect()}
    # limit 10, reserves: error 50% -> 5, warn 30% -> 3, default 20% -> 2.
    # Exact reference replay (in_memory_limiter.go getDistrData) over the
    # interleaved e,w,i sequence: info's 3rd event STEALS error's free
    # slot (default over reserve, error most free), then error's own
    # 5th event fills its last — error 4, warn 3, info 3.
    assert counts == {"error": 4, "warn": 3, "info": 3}
    assert sum(counts.values()) == 10  # the full limit is used


def test_throttle_distribution_steal_golden(spark):
    """throttle_test.go:848-944 TestThrottleWithDistribution, event for
    event: limit 12, error 0.5 -> 6, warn/info 0.3 -> 4, default -> 2;
    two default-group events steal free slots from 'warn,info' and
    'error'; expected survivors {error:5, info:2, warn:1, debug:3, "":1}."""
    levels = [
        "error", "info", "error", "", "debug", "error", "error", "debug",
        "warn", "error", "info", "debug", "info", "warn", "", "error", "debug",
    ]
    rows = [("pod_1", f"2024-01-01T00:00:00.{i:03d}Z", lvl, i) for i, lvl in enumerate(levels)]
    df = spark.createDataFrame(rows, "k8s_pod string, time string, level string, n long")
    p = Pipeline.from_dict(
        {
            "actions": [
                {
                    "type": "throttle",
                    "throttle_field": "k8s_pod",
                    "time_field": "time",
                    "time_field_format": "rfc3339nano",
                    "bucket_interval": "1s",
                    "buckets_count": 1,
                    "default_limit": 12,
                    "order_fields": ["n"],
                    "limit_distribution": {
                        "field": "level",
                        "enabled": True,
                        "ratios": [
                            {"ratio": 0.5, "values": ["error"]},
                            {"ratio": 0.3, "values": ["warn", "info"]},
                        ],
                    },
                }
            ]
        }
    )
    out = p.apply(df)
    counts = {}
    for r in out.collect():
        counts[r.level] = counts.get(r.level, 0) + 1
    assert counts == {"error": 5, "info": 2, "warn": 1, "debug": 3, "": 1}


def test_throttle_negative_limit_unlimited(spark):
    """throttle_test.go:153-181 TestThrottleNoLimit: rules with negative
    limits and a negative default admit every event."""
    from tests.test_actions import run_actions

    rows = [(i, f"pod{i % 3}", f"ns_{i % 2 + 1}", "2024-01-01T00:00:%02dZ" % (i % 60)) for i in range(200)]
    out = run_actions(
        spark,
        rows,
        "event_id long, k8s_pod string, k8s_ns string, time string",
        [
            {
                "type": "throttle",
                "throttle_field": "k8s_pod",
                "bucket_interval": "100ms",
                "buckets_count": 2,
                "default_limit": -20,
                "rules": [
                    {"limit": -2, "conditions": {"k8s_ns": "ns_1"}},
                    {"limit": -3, "conditions": {"k8s_ns": "ns_2"}},
                ],
            }
        ],
    )
    assert out.count() == 200


def test_distribution_config_validation(spark):
    """distribution_test.go Test_parseLimitDistribution error rows:
    out-of-range ratio, empty values, duplicated value, ratio sum > 1."""
    import pytest

    from tests.test_actions import run_actions

    rows = [("k", "2024-01-01T00:00:00Z", "error", 0)]
    schema = "k string, time string, severity string, n long"

    def run_dist(ratios):
        return run_actions(
            spark,
            rows,
            schema,
            [
                {
                    "type": "throttle",
                    "throttle_field": "k",
                    "time_field": "time",
                    "bucket_interval": "1m",
                    "buckets_count": 10,
                    "default_limit": 10,
                    "limit_distribution": {"field": "severity", "ratios": ratios},
                }
            ],
        ).count()

    with pytest.raises(Exception, match="range"):
        run_dist([{"ratio": 1.5, "values": ["error"]}])
    with pytest.raises(Exception, match="empty 'values'"):
        run_dist([{"ratio": 0.5, "values": []}])
    with pytest.raises(Exception, match="duplicated"):
        run_dist([
            {"ratio": 0.5, "values": ["error"]},
            {"ratio": 0.3, "values": ["error"]},
        ])
    with pytest.raises(Exception, match="sum of ratios"):
        run_dist([
            {"ratio": 0.8, "values": ["error"]},
            {"ratio": 0.7, "values": ["warn"]},
        ])
    # valid config still runs
    assert run_dist([{"ratio": 0.5, "values": ["error"]}]) == 1


def _oracle_survivors(rows: list[dict], cfg: dict, gate) -> list[int]:
    """Plain-Python sequential admission (in_memory_limiter.go
    isAllowed + getDistrData) over collected rows: the reference the
    JVM fold is checked against.  Covers the shapes these corpora use:
    a 1m bucket with no ring clamp, rfc3339 times that sort as text,
    ``n`` as the arrival order, rules with equality conditions, count
    or size kind (sized by the rule's ``limit_size_field``, else the
    top-level one, else 1), and distributions over one field; ``gate(row)``
    stands for the do_if (gated rows bypass uncounted)."""
    assert cfg["bucket_interval"] == "1m" and cfg["buckets_count"] >= 100000
    default = {**cfg, "conditions": {}, "limit": cfg["default_limit"]}
    specs = []
    for rc in cfg.get("rules", []) + [default]:
        dist = rc.get("limit_distribution") or {}
        limit = rc.get("limit", cfg["default_limit"])
        dlims = None
        if dist.get("ratios"):
            ratios = [float(r["ratio"]) for r in dist["ratios"]]
            dlims = [round(round(1 - sum(ratios), 2) * limit)]
            dlims += [round(r * limit) for r in ratios]
        specs.append((rc, limit, dist, dlims))

    buckets: dict = {}
    kept = []
    for row in sorted(rows, key=lambda r: (r["time"], r["n"])):
        if not gate(row):
            kept.append(row["n"])  # gate bypass: never counted
            continue
        ri = next(
            i for i, (rc, *_) in enumerate(specs)
            if all(str(row[f]) == str(v) for f, v in rc["conditions"].items())
        )
        rc, limit, dist, dlims = specs[ri]
        if limit < 0:
            kept.append(row["n"])  # negative limit = unlimited
            continue
        cnt = 1  # size kind counts the rule's limit_size_field, else the top-level one
        size_field = rc.get("limit_size_field") or cfg.get("limit_size_field")
        if rc.get("limit_kind", "count") == "size" and size_field:
            cnt = len(row[size_field].encode())
        group = buckets.setdefault((row["k"], row["time"][:16], ri), {})
        if dlims is None:
            group[0] = group.get(0, 0) + cnt
            if group[0] <= limit:
                kept.append(row["n"])
            continue
        idx = next(
            (j + 1 for j, r in enumerate(dist["ratios"])
             if str(row[dist["field"]]) in [str(v) for v in r["values"]]),
            0,
        )
        lim = dlims[idx]
        if idx == 0 and group.get(0, 0) + cnt > lim:
            # steal reserve from the most-free distribution
            maxdiff = -1
            for i in range(1, len(dlims)):
                diff = dlims[i] - (group.get(i, 0) + cnt)
                if diff > maxdiff:
                    maxdiff, idx, lim = diff, i, dlims[i]
        group[idx] = group.get(idx, 0) + cnt
        if group[idx] <= lim:
            kept.append(row["n"])
    return sorted(kept)


def _assert_fold_matches_oracle(spark, rows, schema, cfg, gate=lambda r: True):
    """The fold's survivors equal the oracle's on the orderable schema,
    then on the same rows with a map and a variant column added — the
    payloads Catalyst can't order, which the fold sorts by comparator.
    Returns the survivor count."""
    from pyspark.sql import functions as F

    from file_d_spark import Pipeline

    names = [f.split()[0] for f in schema.split(",")]
    want = _oracle_survivors([dict(zip(names, r)) for r in rows], cfg, gate)
    df = spark.createDataFrame(rows, schema)
    p = Pipeline.from_dict({"actions": [cfg]})
    for frame in (
        df,
        df.withColumn("m", F.create_map(F.col("k"), F.col("n"))),
        df.withColumn("var", F.parse_json(F.to_json(F.struct("k", "n")))),
    ):
        out = p.apply(frame)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan
        assert sorted(r.n for r in out.collect()) == want, frame.columns
    return len(want)


def test_throttle_dist_fold_matches_oracle(spark):
    """The JVM aggregate()-fold replay equals the plain-Python oracle
    over a seeded adversarial corpus: multiple keys/buckets, a dist
    rule + a no-dist rule + a dist default, size kind on one rule,
    steal pressure, and a do_if gate (gated rows bypass uncounted)."""
    import random

    rng = random.Random(13)
    sevs = ["error", "warn", "info", "debug", ""]
    rows = []
    for i in range(400):
        rows.append(
            (
                f"k{rng.randrange(3)}",
                f"2024-01-01T00:{rng.randrange(3):02d}:{rng.randrange(60):02d}Z",
                rng.choice(sevs),
                f"ns_{rng.randrange(3)}",
                "x" * rng.randrange(1, 30),
                i,
            )
        )
    schema = (
        "k string, time string, severity string, ns string,"
        " body string, n long"
    )
    cfg = {
        "type": "throttle",
        "throttle_field": "k",
        "time_field": "time",
        "time_field_format": "rfc3339",
        "bucket_interval": "1m",
        "buckets_count": 100000,
        "default_limit": 8,
        "order_fields": ["n"],
        "do_if": {
            "op": "not",
            "operands": [
                {"op": "equal", "field": "ns", "values": ["ns_2"]}
            ],
        },
        "rules": [
            {
                "limit": 6,
                "conditions": {"ns": "ns_0"},
                "limit_distribution": {
                    "field": "severity",
                    "enabled": True,
                    "ratios": [
                        {"ratio": 0.5, "values": ["error"]},
                        {"ratio": 0.3, "values": ["warn", "info"]},
                    ],
                },
            },
            {"limit": 120, "limit_kind": "size",
             "limit_size_field": "body", "conditions": {"ns": "ns_1"}},
        ],
        "limit_distribution": {
            "field": "severity",
            "enabled": True,
            "ratios": [{"ratio": 0.4, "values": ["error", "warn"]}],
        },
    }
    n = _assert_fold_matches_oracle(
        spark, rows, schema, cfg, gate=lambda r: r["ns"] != "ns_2"
    )
    assert 0 < n < 400  # the throttle actually bit


def test_throttle_dist_fold_matches_oracle_more_shapes(spark):
    """Two more adversarial shapes for the fold vs the oracle: (a)
    ratios summing to exactly 1.0 — a ZERO default reserve, so every
    default-group event steals from its first arrival, plus a
    negative-limit rule riding alongside; (b) size kind with
    zero-length fields — zero-cost events admit without consuming
    budget (the documented quadratic-caveat shape) interleaved with
    oversized events."""
    import random

    schema = (
        "k string, time string, severity string, ns string,"
        " body string, n long"
    )

    def corpus(seed, bodies):
        rng = random.Random(seed)
        sevs = ["error", "warn", "info", "debug", ""]
        return [
            (
                f"k{rng.randrange(2)}",
                f"2024-01-01T00:0{rng.randrange(2)}:{rng.randrange(60):02d}Z",
                rng.choice(sevs),
                f"ns_{rng.randrange(2)}",
                rng.choice(bodies),
                i,
            )
            for i in range(300)
        ]

    zero_reserve = {
        "type": "throttle",
        "throttle_field": "k",
        "time_field": "time",
        "time_field_format": "rfc3339",
        "bucket_interval": "1m",
        "buckets_count": 100000,
        "default_limit": 10,
        "order_fields": ["n"],
        "rules": [
            {"limit": -5, "conditions": {"ns": "ns_1"}},
        ],
        "limit_distribution": {
            "field": "severity",
            "enabled": True,
            "ratios": [
                {"ratio": 0.5, "values": ["error"]},
                {"ratio": 0.3, "values": ["warn"]},
                {"ratio": 0.2, "values": ["info"]},
            ],
        },
    }
    zero_size = {
        "type": "throttle",
        "throttle_field": "k",
        "time_field": "time",
        "time_field_format": "rfc3339",
        "bucket_interval": "1m",
        "buckets_count": 100000,
        "default_limit": 40,
        "limit_kind": "size",
        "limit_size_field": "body",
        "order_fields": ["n"],
        "limit_distribution": {
            "field": "severity",
            "enabled": True,
            "ratios": [{"ratio": 0.5, "values": ["error", "warn"]}],
        },
    }
    for name, cfg, bodies in (
        ("zero_reserve", zero_reserve, ["x"]),
        ("zero_size", zero_size, ["", "x" * 5, "x" * 60]),
    ):
        n = _assert_fold_matches_oracle(spark, corpus(7, bodies), schema, cfg)
        assert 0 < n < 300, name  # admission actually bit


def test_throttle_dist_jvm_plan_has_no_python(spark):
    """The distribution fold must keep Python out of the
    plan (VERDICT r12 #4: the applyInPandas path previously needed a
    plan-guard allowance; the fold rewrite removes the need)."""
    from file_d_spark import Pipeline

    rows = [("k", f"2024-01-01T00:00:{i:02d}Z", ["error", "info"][i % 2], i)
            for i in range(20)]
    df = spark.createDataFrame(
        rows, "k string, time string, severity string, n long"
    )
    p = Pipeline.from_dict(
        {
            "actions": [
                {
                    "type": "throttle",
                    "throttle_field": "k",
                    "time_field": "time",
                    "time_field_format": "rfc3339",
                    "bucket_interval": "1m",
                    "buckets_count": 10,
                    "default_limit": 4,
                    "order_fields": ["n"],
                    "limit_distribution": {
                        "field": "severity",
                        "enabled": True,
                        "ratios": [{"ratio": 0.5, "values": ["error"]}],
                    },
                }
            ]
        }
    )
    plan = p.apply(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_throttle_dist_variant_schema_runs_the_fold(spark):
    """VariantType (like MapType) has no ordering, so a plain
    array_sort can't plan over it — the fold sorts such payloads with a
    comparator over the order keys, keeping Python out of the plan."""
    from pyspark.sql import functions as F

    from file_d_spark import Pipeline

    rows = [("k", f"2024-01-01T00:00:{i:02d}Z",
             ["error", "info"][i % 2], i, '{"a": 1}')
            for i in range(20)]
    df = spark.createDataFrame(
        rows, "k string, time string, severity string, n long, j string"
    ).withColumn("var", F.parse_json("j"))
    p = Pipeline.from_dict(
        {
            "actions": [
                {
                    "type": "throttle",
                    "throttle_field": "k",
                    "time_field": "time",
                    "time_field_format": "rfc3339",
                    "bucket_interval": "1m",
                    "buckets_count": 10,
                    "default_limit": 4,
                    "order_fields": ["n"],
                    "limit_distribution": {
                        "field": "severity",
                        "enabled": True,
                        "ratios": [{"ratio": 0.5, "values": ["error"]}],
                    },
                }
            ]
        }
    )
    out = p.apply(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not re.search(
        r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas", plan
    )
    assert out.count() == 4  # the limiter still bites


def test_type_unorderable_is_a_whitelist():
    """The gate must fail CLOSED — any type Catalyst can't order
    (calendar intervals, future types) takes the comparator sort, not
    just the maps/variants a blacklist happened to name."""
    from pyspark.sql import types as T

    from file_d_spark.actions.throttle import _type_unorderable

    assert _type_unorderable(T.CalendarIntervalType())
    assert _type_unorderable(T.MapType(T.StringType(), T.LongType()))
    assert _type_unorderable(
        T.StructType([T.StructField("v", T.VariantType())])
    )
    assert not _type_unorderable(
        T.StructType(
            [
                T.StructField("s", T.StringType()),
                T.StructField("a", T.ArrayType(T.DecimalType(10, 2))),
                T.StructField("t", T.TimestampType()),
            ]
        )
    )


def test_throttle_compound_bucket_interval(spark):
    """``bucket_interval`` is a Go duration: ``1m30s`` is one 90 s
    bucket (4 events over a limit of 2), not the 60 s default (two
    buckets of 2)."""
    rows = [("svc", f"2024-01-01T00:{s // 60:02d}:{s % 60:02d}Z", s) for s in (0, 30, 60, 89)]
    df = spark.createDataFrame(rows, "k string, time string, n long")

    def kept(interval):
        p = Pipeline.from_dict({"actions": [{
            "type": "throttle", "throttle_field": "k", "time_field": "time",
            "time_field_format": "rfc3339", "bucket_interval": interval,
            "buckets_count": 100000, "default_limit": 2, "order_fields": ["n"],
        }]})
        return sorted(r.n for r in p.apply(df).collect())

    assert kept("1m30s") == kept("90s") == [0, 30]
    assert kept("1m") == [0, 30, 60, 89]
