"""antispam exception + rules golden scenarios.

Replays the selection semantics of the reference's
TestAntispamExceptions and TestAntispamRules
(/root/reference/pipeline/antispam/antispammer_test.go:79-240) at this
engine's window-count granularity: which events the exceptions /
per-rule thresholds exempt, block, or re-threshold, over the same
rule configurations.
"""

from pyspark.sql import functions as F

from file_d_spark import Pipeline


def _run(spark, rows, schema, action):
    df = spark.createDataFrame(rows, schema)
    return Pipeline.from_dict({"actions": [action]}).apply(df)


# The reference's exception set (antispammer_test.go:90-122):
# event ruleset: level debug|info prefix OR contains test_event;
# source ruleset: source name contains my_source1|my_source2.
EXCEPTIONS = [
    {
        "name": "test_event",
        "cond": "or",
        "rules": [
            {"mode": "prefix",
             "values": ['{"level":"debug"', '{"level":"info"']},
            {"mode": "contains", "values": ["test_event"]},
        ],
    },
    {
        "name": "test_sourcename",
        "check_source_name": True,
        "cond": "and",
        "rules": [
            {"mode": "contains", "values": ["my_source1", "my_source2"]},
        ],
    },
]


def test_antispam_exceptions_reference_matrix(spark):
    # level/message lead the row so the serialized event starts with
    # {"level":..., like the reference's raw event bytes.
    # threshold=1: any source with >1 counted event in the window is
    # banned — exceptions must survive even from banned sources.
    rows = [
        # the five checkSpam probes of TestAntispamExceptions
        ("info", "test", "test", "2024-01-01T00:00:00Z"),          # event exc
        ("error", "test_event123", "test", "2024-01-01T00:00:01Z"),  # event exc
        ("error", "test", "my_source2", "2024-01-01T00:00:02Z"),   # source exc
        ("debug", "test", "my_source1", "2024-01-01T00:00:03Z"),   # event exc
        ("error", "test", "test", "2024-01-01T00:00:04Z"),         # counted
        # second counted event from the same source: window now banned
        ("error", "test2", "test", "2024-01-01T00:00:05Z"),        # counted
    ]
    out = _run(
        spark, rows, "level string, message string, source_name string, ts string",
        {
            "type": "antispam",
            "threshold": 1,
            "maintenance_interval": "1m",
            "exceptions": EXCEPTIONS,
        },
    ).collect()
    kept = {(r.level, r.message) for r in out}
    # all four exception probes kept; both counted events banned (2 > 1)
    assert kept == {
        ("info", "test"),
        ("error", "test_event123"),
        ("error", "test"),
        ("debug", "test"),
    }
    assert len(out) == 4
    # the source-exception row is the my_source2 one
    assert {r.source_name for r in out} == {"test", "my_source2", "my_source1"}


RULES = [
    # TestAntispamRules rule set (antispammer_test.go:171-213)
    {"name": "test_ban_all", "threshold": 0,
     "do_if": {"op": "equal", "field": "source_name",
               "values": ["test_source_name"]}},
    {"name": "test_pass_all", "threshold": -1,
     "do_if": {"op": "equal", "field": "meta.some_field",
               "values": ["test_meta_field"]}},
    {"name": "test_custom_threshold", "threshold": 3,
     "do_if": {"op": "prefix", "field": "event",
               "values": ['{"level":"error"']}},
]


def test_antispam_rules_reference_matrix(spark):
    rows = [
        # blocked unconditionally (rule threshold 0)
        ("info", "blocked", "test_source_name", {}, "2024-01-01T00:00:00Z"),
        # unlimited via meta rule: 4 events, never banned
        *[("info", f"meta{i}", "m", {"some_field": "test_meta_field"},
           f"2024-01-01T00:00:{i:02d}Z") for i in range(4)],
        # custom threshold 3 via event prefix: 3 events -> 3 > 3 is
        # false, kept (default threshold 2 would have banned them)
        *[("error", f"ev{i}", "test_event_bytes", {},
           f"2024-01-01T00:00:{i:02d}Z") for i in range(3)],
        # default threshold 2: 3 events -> banned
        *[("info", f"def{i}", "test", {},
           f"2024-01-01T00:00:{i:02d}Z") for i in range(3)],
    ]
    out = _run(
        spark, rows,
        "level string, message string, source_name string, "
        "meta map<string,string>, ts string",
        {
            "type": "antispam",
            "threshold": 2,
            "maintenance_interval": "1m",
            "rules": RULES,
            # exceptions must be IGNORED when rules are set, like the
            # reference (antispammer.go:99-123 else-branch)
            "exceptions": [{"name": "noop", "cond": "or", "rules": [
                {"mode": "contains", "values": ["def"]}]}],
        },
    ).collect()
    msgs = sorted(r.message for r in out)
    assert msgs == ["ev0", "ev1", "ev2", "meta0", "meta1", "meta2", "meta3"]


def test_antispam_rules_custom_threshold_bans_past_limit(spark):
    rows = [
        ("error", f"ev{i}", "s", f"2024-01-01T00:00:{i:02d}Z") for i in range(4)
    ]
    out = _run(
        spark, rows, "level string, message string, source_name string, ts string",
        {
            "type": "antispam",
            "threshold": 100,
            "maintenance_interval": "1m",
            "rules": [RULES[2]],  # custom threshold 3 on level=error
        },
    ).collect()
    # 4 events > rule threshold 3 -> the window is banned despite the
    # permissive default threshold
    assert out == []


def test_antispam_event_serialization_pruned(spark):
    """The to_json event serialization (the __as_event__ pseudo-field)
    must be pruned by Catalyst when no rule/exception references the
    `event` pseudo-field — at 100 TB serializing every row to JSON just
    to throw it away would dominate the stage."""
    df = spark.createDataFrame(
        [("s1", "2024-01-01T00:00:00Z", "x")],
        "source_name string, ts string, payload string",
    )
    src_only = Pipeline.from_dict({"actions": [{
        "type": "antispam", "threshold": 2, "maintenance_interval": "1m",
        "rules": [{"name": "r", "threshold": -1,
                   "do_if": {"op": "equal", "field": "source_name",
                             "values": ["vip"]}}],
    }]})
    plan = src_only.apply(df)._jdf.queryExecution().optimizedPlan().toString()
    assert "StructsToJson" not in plan

    event_rule = Pipeline.from_dict({"actions": [{
        "type": "antispam", "threshold": 2, "maintenance_interval": "1m",
        "rules": [{"name": "r", "threshold": -1,
                   "do_if": {"op": "prefix", "field": "event",
                             "values": ['{"source_name"']}}],
    }]})
    plan = event_rule.apply(df)._jdf.queryExecution().optimizedPlan().toString()
    assert "StructsToJson" in plan  # needed, therefore present


def test_settings_level_antispam(spark):
    """fd/util.go:96-127 + pipeline.go:452-461: settings.antispam (and
    the legacy antispam_threshold) run engine-level antispam BEFORE the
    action chain, the configured threshold is per-second (scaled by
    the maintenance interval), and source_name_meta_field redirects
    the source identity."""
    import datetime as dt

    from file_d_spark import Pipeline

    t0 = dt.datetime(2024, 1, 1)
    rows = [("spammy" if i < 8 else "quiet", "ten", t0, f"m{i}")
            for i in range(10)]
    df = spark.createDataFrame(
        rows, "_source_name string, tenant string, ts timestamp, msg string"
    )

    # nested form: threshold 1/s x 2s interval = 2 per window; the
    # spammy source (8 events in one window) is banned, quiet survives
    p = Pipeline.from_dict(
        {
            "settings": {
                "antispam": {
                    "threshold": 1,
                    "maintenance_interval": "2s",
                    "time_field": "ts",
                }
            },
            "actions": [],
        }
    )
    out = {r.msg for r in p.apply(df).collect()}
    assert out == {"m8", "m9"}

    # legacy key (no nested map -> fallback active, util.go:113-115) +
    # source_name_meta_field: identity = tenant column, shared by both
    # sources -> everything banned together (threshold 1/s x default
    # 5s interval = 5 < 10 shared events)
    p2 = Pipeline.from_dict(
        {
            "settings": {
                "antispam_threshold": 1,
                "source_name_meta_field": "tenant",
                "antispam_time_field": "ts",
            },
            "actions": [],
        }
    )
    assert p2.apply(df).count() == 0

    # a nested map WITHOUT threshold shadows the legacy key entirely
    p2b = Pipeline.from_dict(
        {
            "settings": {
                "antispam_threshold": 1,
                "antispam": {"maintenance_interval": "2s",
                             "time_field": "ts"},
            },
            "actions": [],
        }
    )
    assert p2b.apply(df).count() == 10

    # disabled default: everything passes
    p3 = Pipeline.from_dict({"settings": {}, "actions": []})
    assert p3.apply(df).count() == 10


def test_antispam_bans_null_time_events(spark):
    """Events whose time parses to NULL (zone-less strings under the
    default rfc3339 format) count in one window of their source, so a
    source over the threshold is banned like any other."""
    df = spark.createDataFrame(
        [("spammy", f"2024-01-01T00:00:0{i}") for i in range(5)]
        + [("quiet", "2024-01-01T00:00:00")],
        "source_name string, ts string",
    )
    p = Pipeline.from_dict(
        {"actions": [{"type": "antispam", "threshold": 3, "maintenance_interval": "1m"}]}
    )
    assert [r.source_name for r in p.apply(df).collect()] == ["quiet"]
