"""Action-plugin unit tests: golden input→output pairs in the style of
the reference's colocated plugin tests (SURVEY.md §5)."""

import json

import pytest
from pyspark.sql import functions as F

from file_d_spark import Pipeline


def run_actions(spark, rows, schema, actions):
    df = spark.createDataFrame(rows, schema)
    return Pipeline.from_dict({"actions": actions}).apply(df)


def test_discard_match_fields(spark):
    out = run_actions(
        spark,
        [("x", "a"), ("y", "b")],
        "f1 string, f2 string",
        [{"type": "discard", "match_fields": {"f1": "x"}}],
    )
    assert [r.f1 for r in out.collect()] == ["y"]


def test_keep_fields_nested(spark):
    out = run_actions(
        spark,
        [(1, ("a", "b"), "drop")],
        "id int, s struct<x string, y string>, junk string",
        [{"type": "keep_fields", "fields": ["id", "s.x"]}],
    )
    row = out.collect()[0]
    assert out.columns == ["id", "s"]
    assert row.s.asDict() == {"x": "a"}


def test_remove_fields(spark):
    out = run_actions(
        spark,
        [(1, ("a", "b"))],
        "id int, s struct<x string, y string>",
        [{"type": "remove_fields", "fields": ["s.y", "missing"]}],
    )
    assert out.collect()[0].s.asDict() == {"x": "a"}


def test_rename_nested_to_root_and_escape(spark):
    """rename moves the node to ROOT (rename.go Do: AddFieldNoAlloc on
    event.Root); leading-_ escape: '_HOSTNAME' key addresses field
    'HOSTNAME', '__HOSTNAME' addresses '_HOSTNAME'."""
    out = run_actions(
        spark,
        [((("v",),), "h1", "h2")],
        "a struct<b struct<sub string>>, HOSTNAME string, _HOSTNAME string",
        [{"type": "rename", "a.b.sub": "renamed", "_HOSTNAME": "plain", "__HOSTNAME": "underscored"}],
    )
    row = out.collect()[0]
    assert row.renamed == "v"          # nested source lands at root
    # emptied ancestors collapse (Spark can't hold an empty struct)
    assert "a" not in out.columns
    assert row.plain == "h1"           # _HOSTNAME key -> HOSTNAME field
    assert row.underscored == "h2"     # __HOSTNAME -> _HOSTNAME field


def test_rename_no_override(spark):
    out = run_actions(
        spark,
        [("old", "existing")],
        "a string, b string",
        [{"type": "rename", "override": False, "a": "b"}],
    )
    row = out.collect()[0]
    assert row.a == "old" and row.b == "existing"


def test_move_block_mode(spark):
    out = run_actions(
        spark,
        [(1, "x", "y")],
        "id int, a string, b string",
        [{"type": "move", "target": "other", "mode": "block", "fields": ["id"]}],
    )
    row = out.collect()[0]
    assert row.id == 1
    assert row.other.asDict() == {"a": "x", "b": "y"}


def test_flatten_prefix(spark):
    out = run_actions(
        spark,
        [((1, 2),)],
        "m struct<a int, b int>",
        [{"type": "flatten", "field": "m", "prefix": "m_"}],
    )
    row = out.collect()[0]
    assert row.m_a == 1 and row.m_b == 2
    assert "m" not in out.columns


def test_modify_filters(spark):
    out = run_actions(
        spark,
        [("error in test-pod-abc today",)],
        "message string",
        [
            {
                "type": "modify",
                "pod": '${message|re("(test-pod-\\w+)",-1,[1],",")}',
                "left": '${message|trim_to("left","in")}',
                "cut": '${message|cut("last",5)}',
            }
        ],
    )
    row = out.collect()[0]
    assert row.pod == "test-pod-abc"
    assert row.left == "in test-pod-abc today"
    assert row.cut == "today"


def test_json_encode_decode_roundtrip(spark):
    out = run_actions(
        spark,
        [('{"a": "x", "b": "2"}',)],
        "payload string",
        [
            {
                "type": "json_decode",
                "field": "payload",
                "schema": "a string, b string",
                "prefix": "p_",
            }
        ],
    )
    row = out.collect()[0]
    assert row.p_a == "x" and row.p_b == "2"
    assert "payload" not in out.columns


def test_json_encode_struct_and_string(spark):
    out = run_actions(
        spark,
        [(("x", 1), "say \"hi\"")],
        "s struct<a string, n int>, msg string",
        [{"type": "json_encode", "field": "s"}],
    )
    assert json.loads(out.collect()[0].s) == {"a": "x", "n": 1}
    out2 = run_actions(
        spark,
        [("say \"hi\"",)],
        "msg string",
        [{"type": "json_encode", "field": "msg"}],
    )
    assert json.loads(out2.collect()[0].msg) == 'say "hi"'


def test_parse_re2(spark):
    out = run_actions(
        spark,
        [("user=alice id=42",), ("garbage",)],
        "line string",
        [{"type": "parse_re2", "field": "line", "re": "user=(?P<user>\\w+) id=(?P<id>\\d+)"}],
    )
    rows = {r.user: r for r in out.collect()}
    assert rows["alice"].id == "42"
    # the source field is removed on match (parse_re2.go:79), kept
    # on non-matching rows
    assert rows["alice"].line is None
    assert rows[None].line == "garbage"


def test_convert_log_level_styles(spark):
    out = run_actions(
        spark,
        [("ERROR",), ("warn",), ("3",), ("weird",)],
        "level string",
        [{"type": "convert_log_level", "field": "level", "style": "string"}],
    )
    got = [r.level for r in out.collect()]
    assert got == ["error", "warning", "error", "weird"]


def test_convert_utf8_bytes(spark):
    out = run_actions(
        spark,
        [(r"caf\xc3\xa9 A \101",)],
        "s string",
        [{"type": "convert_utf8_bytes", "fields": ["s"]}],
    )
    assert out.collect()[0].s == "café A A"


def test_set_time_and_add_host(spark):
    out = run_actions(
        spark,
        [("x",)],
        "a string",
        [
            {"type": "set_time", "field": "t", "format": "unixtime"},
            {"type": "add_host", "field": "host"},
        ],
    )
    row = out.collect()[0]
    assert int(row.t) > 1_500_000_000
    assert row.host


def test_split_passthrough_and_explode(spark):
    # array of structs explodes, parent discarded (reference split.go doc)
    df = spark.createDataFrame(
        [([("go",), ("rust",)], "t1")],
        "data array<struct<message string>>, tag string",
    )
    out = Pipeline.from_dict({"actions": [{"type": "split", "field": "data"}]}).apply(df)
    got = [(r.message, r.tag) for r in out.collect()]
    assert got == [("go", "t1"), ("rust", "t1")]
    # non-array field passes unchanged
    df2 = spark.createDataFrame([("not-array", "t")], "data string, tag string")
    out2 = Pipeline.from_dict({"actions": [{"type": "split", "field": "data"}]}).apply(df2)
    assert out2.collect()[0].data == "not-array"


def test_mask_group_replacement(spark):
    out = run_actions(
        spark,
        [("card 1234 5678 9012 3456 used",), ("no digits here",)],
        "msg string",
        [
            {
                "type": "mask",
                "masks": [{"re": r"(\d{4}) (\d{4}) (\d{4}) (\d{4})", "groups": [1, 2, 3]}],
                "process_fields": ["msg"],
                "applied_field": "masked",
            }
        ],
    )
    rows = out.orderBy("msg").collect()
    # masked groups become '*' runs of the original width;
    # inter-group literals and unmasked group 4 survive
    assert rows[0].msg == "card **** **** **** 3456 used"
    assert rows[0].masked == "true"
    assert rows[1].msg == "no digits here"
    assert rows[1].masked is None


def test_decoder_golden_pairs(spark):
    """Golden decode pairs per decoder doc examples (re-derived from
    /root/reference/decoder/*.go doc comments)."""
    from file_d_spark.decoders import DECODERS

    def decode_one(df, fm):
        # decoders.py __pre__ contract: project the staged one-pass
        # intermediates before evaluating the field columns
        for layer in fm.pop("__pre__", None) or []:
            df = df.withColumns(layer)
        return df.select(*[c.alias(n) for n, c in fm.items()]).collect()[0]

    df = spark.createDataFrame(
        [("2016-10-06T00:17:09.669794202Z stdout F log content",)], "line string"
    )
    fm = DECODERS["cri"](F.col("line"), {})
    row = decode_one(df, fm)
    assert row.time == "2016-10-06T00:17:09.669794202Z"
    assert row.stream == "stdout"
    assert row.log == "log content"
    assert row.is_partial is False

    df = spark.createDataFrame(
        [(
            '2021-06-22 16:24:27 GMT [7291] => [3-1] client=test_client,db=test_db,'
            'user=test_user LOG:  listening on socket',
        )],
        "line string",
    )
    fm = DECODERS["postgres"](F.col("line"), {})
    row = decode_one(df, fm)
    assert row.time == "2021-06-22 16:24:27 GMT"
    assert row.pid == "7291"
    assert row.db == "test_db"
    # severity word + 2 bytes stripped (postgres.go:163-168)
    assert row.log == "listening on socket"

    df = spark.createDataFrame(
        [("2022/08/17 10:49:27 [error] 2725122#2725123: *798 connect() failed",)],
        "line string",
    )
    fm = DECODERS["nginx_error"](F.col("line"), {})
    row = decode_one(df, fm)
    assert row.time == "2022/08/17 10:49:27"
    assert row.level == "error"
    assert row.pid == "2725122"
    assert row.tid == "2725123"
    assert row.cid == "798"
    assert row.message == "connect() failed"

    df = spark.createDataFrame(
        [("<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog 111 ID47 "
          '[exampleSDID@32473 iut="3" eventSource="Application"] BOMAn application event',)],
        "line string",
    )
    fm = DECODERS["syslog_rfc5424"](F.col("line"), {"syslog_severity_format": "string"})
    row = decode_one(df, fm)
    assert row.priority == "165"
    assert row.facility == "20"
    assert row.severity == "NOTICE"
    assert row.hostname == "mymachine.example.com"
    assert row.app_name == "evntslog"
    assert row.message_id == "ID47"
    assert row.structured_data["exampleSDID@32473"]["iut"] == "3"
    assert row.message == "BOMAn application event"

    df = spark.createDataFrame(
        [("<34>Oct 11 22:14:15 mymachine su: 'su root' failed for lonvick",)],
        "line string",
    )
    fm = DECODERS["syslog_rfc3164"](F.col("line"), {})
    row = decode_one(df, fm)
    assert row.priority == "34"
    assert row.severity == "2"
    assert row.hostname == "mymachine"
    assert row.app_name == "su"
    assert row.message == "'su root' failed for lonvick"

    df = spark.createDataFrame([("a,\"b,c\",d",)], "line string")
    fm = DECODERS["csv"](F.col("line"), {"csv_columns": ["x", "y", "z"]})
    row = decode_one(df, fm)
    assert (row.x, row.y, row.z) == ("a", "b,c", "d")


def test_throttle_size_kind(spark):
    rows = [(f"k", f"2024-01-01T00:00:{i:02d}Z", "x" * 10) for i in range(10)]
    out = run_actions(
        spark,
        rows,
        "key string, time string, payload string",
        [
            {
                "type": "throttle",
                "throttle_field": "key",
                "time_field": "time",
                "time_field_format": "rfc3339",
                "bucket_interval": "1m",
                "buckets_count": 100000,
                "default_limit": 35,
                "limit_kind": "size",
                "limit_size_field": "payload",
            }
        ],
    )
    # 10-byte payloads, 35-byte budget -> 3 admitted per bucket
    assert out.count() == 3


def test_throttle_size_kind_null_field_counts_zero(spark):
    # a NULL or absent size field weighs 0 bytes: every event fits
    rows = [("k", f"2024-01-01T00:00:{i:02d}Z", None) for i in range(4)]
    for size_field in ("payload", "absent"):
        out = run_actions(
            spark,
            rows,
            "key string, time string, payload string",
            [{
                "type": "throttle", "throttle_field": "key",
                "default_limit": 10, "limit_kind": "size",
                "limit_size_field": size_field,
            }],
        )
        assert out.count() == 4, size_field


def test_throttle_gated_bypass(spark):
    # rows failing the do_if gate bypass the throttle: kept, not counted
    rows = [("k", f"2024-01-01T00:00:{i:02d}Z", "keep" if i % 2 else "skip")
            for i in range(10)]
    out = run_actions(
        spark,
        rows,
        "key string, time string, kind string",
        [
            {
                "type": "throttle",
                "do_if": {"op": "equal", "field": "kind", "values": ["keep"]},
                "throttle_field": "key",
                "time_field": "time",
                "time_field_format": "rfc3339",
                "bucket_interval": "1m",
                "buckets_count": 100000,
                "default_limit": 2,
            }
        ],
    )
    got = out.collect()
    # 5 'skip' rows bypass untouched + first 2 of the 5 'keep' rows
    assert len(got) == 7
    kinds = sorted(r.kind for r in got)
    assert kinds.count("skip") == 5 and kinds.count("keep") == 2


def test_cardinality_sequential_exact(spark):
    """cardinality.go Do replay: with limit 3 and values a,b,c,a,d in
    order, the 4th event (cached value 'a') is still discarded — the
    check precedes the cache probe — as is the new value 'd'."""
    rows = [(i, "k", v) for i, v in enumerate(["a", "b", "c", "a", "d"])]
    out = run_actions(
        spark,
        rows,
        "seq long, key string, val string",
        [
            {
                "type": "cardinality",
                "key": "key",
                "fields": ["val"],
                "limit": 3,
                "action": "discard",
                "order_fields": ["seq"],
            }
        ],
    )
    assert sorted(r.seq for r in out.collect()) == [0, 1, 2]


def test_cardinality_multi_key_fields(spark):
    """KeyFields is a list (cardinality.go:132, slice:true); missing
    key fields read as empty string."""
    rows = [(i, "h1", f"v{i}") for i in range(4)] + [(10 + i, "h2", "v0") for i in range(2)]
    out = run_actions(
        spark,
        rows,
        "seq long, host string, val string",
        [
            {
                "type": "cardinality",
                "key": ["host", "not_exists_field"],
                "fields": ["val"],
                "limit": 3,
                "action": "discard",
                "order_fields": ["seq"],
            }
        ],
    )
    got = sorted(r.seq for r in out.collect())
    # h1 admits its first 3 distinct values; h2 is a separate key
    assert got == [0, 1, 2, 10, 11]


def test_cardinality_default_action_nothing(spark):
    out = run_actions(
        spark,
        [(i, "k", f"v{i}") for i in range(5)],
        "seq long, key string, val string",
        [{"type": "cardinality", "key": "key", "fields": ["val"], "limit": 2}],
    )
    assert out.count() == 5  # default action is "nothing" (reference)


def test_cardinality_gated_bypass(spark):
    rows = [("k", f"v{i}", "count") for i in range(6)] + [
        ("k", f"w{i}", "bypass") for i in range(6)
    ]
    out = run_actions(
        spark,
        rows,
        "key string, val string, kind string",
        [
            {
                "type": "cardinality",
                "do_if": {"op": "equal", "field": "kind", "values": ["count"]},
                "key": "key",
                "fields": ["val"],
                "limit": 3,
                "action": "discard",
            }
        ],
    )
    got = out.collect()
    # matching rows push key 'k' over the limit and are dropped;
    # bypass rows survive even though they share the key
    assert len(got) == 6
    assert all(r.kind == "bypass" for r in got)


def test_antispam_gated_bypass(spark):
    rows = [("spammy", f"2024-01-01T00:00:{i:02d}Z", "count") for i in range(5)] + [
        ("spammy", f"2024-01-01T00:00:{i:02d}Z", "bypass") for i in range(5)
    ]
    out = run_actions(
        spark,
        rows,
        "source_name string, ts string, kind string",
        [
            {
                "type": "antispam",
                "do_if": {"op": "equal", "field": "kind", "values": ["count"]},
                "threshold": 3,
                "maintenance_interval": "1m",
            }
        ],
    )
    got = out.collect()
    # banned source drops only the gated rows; bypass rows all pass
    assert len(got) == 5
    assert all(r.kind == "bypass" for r in got)


def test_max_event_size_cutoff_bytes(spark):
    # 3-byte UTF-8 chars: 10 chars = 30 bytes; cutoff at 7 bytes keeps
    # 2 whole chars (6 bytes) + a replacement char from the split seq
    from file_d_spark.config import PipelinePlan
    from file_d_spark.engine import apply_input_guards

    df = spark.createDataFrame([("€" * 10,), ("ascii",)], "raw string")
    plan = PipelinePlan.from_dict(
        "p",
        {
            "settings": {
                "max_event_size": 7,
                "cut_off_event_by_limit": True,
                "cut_off_event_by_limit_field": "was_cut",
            },
            "actions": [],
        },
    )
    out = apply_input_guards(df, plan, "raw").collect()
    by_first = {r.raw[:1] if r.raw else "": r for r in out}
    euro = by_first["€"]
    assert euro.was_cut is True
    assert len(euro.raw.encode("utf-8", "replace")) <= 9  # 2 chars + U+FFFD
    assert euro.raw[:2] == "€€"
    assert by_first["a"].raw == "ascii" and by_first["a"].was_cut is False


def test_substitution_re_multigroup(spark):
    # re() filter with multiple capture groups: interleave per occurrence
    out = run_actions(
        spark,
        [("a=1 b=2 c=3",)],
        "line string",
        [
            {
                "type": "modify",
                "pairs": r'${line|re("(\w)=(\d)", -1, [1,2], "-")}',
            }
        ],
    )
    row = out.collect()[0]
    assert row.pairs == "a-1-b-2-c-3"


def test_substitution_re_three_groups_limit(spark):
    out = run_actions(
        spark,
        [("x12y x34z",), ("nomatch",)],
        "line string",
        [
            {
                "type": "modify",
                "trip": r'${line|re("(\w)(\d)(\d)", 3, [1,2,3], "/")}',
            }
        ],
    )
    rows = {r.line: r.trip for r in out.collect()}
    assert rows["x12y x34z"] == "x/1/2/x/3/4"
    # no match + default emptyOnNotMatched=false -> original value
    assert rows["nomatch"] == "nomatch"


def test_throttle_rules_override(spark):
    # rule 0: kind=error capped at 1; rule 1: kind=warn capped at 3;
    # default limit 2 for everything else; separate limiter per rule
    rows = []
    for i in range(5):
        rows.append(("k", f"2024-01-01T00:00:{i:02d}Z", "error", i))
        rows.append(("k", f"2024-01-01T00:00:{i:02d}Z", "warn", 10 + i))
        rows.append(("k", f"2024-01-01T00:00:{i:02d}Z", "info", 20 + i))
    out = run_actions(
        spark,
        rows,
        "key string, time string, kind string, seq int",
        [
            {
                "type": "throttle",
                "throttle_field": "key",
                "time_field": "time",
                "time_field_format": "rfc3339",
                "bucket_interval": "1m",
                "buckets_count": 100000,
                "default_limit": 2,
                "order_fields": ["seq"],
                "rules": [
                    {"limit": 1, "conditions": {"kind": "error"}},
                    {"limit": 3, "conditions": {"kind": "warn"}},
                ],
            }
        ],
    )
    got = sorted((r.kind, r.seq) for r in out.collect())
    assert got == [
        ("error", 0),
        ("info", 20), ("info", 21),
        ("warn", 10), ("warn", 11), ("warn", 12),
    ]


def test_throttle_rules_size_kind(spark):
    # rule with limit_kind=size budgets bytes; default stays count
    rows = [("k", f"2024-01-01T00:00:{i:02d}Z", "big", "x" * 10, i) for i in range(5)]
    rows += [("k", f"2024-01-01T00:00:{i:02d}Z", "other", "y", 10 + i) for i in range(5)]
    out = run_actions(
        spark,
        rows,
        "key string, time string, kind string, payload string, seq int",
        [
            {
                "type": "throttle",
                "throttle_field": "key",
                "time_field": "time",
                "time_field_format": "rfc3339",
                "bucket_interval": "1m",
                "buckets_count": 100000,
                "default_limit": 3,
                "limit_size_field": "payload",
                "order_fields": ["seq"],
                "rules": [
                    {"limit": 25, "limit_kind": "size", "conditions": {"kind": "big"}},
                ],
            }
        ],
    )
    got = sorted((r.kind, r.seq) for r in out.collect())
    # big: 10-byte payloads, 25-byte budget -> 2 admitted
    # other: default count limit 3
    assert got == [
        ("big", 0), ("big", 1),
        ("other", 10), ("other", 11), ("other", 12),
    ]



MASK_CARD_RE = r"\b(\d{1,4})\D?(\d{1,4})\D?(\d{1,4})\D?(\d{1,4})\b"


def test_mask_reference_golden_cases(spark):
    """Golden pairs lifted from the reference's own unit tests
    (/root/reference/plugin/action/mask/mask_test.go:33-140)."""
    cases = [
        # (input, masks, expected)
        ("12.34.5678", [{"re": r"\d", "groups": [0]}], "**.**.****"),
        ("ab.cd.efgh", [{"re": r"\d", "groups": [0]}], "ab.cd.efgh"),
        ("-ab-axxb-", [{"re": "a(x*)b", "groups": [1]}], "-ab-a**b-"),
        ("-ab-axxb-", [{"re": "a(x*)b", "groups": [0]}], "-**-****-"),
        (
            "4445-2222-3333-4444",
            [{"re": MASK_CARD_RE, "groups": [1, 2, 3, 4]}],
            "****-****-****-****",
        ),
        (
            "4445-2222-3333-0263",
            [{"re": MASK_CARD_RE, "groups": [1, 2, 3]}],
            "****-****-****-0263",
        ),
        (
            "issued card number 3528-3889-3793-9946 and card number 4035-3005-3980-4083",
            [{"re": MASK_CARD_RE, "groups": [1, 2, 3, 4]}],
            "issued card number ****-****-****-**** and card number ****-****-****-****",
        ),
        (
            "card number 3528-3889-3793-9946",
            [{"re": MASK_CARD_RE, "groups": [1, 2, 3]}],
            "card number ****-****-****-9946",
        ),
        (
            "card number 3528 3889 3793 9946",
            [{"re": MASK_CARD_RE, "groups": [1, 2, 3]}],
            "card number **** **** **** 9946",
        ),
        (
            "card number 3528388937939946",
            [{"re": r"\b(\d{4})\s?\-?(\d{4})\s?\-?(\d{4})\s?\-?(\d{4})\b", "groups": [1, 2, 3]}],
            "card number ************9946",
        ),
        (
            "user details: 89247123906",
            [{"re": r"\b(\d{11})\b", "groups": [1], "replace_word": "***MASKED***"}],
            "user details: ***MASKED***",
        ),
    ]
    rows = [(i, text) for i, (text, _, _) in enumerate(cases)]
    for i, (text, masks, expected) in enumerate(cases):
        out = run_actions(
            spark,
            [(text,)],
            "msg string",
            [{"type": "mask", "masks": masks, "process_fields": ["msg"]}],
        )
        got = out.collect()[0].msg
        assert got == expected, f"case {i}: {text!r} -> {got!r} != {expected!r}"


import os as _os

import pytest as _pytest

_JT_SAMPLES = "/root/reference/plugin/action/join_template/sample"


@_pytest.mark.skipif(not _os.path.isdir(_JT_SAMPLES), reason="reference corpus absent")
@_pytest.mark.parametrize(
    "template,filename,expected",
    [
        ("go_panic", "go_panic.txt", 18),
        ("cs_exception", "cs_exception.txt", 3),
        ("go_data_race", "go_data_race.txt", 9),
    ],
)
def test_join_template_reference_corpus(spark, template, filename, expected):
    """The reference's own join_template test corpora
    (join_template_test.go:27-54): each sample file holds the raw
    multiline blocks; joining must produce the expected event count."""
    raw = open(_os.path.join(_JT_SAMPLES, filename)).read()
    content = raw.replace("# ===next===\n", "")
    lines = [ln for ln in content.split("\n") if ln != ""]
    rows = [(i, ln) for i, ln in enumerate(lines)]
    out = run_actions(
        spark,
        rows,
        "seq long, log string",
        [
            {
                "type": "join_template",
                "template": template,
                "field": "log",
                "seq_field": "seq",
            }
        ],
    )
    assert out.count() == expected


@_pytest.mark.skipif(not _os.path.isdir(_JT_SAMPLES), reason="reference corpus absent")
def test_join_template_mixed_templates(spark):
    """Reference's mixed case (join_template_test.go:47-52): all three
    corpora concatenated, all three templates OR-combined → 18+3+9 events."""
    content = ""
    for fn in ("go_panic.txt", "cs_exception.txt", "go_data_race.txt"):
        content += open(_os.path.join(_JT_SAMPLES, fn)).read()
    content = content.replace("# ===next===\n", "")
    lines = [ln for ln in content.split("\n") if ln != ""]
    rows = [(i, ln) for i, ln in enumerate(lines)]
    out = run_actions(
        spark,
        rows,
        "seq long, log string",
        [
            {
                "type": "join_template",
                "templates": ["go_panic", "cs_exception", "go_data_race"],
                "field": "log",
                "seq_field": "seq",
            }
        ],
    )
    assert out.count() == 18 + 3 + 9


def test_all_actions_fail_clean_without_params(spark):
    """Config robustness: every registered action given an EMPTY param
    map either applies cleanly or fails with a Python-level
    ValueError/KeyError naming what is missing — never a deep
    Py4J/AnalysisException at runtime (parse_es used to blow up in
    Catalyst when its default source/seq columns were absent)."""
    from file_d_spark import Pipeline
    from file_d_spark.actions import REGISTRY

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "event_id long, k string, log string"
    )
    for name in sorted(REGISTRY):
        try:
            p = Pipeline.from_dict({"actions": [{"type": name}]})
            p.apply(df).collect()
        except (ValueError, KeyError):
            continue  # clean compile-time refusal
        except Exception as e:  # noqa: BLE001
            raise AssertionError(
                f"action {name} with no params died deep: "
                f"{type(e).__name__}: {str(e)[:120]}"
            ) from e
