"""decode action: mid-pipeline decoders, keep_origin, prefix; the
json_decode map fallback (schemaless)."""

from file_d_spark import Pipeline


def test_decode_cri_keep_origin(spark):
    df = spark.createDataFrame(
        [("2024-01-01T00:00:00.0Z stderr P partial line",)], "line string"
    )
    out = Pipeline.from_dict(
        {
            "actions": [
                {"type": "decode", "decoder": "cri", "field": "line", "keep_origin": True}
            ]
        }
    ).apply(df)
    row = out.collect()[0]
    assert row.line.startswith("2024-")  # origin kept
    assert row.stream == "stderr"
    assert row.is_partial is True
    assert row.log == "partial line"


def test_decode_nginx_prefix(spark):
    df = spark.createDataFrame(
        [("2022/08/17 10:49:27 [error] 1#2: *3 boom",)], "line string"
    )
    out = Pipeline.from_dict(
        {
            "actions": [
                {"type": "decode", "decoder": "nginx_error", "field": "line", "prefix": "ngx_"}
            ]
        }
    ).apply(df)
    row = out.collect()[0]
    assert row.ngx_level == "error"
    assert row.ngx_message == "boom"
    assert "line" not in out.columns  # origin dropped by default


def test_two_regex_decodes_in_one_chain(spark):
    """Stacked regex decoders stage their one-pass helper columns under
    the same names; each stage is dropped before the next decoder runs,
    so a chain decodes each field exactly as decoding it alone does."""
    df = spark.createDataFrame(
        [
            (0, "2024-01-01T00:00:00.0Z stderr P partial line",
             "2022/08/17 10:49:27 [error] 1#2: *3 boom"),
            (1, "2024-01-01T00:00:01.0Z stdout F full line",
             "2022/08/17 10:49:28 [warn] 4#5: no client"),
            (2, "not a cri line", "not an nginx line"),
        ],
        "id int, c string, n string",
    )
    cri = {"type": "decode", "decoder": "cri", "field": "c", "prefix": "c_"}
    ngx = {"type": "decode", "decoder": "nginx_error", "field": "n", "prefix": "n_"}

    def run(*actions):
        out = Pipeline.from_dict({"actions": list(actions)}).apply(df)
        assert not [c for c in out.columns if c.startswith("__fd_rx")]
        return {r.id: r.asDict() for r in out.collect()}

    def fields(rows, prefix):
        return {
            i: {k: v for k, v in r.items() if k.startswith(prefix)}
            for i, r in rows.items()
        }

    both = run(cri, ngx)
    assert fields(both, "c_") == fields(run(cri), "c_")
    assert fields(both, "n_") == fields(run(ngx), "n_")
    assert both[0]["c_log"] == "partial line" and both[0]["n_message"] == "boom"
    assert both[1]["n_level"] == "warn"


def test_json_decode_schemaless_map(spark):
    df = spark.createDataFrame([('{"a":"1","b":"x"}',)], "payload string")
    out = Pipeline.from_dict(
        {"actions": [{"type": "json_decode", "field": "payload"}]}
    ).apply(df)
    row = out.collect()[0]
    # schemaless: parsed map replaces the field (typed engine cannot
    # splat unknown keys)
    assert row.payload == {"a": "1", "b": "x"}


def test_decode_csv_columns(spark):
    df = spark.createDataFrame([("x;y;z",)], "line string")
    out = Pipeline.from_dict(
        {
            "actions": [
                {
                    "type": "decode",
                    "decoder": "csv",
                    "field": "line",
                    "params": {"csv_columns": ["a", "b", "c"], "csv_delimiter": ";"},
                }
            ]
        }
    ).apply(df)
    row = out.collect()[0]
    assert (row.a, row.b, row.c) == ("x", "y", "z")


def test_decode_csv_prefix_and_invalid_modes(spark):
    """csv.go:223-245: prefix mode names every field prefix+index into
    the event map; invalid_line_mode default fails the whole event on
    a field-count mismatch, continue keeps the named prefix, fatal
    aborts."""
    import pytest
    from pyspark.sql import functions as F

    from file_d_spark.decoders import DECODERS

    df = spark.createDataFrame(
        [('1,"two,2",3',), ("a,b",)], "line string"
    )
    # prefix mode: quote-aware split, map keys prefix+i
    fm = DECODERS["csv"](F.col("line"), {"prefix": "csv_"})
    rows = df.select(fm["__map__"].alias("m")).collect()
    assert rows[0].m == {"csv_0": "1", "csv_1": "two,2", "csv_2": "3"}
    assert rows[1].m == {"csv_0": "a", "csv_1": "b"}

    def decode(mode):
        fm = DECODERS["csv"](
            F.col("line"),
            {"csv_columns": ["a", "b", "c"], "invalid_line_mode": mode},
        )
        return df.select(*[v.alias(k) for k, v in fm.items()]).collect()

    # default: mismatched line -> whole event nulls
    d = decode("default")
    assert (d[0].a, d[0].b, d[0].c) == ("1", "two,2", "3")
    assert (d[1].a, d[1].b, d[1].c) == (None, None, None)
    # continue: the named prefix parses (missing stays null)
    c = decode("continue")
    assert (c[1].a, c[1].b, c[1].c) == ("a", "b", None)
    # fatal: the job aborts on the invalid line
    with pytest.raises(Exception, match="InvalidLineMode=fatal"):
        decode("fatal")
    with pytest.raises(ValueError, match="invalid_line_mode"):
        decode("nope")
