"""Sink tests: payload encoders (with a filesystem-backed transport —
foreachPartition runs in executor processes), typed-schema coercion
(F10 fixture style), and file sink round-trip."""

import glob
import json
import os

import pytest
from pyspark.sql import types as T


def _collector(tmpdir):
    """Transport stub: each payload appended as one file (executors
    share the local filesystem)."""
    os.makedirs(tmpdir, exist_ok=True)

    def send(payload: str):
        import tempfile

        fd, path = tempfile.mkstemp(dir=tmpdir, suffix=".payload")
        with os.fdopen(fd, "w") as fh:
            fh.write(payload)

    return send


def _payloads(tmpdir):
    return [open(p).read() for p in sorted(glob.glob(f"{tmpdir}/*.payload"))]


def test_es_bulk_sink(spark, tmp_path):
    from file_d_spark.sinks import sink_elasticsearch

    df = spark.createDataFrame([("a", 1), ("b", 2)], "msg string, n long").coalesce(1)
    out = str(tmp_path / "es")
    sink_elasticsearch(df, {"index_format": "logs-x", "transport": _collector(out)})
    payloads = _payloads(out)
    assert payloads
    lines = [l for p in payloads for l in p.strip().split("\n")]
    actions = [json.loads(l) for l in lines[0::2]]
    docs = sorted(json.loads(l)["msg"] for l in lines[1::2])
    assert all(a == {"index": {"_index": "logs-x"}} for a in actions)
    assert docs == ["a", "b"]


def test_es_bulk_sink_create_op_type(spark, tmp_path):
    """batch_op_type: create switches the bulk action verb
    (elasticsearch.go:163,241); anything else is rejected."""
    import pytest

    from file_d_spark.sinks import sink_elasticsearch

    df = spark.createDataFrame([("a", 1)], "msg string, n long").coalesce(1)
    out = str(tmp_path / "es_create")
    sink_elasticsearch(
        df,
        {
            "index_format": "logs-x",
            "batch_op_type": "create",
            "transport": _collector(out),
        },
    )
    lines = [l for p in _payloads(out) for l in p.strip().split("\n")]
    assert json.loads(lines[0]) == {"create": {"_index": "logs-x"}}
    with pytest.raises(ValueError, match="batch_op_type"):
        sink_elasticsearch(df, {"batch_op_type": "upsert", "transport": _collector(out)})


def test_gelf_sink(spark, tmp_path):
    from file_d_spark.sinks import sink_gelf

    df = spark.createDataFrame(
        [("host1", "boom", "extra")], "host string, message string, svc string"
    ).coalesce(1)
    out = str(tmp_path / "gelf")
    sink_gelf(df, {"transport": _collector(out)})
    (payload,) = _payloads(out)
    assert payload.endswith("\x00")
    g = json.loads(payload.rstrip("\x00"))
    assert g["version"] == "1.1"
    assert g["host"] == "host1"
    assert g["short_message"] == "boom"
    assert g["_svc"] == "extra"


def test_gelf_full_field_mapping(spark, tmp_path):
    """gelf.go:345-509: defaults for missing/blank short_message,
    full_message rename, numeric de-milli'd timestamp, RFC-5424 level
    parse (string name / number / unknown->informational), extra-name
    sanitization, non-scalar extras JSON-encoded."""
    from file_d_spark.sinks import sink_gelf

    rows = [
        #  message  detail        time(ms)        level     odd@key  tags
        ("  ",      "full text",  1723719609120,  "error",  "x",     ["a", "b"]),
        (None,      None,         None,           "5",      "y",     None),
        ("ok",      "d",          1609459200,     "weird",  "z",     ["c"]),
    ]
    schema = ("message string, detail string, time long, level string,"
              " `odd key` string, tags array<string>")
    df = spark.createDataFrame(rows, schema).coalesce(1)
    out = str(tmp_path / "gelf_full")
    sink_gelf(
        df,
        {
            "full_message_field": "detail",
            "default_short_message_value": "not set",
            "transport": _collector(out),
        },
    )
    frames = [
        json.loads(x)
        for p in _payloads(out)
        for x in p.split("\x00")
        if x
    ]
    by_key = {g["_odd-key"]: g for g in frames}
    a, b, c = by_key["x"], by_key["y"], by_key["z"]
    # blank short_message falls back; full_message renamed from detail
    assert a["short_message"] == "not set"
    assert a["full_message"] == "full text"
    assert a["host"] == "unknown"
    # millis -> epoch seconds; string level name -> RFC-5424 number
    assert a["timestamp"] == 1723719609.120
    assert a["level"] == 3
    assert a["_tags"] == '["a", "b"]'
    # absent fields: short_message defaulted, no timestamp emitted,
    # numeric-string level parsed
    assert b["short_message"] == "not set"
    assert "timestamp" not in b
    assert b["level"] == 5
    # seconds stay seconds; unknown level name -> informational (6)
    assert c["timestamp"] == 1609459200.0
    assert c["level"] == 6


def test_gelf_past_timestamp_clamp(spark, tmp_path):
    """gelf.go:413-415 (ADVICE r8): a zero/ancient timestamp — earlier
    than epoch 1e9 — is replaced with send time instead of being
    emitted as-is."""
    import time as _time

    from file_d_spark.sinks import sink_gelf

    rows = [("zero", 0), ("ancient", 123456), ("modern", 1609459200)]
    df = spark.createDataFrame(rows, "message string, time long").coalesce(1)
    out = str(tmp_path / "gelf_clamp")
    before = _time.time()
    sink_gelf(df, {"transport": _collector(out)})
    after = _time.time()
    frames = [
        json.loads(x) for p in _payloads(out) for x in p.split("\x00") if x
    ]
    by_msg = {g["short_message"]: g for g in frames}
    for m in ("zero", "ancient"):
        assert before <= by_msg[m]["timestamp"] <= after + 1
    assert by_msg["modern"]["timestamp"] == 1609459200.0


def test_splunk_sink(spark, tmp_path):
    from file_d_spark.sinks import sink_splunk

    df = spark.createDataFrame([("x", "h1")], "msg string, host string").coalesce(1)
    out = str(tmp_path / "splunk")
    sink_splunk(df, {"copy_fields": ["host"], "transport": _collector(out)})
    (payload,) = _payloads(out)
    env = json.loads(payload)
    assert env["event"]["msg"] == "x"
    assert env["host"] == "h1"  # bare-string copy_fields shorthand


def test_splunk_copy_fields_from_to(spark, tmp_path):
    """splunk.go:25-45,236-251: {from,to} selector copies land next to
    the event key (nested to-paths create objects); root/event targets
    are config errors; missing sources populate nothing."""
    import pytest

    from file_d_spark.sinks import sink_splunk

    df = spark.createDataFrame(
        [("x", "svc1", "2024-01-01")], "msg string, service string, ts string"
    ).coalesce(1)
    out = str(tmp_path / "splunk_ft")
    sink_splunk(
        df,
        {
            "copy_fields": [
                {"from": "ts", "to": "time"},
                {"from": "service", "to": "fields.service_name"},
                {"from": "absent", "to": "fields.never"},
            ],
            "transport": _collector(out),
        },
    )
    (payload,) = _payloads(out)
    env = json.loads(payload)
    assert env["time"] == "2024-01-01"
    assert env["fields"] == {"service_name": "svc1"}
    assert env["event"]["msg"] == "x"
    for bad in ("", "event", "event.sub"):
        with pytest.raises(ValueError, match="not allowed"):
            sink_splunk(
                df,
                {"copy_fields": [{"from": "ts", "to": bad}],
                 "transport": _collector(out)},
            )


def test_coerce_to_schema_strict_vs_not(spark):
    from file_d_spark.sinks import coerce_to_schema

    df = spark.createDataFrame(
        [("12", "2024-01-01T00:00:00Z", "true", "not-a-number")],
        "c_i64 string, c_dt string, c_bool string, c_bad string",
    )
    schema = T.StructType.fromDDL(
        "c_i64 bigint, c_dt timestamp, c_bool boolean, c_bad double, c_missing string"
    )
    row = coerce_to_schema(df, schema, strict=False).collect()[0]
    assert row.c_i64 == 12
    assert row.c_bool is True
    assert row.c_bad is None  # non-strict: unparsable -> NULL
    assert row.c_missing is None
    assert row.c_dt.year == 2024

    import pyspark.errors

    with pytest.raises(Exception):
        # strict mode surfaces the bad cast (ANSI)
        coerce_to_schema(df, schema, strict=True).collect()


def test_strict_fields_alias_enables_strict(spark):
    """postgres.go:130-137: `strict` is deprecated in favor of
    `strict_fields`, and the reference ORs both — a config using the
    current spelling must get strict coercion too."""
    from file_d_spark.sinks import build_sink

    df = spark.createDataFrame([("oops",)], "v string")

    class P:
        output = {"type": "devnull", "schema": "v bigint",
                  "strict_fields": True}

    with pytest.raises(Exception):
        build_sink(df, P())


def test_file_sink_partitioned(spark, tmp_path):
    from file_d_spark import Pipeline

    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3)], "k string, v long"
    )
    out = str(tmp_path / "out")
    p = Pipeline.from_dict(
        {"output": {"type": "file", "format": "json", "path": out, "partition_by": ["k"]}}
    )
    p.write(df)
    assert os.path.isdir(os.path.join(out, "k=a"))
    rows = []
    for path in glob.glob(f"{out}/k=*/part-*"):
        with open(path) as fh:
            rows += [json.loads(l) for l in fh if l.strip()]
    assert sorted(r["v"] for r in rows) == [1, 2, 3]


def test_parse_duration_s():
    from file_d_spark.xtime import parse_duration_s

    assert parse_duration_s("30s") == 30.0
    assert parse_duration_s("1h30m") == 5400.0
    assert parse_duration_s("300ms") == 0.3
    assert parse_duration_s("7d") == 7 * 86400.0
    assert parse_duration_s(45) == 45.0
    assert parse_duration_s("2.5") == 2.5
    import pytest as _pytest

    for typo in ("soon", "junk-", "5 min"):
        with _pytest.raises(ValueError):
            parse_duration_s(typo)


def test_sink_file_retention_prunes_old_partitions(spark, tmp_path):
    """retention_interval ages out time-partition directories
    (file.go:63-112 retention analogue)."""
    import datetime as dt
    import os

    from file_d_spark.sinks import sink_file

    old_day = (dt.datetime.now(dt.timezone.utc) - dt.timedelta(days=10)).strftime(
        "%Y-%m-%d"
    )
    new_day = dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%d")
    df = spark.createDataFrame(
        [(1, old_day), (2, new_day)], "id long, day string"
    )
    out = str(tmp_path / "out")
    sink_file(
        df,
        {
            "path": out,
            "format": "json",
            "partition_by": ["day"],
            "retention_interval": "7d",
        },
    )
    dirs = {e for e in os.listdir(out) if e.startswith("day=")}
    assert dirs == {f"day={new_day}"}


def test_es_index_routing_placeholders(spark, tmp_path):
    """index_format '%' placeholders consume index_values: event fields
    route per event, '@time' is wall time in time_format, empty fields
    become 'not_set' (elasticsearch.go:487-514)."""
    import datetime as dt

    from file_d_spark.sinks import build_index_name, sink_elasticsearch

    df = spark.createDataFrame(
        [("svc-a", 1), ("", 2)], "service string, n long"
    ).coalesce(1)
    out = str(tmp_path / "esr")
    sink_elasticsearch(
        df,
        {
            "index_format": "my-index-%-%",
            "index_values": ["service", "@time"],
            "time_format": "2006-01-02",
            "transport": _collector(out),
        },
    )
    lines = [l for p in _payloads(out) for l in p.strip().split("\n")]
    today = dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%d")
    names = sorted(json.loads(l)["index"]["_index"] for l in lines[0::2])
    assert names == [f"my-index-not_set-{today}", f"my-index-svc-a-{today}"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        build_index_name({}, "a-%-%", ["only_one"], "t")


def _s3_msgs(root, bucket):
    import glob as _glob

    rows = []
    for p in _glob.glob(f"{root}/{bucket}/logs/part-*"):
        rows += [json.loads(l)["msg"] for l in open(p) if l.strip()]
    return sorted(rows)


def test_s3_multi_bucket_routing(spark, tmp_path):
    """Events route to the bucket named by bucket_field_event: a
    configured multi_bucket is static, any OTHER value becomes a
    DYNAMIC bucket created on demand (s3.go:418-452, default limit
    32); a null field lands in the default bucket; intersecting
    bucket names are a config error."""
    from file_d_spark.sinks import sink_s3

    df = spark.createDataFrame(
        [
            ("secret", "m1"),
            ("other", "m2"),      # not configured -> dynamic bucket
            (None, "m3"),          # absent -> default
            ("audit", "m4"),
        ],
        "bucket_name string, msg string",
    ).coalesce(1)
    root = str(tmp_path / "buckets")
    sink_s3(
        df,
        {
            "bucket": "main-logs",
            "bucket_field_event": "bucket_name",
            "multi_buckets": [{"bucket": "secret"}, {"bucket": "audit"}],
            "path_template": "file://" + root + "/{bucket}/{prefix}",
            "format": "json",
        },
    )

    assert _s3_msgs(root, "main-logs") == ["m3"]
    assert _s3_msgs(root, "secret") == ["m1"]
    assert _s3_msgs(root, "audit") == ["m4"]
    assert _s3_msgs(root, "other") == ["m2"]  # dynamically created

    import pytest as _pytest

    with _pytest.raises(ValueError):
        sink_s3(df, {"bucket": "secret", "multi_buckets": ["secret"],
                     "bucket_field_event": "bucket_name"})


def test_s3_dynamic_buckets_limit(spark, tmp_path):
    """dynamic_buckets_limit (s3.go:229,418-452): only `limit` distinct
    dynamic buckets are admitted — the lexicographically smallest here
    (deterministic under any partitioning; the reference admits in
    racy arrival order) — and overflow values fall back to the default
    bucket.  limit=0 disables dynamic creation entirely."""
    from file_d_spark.sinks import sink_s3

    df = spark.createDataFrame(
        [("db", "m1"), ("da", "m2"), ("dc", "m3"), ("dd", "m4"),
         ("static", "m5")],
        "bucket_name string, msg string",
    ).coalesce(1)
    root = str(tmp_path / "lim")
    sink_s3(
        df,
        {
            "bucket": "dflt",
            "bucket_field_event": "bucket_name",
            "multi_buckets": ["static"],
            "dynamic_buckets_limit": 2,
            "path_template": "file://" + root + "/{bucket}/{prefix}",
            "format": "json",
        },
    )
    assert _s3_msgs(root, "da") == ["m2"]
    assert _s3_msgs(root, "db") == ["m1"]
    assert _s3_msgs(root, "dflt") == ["m3", "m4"]  # dc/dd over the limit
    assert _s3_msgs(root, "static") == ["m5"]

    root0 = str(tmp_path / "lim0")
    sink_s3(
        df,
        {
            "bucket": "dflt",
            "bucket_field_event": "bucket_name",
            "dynamic_buckets_limit": 0,
            "path_template": "file://" + root0 + "/{bucket}/{prefix}",
            "format": "json",
        },
    )
    assert _s3_msgs(root0, "dflt") == ["m1", "m2", "m3", "m4", "m5"]


def test_s3_zip_sealing(spark, tmp_path):
    """compression_type: zip (the ONLY value the reference s3 output
    supports, s3.go:186) must seal literal .zip archives — a consumer
    expecting zip containers from the bucket gets exactly that, one
    deflate member of JSON lines per archive (compress.go).  Verified
    by unzipping what was written and diffing the events; multi-bucket
    fan-out preserved."""
    import glob as _glob
    import zipfile

    from file_d_spark.sinks import sink_s3

    df = spark.createDataFrame(
        [
            ("secret", "m1"),
            ("other", "m2"),
            (None, "m3"),
            ("audit", "m4"),
        ],
        "bucket_name string, msg string",
    ).coalesce(1)
    root = str(tmp_path / "zipped")
    sink_s3(
        df,
        {
            "bucket": "main-logs",
            "bucket_field_event": "bucket_name",
            "multi_buckets": [{"bucket": "secret"}, {"bucket": "audit"}],
            "path_template": "file://" + root + "/{bucket}/{prefix}",
            "compression_type": "zip",
            "file_name": "logs",
        },
    )

    def unzipped_msgs(bucket):
        rows = []
        archives = _glob.glob(f"{root}/{bucket}/logs/*.zip")
        for arch in archives:
            with zipfile.ZipFile(arch) as zf:
                names = zf.namelist()
                assert len(names) == 1  # one member per archive (compress.go)
                assert names[0].startswith("logs_") and names[0].endswith(".json")
                with zf.open(names[0]) as member:
                    rows += [
                        json.loads(line)["msg"]
                        for line in member.read().decode().splitlines()
                        if line.strip()
                    ]
        assert not _glob.glob(f"{root}/{bucket}/logs/*.tmp")
        return sorted(rows)

    assert unzipped_msgs("main-logs") == ["m3"]
    assert unzipped_msgs("secret") == ["m1"]
    assert unzipped_msgs("audit") == ["m4"]
    assert unzipped_msgs("other") == ["m2"]  # dynamic bucket, zip-sealed

    # only 'zip' is a legal compression_type (s3.go options:"zip")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compression_type"):
        sink_s3(df, {"bucket": "b", "compression_type": "rar",
                     "path_template": "file://" + root + "/{bucket}/{prefix}"})


def test_loki_timestamp_fallback(spark, tmp_path):
    """Loki values carry event-time nanos: explicit ts_nano wins, then
    the timestamp column, then ingestion time (never zero)."""
    import datetime as dt

    from file_d_spark.sinks import sink_loki

    t = dt.datetime(2024, 3, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    df = spark.createDataFrame(
        [(1, t.replace(tzinfo=None), 77), (2, t.replace(tzinfo=None), None), (3, None, None)],
        "id long, ts timestamp, ts_nano long",
    ).coalesce(1)
    out = str(tmp_path / "loki")
    sink_loki(df, {"transport": _collector(out)})
    payload = json.loads(_payloads(out)[0])
    stamps = {
        json.loads(line)["id"]: int(nanos)
        for nanos, line in payload["streams"][0]["values"]
    }
    assert stamps[1] == 77
    assert stamps[2] == int(t.timestamp() * 1e9)
    assert stamps[3] > 1e18  # ingestion-time fallback, not zero


def test_loki_tenant_header(spark, tmp_path):
    """loki.go:199,456: auth.tenant_id becomes the X-Scope-OrgID
    header — the injected transport receives it as tenant=."""
    import json as _json

    from file_d_spark.sinks import sink_loki

    import os
    import uuid

    df = spark.createDataFrame([("hello", 1)], "message string, n long").coalesce(1)
    out = str(tmp_path / "loki_t")
    os.makedirs(out, exist_ok=True)

    def transport(payload, tenant=None, _out=out):
        # foreachPartition runs in worker processes: record via files
        with open(f"{_out}/{uuid.uuid4().hex}.payload", "w") as fh:
            fh.write(_json.dumps({"tenant": tenant, "payload": payload}))

    sink_loki(
        df,
        {
            "message_field": "message",
            "auth": {"tenant_id": "team-42"},
            "transport": transport,
        },
    )
    (raw,) = _payloads(out)
    rec = _json.loads(raw)
    assert rec["tenant"] == "team-42"
    assert "hello" in rec["payload"]


def _bin_collector(tmpdir):
    """Transport stub for bytes payloads (gzip bodies)."""
    os.makedirs(tmpdir, exist_ok=True)

    def send(payload):
        import tempfile

        fd, path = tempfile.mkstemp(dir=tmpdir, suffix=".payload")
        mode = "wb" if isinstance(payload, bytes) else "w"
        with os.fdopen(fd, mode) as fh:
            fh.write(payload)

    return send


def test_http_sink_json_and_raw_encoding(spark, tmp_path):
    """encoding.go + http_test.go TestAppendEvent: json serializes the
    full event; raw emits ONLY the field's JSON-encoded value (quotes
    included for strings — the reference pins `"[INFO] some event"`)."""
    from file_d_spark.sinks import sink_http

    df = spark.createDataFrame(
        [("[INFO] some event", "AAAA", "BBBB")],
        "message string, field_a string, field_b string",
    ).coalesce(1)

    out = str(tmp_path / "h_json")
    sink_http(df, {"transport": _collector(out)})
    (payload,) = _payloads(out)
    assert json.loads(payload.strip()) == {
        "message": "[INFO] some event",
        "field_a": "AAAA",
        "field_b": "BBBB",
    }

    out = str(tmp_path / "h_raw")
    sink_http(df, {"encoding": {"type": "raw"}, "transport": _collector(out)})
    (payload,) = _payloads(out)
    assert payload == '"[INFO] some event"\n'  # http_test.go literal

    # params.field override + absent field -> empty line (Dig miss)
    out = str(tmp_path / "h_raw_field")
    sink_http(
        df,
        {"encoding": {"type": "raw", "params": {"field": "field_a"}},
         "transport": _collector(out)},
    )
    (payload,) = _payloads(out)
    assert payload == '"AAAA"\n'

    out = str(tmp_path / "h_raw_miss")
    sink_http(
        df,
        {"encoding": {"type": "raw", "params": {"field": "nope"}},
         "transport": _collector(out)},
    )
    (payload,) = _payloads(out)
    assert payload == "\n"

    # present-but-null field is a JSON null node -> literal `null`
    out = str(tmp_path / "h_raw_null")
    df_null = spark.createDataFrame(
        [(None, "x")], "message string, other string"
    ).coalesce(1)
    sink_http(
        df_null,
        {"encoding": {"type": "raw"}, "transport": _collector(out)},
    )
    (payload,) = _payloads(out)
    assert payload == "null\n"


def test_http_sink_rejects_unknown_encoding(spark):
    from file_d_spark.sinks import sink_http

    df = spark.createDataFrame([("x",)], "message string")
    with pytest.raises(ValueError, match="supported: json, raw"):
        sink_http(df, {"encoding": {"type": "xml"}, "transport": lambda p: None})


def test_http_sink_gzip_levels(spark, tmp_path):
    """use_gzip + gzip_compression_level (http.go:79-84): every level
    option produces a decompressible gzip body identical to the plain
    NDJSON payload."""
    import gzip as _gzip

    from file_d_spark.sinks import sink_http

    df = spark.createDataFrame(
        [("[INFO] some event", "AAAA")], "message string, field_a string"
    ).coalesce(1)
    plain_out = str(tmp_path / "plain")
    sink_http(df, {"transport": _collector(plain_out)})
    (plain,) = _payloads(plain_out)

    for level in ("default", "no", "best-speed", "best-compression",
                  "huffman-only"):
        out = str(tmp_path / f"gz_{level}")
        sink_http(
            df,
            {"use_gzip": True, "gzip_compression_level": level,
             "transport": _bin_collector(out)},
        )
        (path,) = sorted(glob.glob(f"{out}/*.payload"))
        body = _gzip.decompress(open(path, "rb").read()).decode()
        assert body == plain, level

    with pytest.raises(ValueError, match="gzip_compression_level"):
        sink_http(
            df,
            {"use_gzip": True, "gzip_compression_level": "turbo",
             "transport": lambda p: None},
        )


def test_http_sink_batch_size_bytes(spark, tmp_path):
    """batch_size_bytes (pipeline/batch.go:91): the batch flushes once
    accumulated doc size reaches the cap — checked after appending, so
    the final doc may overshoot, exactly like the reference; count and
    byte caps compose; both zero is a config error (batch.go:53)."""
    from file_d_spark.sinks import sink_http

    df = spark.createDataFrame(
        [(f"m{i}", "x" * 40) for i in range(6)], "msg string, pad string"
    ).coalesce(1)

    # each doc json-encodes to ~65 bytes; cap 100 -> 2 docs per payload
    out = str(tmp_path / "bytes_cap")
    sink_http(
        df,
        {"batch_size": 0, "batch_size_bytes": 100,
         "transport": _collector(out)},
    )
    payloads = _payloads(out)
    assert len(payloads) == 3
    assert all(len(p.strip().split("\n")) == 2 for p in payloads)

    # count cap still trips first when smaller
    out = str(tmp_path / "count_cap")
    sink_http(
        df,
        {"batch_size": 1, "batch_size_bytes": 10_000,
         "transport": _collector(out)},
    )
    assert len(_payloads(out)) == 6

    with pytest.raises(ValueError, match="at least one"):
        sink_http(df, {"batch_size": 0, "transport": lambda p: None})


def test_http_sink_batch_size_bytes_tracks_raw_encoding(spark, tmp_path):
    """With `encoding: raw` the byte cap must measure the ENCODED line
    (field value + newline), not the full JSON doc — a wide event with
    a short raw field would otherwise flush after every single doc."""
    from file_d_spark.sinks import sink_http

    df = spark.createDataFrame(
        [(f"m{i}", "x" * 40) for i in range(6)], "msg string, pad string"
    ).coalesce(1)

    # raw line per doc: "mN"\n = 5 bytes; cap 12 -> 3 docs per payload
    # (5, 10, 15 >= 12 -> flush).  The full-doc proxy (~66 bytes) would
    # have produced 6 single-doc payloads.
    out = str(tmp_path / "raw_cap")
    sink_http(
        df,
        {
            "batch_size": 0,
            "batch_size_bytes": 12,
            "encoding": {"type": "raw", "params": {"field": "msg"}},
            "transport": _collector(out),
        },
    )
    payloads = _payloads(out)
    assert len(payloads) == 2
    assert all(len(p.strip().split("\n")) == 3 for p in payloads)
    # mkstemp names are random -> compare payload CONTENTS, not order
    assert sorted(payloads) == ['"m0"\n"m1"\n"m2"\n', '"m3"\n"m4"\n"m5"\n']


# ---------------------------------------------------------------------------
# ES insert-failure knobs: process_response / fatal_on_failed_insert
# (elasticsearch.go:168-205,266-291,568-617)
# ---------------------------------------------------------------------------


def test_report_es_errors_parses_bulk_response():
    """reportESErrors parity (elasticsearch.go:568-617): errors:false
    short-circuits; per-item `index.error` nodes count as indexing
    errors; status>=400 without one and item shapes missing `index`
    log as unknown but don't count; str/bytes bodies decode."""
    from file_d_spark.sinks import report_es_errors

    assert report_es_errors(None) == 0
    assert report_es_errors({"errors": False, "items": [{}]}) == 0
    resp = {
        "errors": True,
        "items": [
            {"index": {"status": 201}},
            {"index": {"status": 400,
                       "error": {"type": "mapper_parsing_exception"}}},
            {"index": {"status": 429,
                       "error": {"type": "rejected_execution"}}},
            {"delete": {"status": 200}},  # no `index` dig -> unknown
            {"index": {"status": 503}},   # >=400, no error node
        ],
    }
    assert report_es_errors(resp) == 2
    assert report_es_errors(json.dumps(resp)) == 2
    assert report_es_errors(json.dumps(resp).encode()) == 2
    assert report_es_errors("{not json") == 0
    assert report_es_errors({"errors": True, "items": []}) == 0


def test_es_sink_processes_bulk_response(spark, tmp_path):
    """A transport that RETURNS a _bulk response body must not break
    the sink (process_response default true parses it); with
    process_response: false the body is ignored untouched."""
    from file_d_spark.sinks import sink_elasticsearch

    df = spark.createDataFrame([("a",), ("b",)], "msg string").coalesce(1)
    body = json.dumps(
        {"errors": True,
         "items": [{"index": {"status": 400, "error": {"type": "x"}}}]}
    )
    for flag in (True, False):
        out = str(tmp_path / f"resp_{flag}")
        os.makedirs(out, exist_ok=True)

        def replying(payload, _out=out):
            import tempfile

            fd, path = tempfile.mkstemp(dir=_out, suffix=".payload")
            with os.fdopen(fd, "w") as fh:
                fh.write(payload)
            return body

        sink_elasticsearch(
            df,
            {"index_format": "idx", "transport": replying,
             "process_response": flag},
        )
        assert glob.glob(f"{out}/*.payload"), flag


def _failing_transport(marker_dir):
    os.makedirs(marker_dir, exist_ok=True)

    def send(payload):
        import tempfile

        tempfile.mkstemp(dir=marker_dir, suffix=".try")
        raise RuntimeError("connection refused")

    return send


def test_es_sink_fatal_on_failed_insert(spark, tmp_path):
    """fatal_on_failed_insert: true (elasticsearch.go:174,276) — after
    retry+1 attempts the job fails loudly (the reference exits
    non-zero)."""
    import pytest as _pytest

    from file_d_spark.sinks import sink_elasticsearch

    marker = str(tmp_path / "attempts")
    df = spark.createDataFrame([("a",)], "msg string").coalesce(1)
    with _pytest.raises(Exception) as ei:
        sink_elasticsearch(
            df,
            {"index_format": "idx",
             "transport": _failing_transport(marker),
             "retry": 2, "retention": 0,
             "fatal_on_failed_insert": True},
        )
    assert "EsFatalError" in repr(ei.value) or "EsFatalError" in str(ei.value)
    assert len(glob.glob(f"{marker}/*.try")) == 3  # retry+1 attempts


def test_es_sink_retention_accepts_duration_string(spark, tmp_path):
    """The reference config shape is a duration string
    (elasticsearch.go `Retention cfg.Duration default:"1s"`): a
    reference-style {retention: '100ms'} must parse and back off, not
    raise ValueError (r12 ADVICE fix)."""
    import time as _time

    from file_d_spark.sinks import sink_elasticsearch

    marker = str(tmp_path / "attempts")
    df = spark.createDataFrame([("a",)], "msg string").coalesce(1)
    t0 = _time.time()
    sink_elasticsearch(
        df,
        {"index_format": "idx", "transport": _failing_transport(marker),
         "retry": 1, "retention": "100ms"},
    )
    assert len(glob.glob(f"{marker}/*.try")) == 2  # parsed, retried
    assert _time.time() - t0 >= 0.1  # the 100ms backoff actually slept


def test_es_sink_nonfatal_skips_batch(spark, tmp_path):
    """Default fatal_on_failed_insert: false — the failed batch is
    logged and SKIPPED after retries; the job completes (the reference
    Fails the events and carries on)."""
    from file_d_spark.sinks import sink_elasticsearch

    marker = str(tmp_path / "attempts")
    df = spark.createDataFrame([("a",)], "msg string").coalesce(1)
    sink_elasticsearch(
        df,
        {"index_format": "idx", "transport": _failing_transport(marker),
         "retry": 1, "retention": 0},
    )
    assert len(glob.glob(f"{marker}/*.try")) == 2  # retry+1, no raise


def test_es_sink_deadqueue_disables_fatal_and_owns_retries(spark, tmp_path):
    """A configured deadqueue disables fatal exits AND in-sink retries
    (build_sink's wrapper owns the loop): the failing ES insert routes
    the ORIGINAL events to the nested output, fatal flag or not."""
    from file_d_spark.sinks import build_sink

    class _Plan:
        def __init__(self, output):
            self.output = output

    marker = str(tmp_path / "attempts")
    dq_out = str(tmp_path / "dq")
    df = spark.createDataFrame([("a",), ("b",)], "msg string").coalesce(1)
    build_sink(
        df,
        _Plan({
            "type": "elasticsearch",
            "index_format": "idx",
            "transport": _failing_transport(marker),
            "retry": 1, "retention": 0,
            "fatal_on_failed_insert": True,
            "deadqueue": {"type": "file", "target_file": f"{dq_out}/dq.log"},
        }),
    )
    # wrapper attempts = retry+1 = 2, ONE in-sink attempt each (no
    # retry multiplication: 2 markers, not 4)
    assert len(glob.glob(f"{marker}/*.try")) == 2
    dq_lines = []
    for f in glob.glob(f"{dq_out}/**", recursive=True):
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", ".")):
            dq_lines += [l for l in open(f).read().splitlines() if l.strip()]
    assert len(dq_lines) == 2, "both events must land in the deadqueue"


def test_es_sink_413_without_split_batch(spark, tmp_path):
    """Non-split 413 handling (elasticsearch.go:400-409): PayloadTooLarge
    is NON-retryable — strict: true raises, default logs + skips the
    batch WITHOUT retrying (one attempt only) and the job completes."""
    import pytest as _pytest

    from file_d_spark.sinks import PayloadTooLarge, sink_elasticsearch

    marker = str(tmp_path / "attempts")
    os.makedirs(marker, exist_ok=True)

    def too_large(payload, _m=marker):
        import tempfile

        tempfile.mkstemp(dir=_m, suffix=".try")
        raise PayloadTooLarge(len(payload))

    df = spark.createDataFrame([("a",)], "msg string").coalesce(1)
    sink_elasticsearch(
        df,
        {"index_format": "idx", "transport": too_large,
         "retry": 3, "retention": 0},
    )
    assert len(glob.glob(f"{marker}/*.try")) == 1, "413 must not retry"

    with _pytest.raises(Exception) as ei:
        sink_elasticsearch(
            df,
            {"index_format": "idx", "transport": too_large,
             "retry": 3, "retention": 0, "strict": True},
        )
    assert "PayloadTooLarge" in repr(ei.value) or "PayloadTooLarge" in str(
        ei.value
    )


def test_es_sink_rejects_negative_retry(spark, tmp_path):
    """retry < 0 would mean ZERO send attempts — every batch silently
    dropped; rejected at config time instead."""
    import pytest as _pytest

    from file_d_spark.sinks import sink_elasticsearch

    df = spark.createDataFrame([("a",)], "msg string").coalesce(1)
    with _pytest.raises(Exception, match="retry"):
        sink_elasticsearch(
            df,
            {"index_format": "idx", "retry": -1,
             "transport": lambda p: None},
        )
