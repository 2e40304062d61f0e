r"""Decoders: raw byte lines -> typed fields, as Column expressions.

The reference selects a decoder per pipeline (``settings.decoder``,
/root/reference/pipeline/pipeline.go:345-351,488-505) or applies one
mid-pipeline via the ``decode`` action
(/root/reference/plugin/action/decode/decode.go:653-760).  Formats:

  json            decoder/json.go:56        from_json (declared schema) or map
  raw             pipeline/pipeline.go:496  {"message": line}
  cri             decoder/cri.go:21-67      "<ts> <stream> <P|F> <log>"
  postgres        decoder/postgres.go:28-44 "<ts> GMT [pid] => [n-m] client=..,db=..,user=.. LOG: text"
  nginx_error     decoder/nginx.go:49-64    "<ts> [level] pid#tid: *cid msg"
  syslog_rfc3164  decoder/syslog_rfc3164.go "<pri>Mmm dd hh:mm:ss host tag[pid]: msg"
  syslog_rfc5424  decoder/syslog_rfc5424.go "<pri>ver ts host app proc msgid [sd] msg"
  csv             decoder/csv.go:105        from_csv with declared columns
  protobuf        decoder/protobuf.go:82    from_protobuf (needs descriptor set)

Each ``decode_<fmt>`` returns an ordered ``{field_name: Column}`` dict
(the fields the reference merges into the event root) built from pure
``regexp_extract``/``from_json``/``from_csv`` expressions.

The regex decoders additionally return a ``"__pre__"`` entry: a list
of ``{helper_col_name: Column}`` layers the CONSUMER must project (in
order, e.g. ``df.withColumns(layer)``) before evaluating the field
columns, then drop.  The one-pass regexp_replace+split intermediates
live there under fixed ``__fd_rx_*__`` names; staging them as real
columns is what makes the regex run ONCE per row — inlined into each
field's conditional, codegen's subexpression elimination cannot reach
them and the matcher re-runs per field (measured 2x the whole decode
cost at 100k rows).  ``Decode.apply_impl`` and ``_decode_lines``
handle ``__pre__``; plain-dict consumers that select the field
columns directly will get an unresolved-column error, never silent
recompute.
"""

from __future__ import annotations

from typing import Any, Callable

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

FieldMap = dict[str, Column]

# --- helpers ---------------------------------------------------------------


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL single-quoted string literal (the parser
    processes backslash escapes, so both the backslash and the quote
    need escaping)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


#: group separator for the one-pass multi-group extract — a control
#: byte no log format emits on the fast path (rows that DO contain it
#: fall back to per-group extracts, so results never depend on it)
_RX_SEP = "\x01"


def _rx_fields(
    line: Column, pattern: str, n: int
) -> tuple[list[Column], list[dict[str, Column]]]:
    """One regex pass for all ``n`` groups of an ANCHORED pattern —
    bit-identical to ``regexp_extract(line, pattern, i)`` for each
    group ``i`` in 1..n, with an empty group read as NULL.

    ``regexp_extract`` runs the full matcher once PER GROUP, so a
    7-field decoder pays 7 matches per line (measured: the per-line
    decode cost is ~6x the single-pass floor on the postgres format).
    Instead, ONE ``regexp_replace`` rewrites a matching line into its
    groups joined by a separator byte, and ``split`` fans them out.

    Match detection needs no second regex: the patterns here are
    anchored ``^...$`` with non-empty inter-group literals, so a match
    always inserts separator bytes and ``ex != line``; a non-match
    returns the input unchanged and ``ex == line``.  The group-count
    check rejects the one remaining ambiguity (a field value that
    itself contains the separator byte misaligns the split) — any row
    failing either check falls back, PER ROW, to the exact per-group
    ``regexp_extract`` calls, so pathological inputs produce
    byte-identical results at the old cost while real traffic takes
    the single-pass path.  An empty group reads NULL on both paths.

    Returns ``(field_columns, pre_layers)``: the ex/parts
    intermediates are NOT inlined into the field expressions but
    referenced by name from ``pre_layers`` (see the module docstring's
    ``__pre__`` contract) — inlined, they sit under each field's
    conditional where codegen's subexpression elimination cannot
    deduplicate them, and the matcher re-runs for every field
    (measured r13: staging the two layers halves the whole decode)."""
    # fixed stage names: each regex decoder calls this once, and every
    # consumer drops (Decode.apply_impl) or selects away (_decode_lines)
    # the stage before the next decoder runs, so plans repeat per build
    line_name, ex_name, parts_name, ok_name = (
        "__fd_rx_line__", "__fd_rx_ex__", "__fd_rx_parts__", "__fd_rx_ok__"
    )
    repl = _RX_SEP.join(f"${i}" for i in range(1, n + 1))
    pre = [
        {line_name: line},
        {ex_name: F.regexp_replace(F.col(line_name), pattern, repl)},
        {parts_name: F.split(F.col(ex_name), _RX_SEP)},
    ]
    line = F.col(line_name)
    ex = F.col(ex_name)
    parts = F.col(parts_name)
    # Java's `$` matches BEFORE a final line terminator, but
    # regexp_replace leaves that terminator outside the replaced
    # region, so it would leak into the last field — rows ending in a
    # line terminator take the fallback (regexp_extract excludes the
    # terminator from the match the same way on both paths).  The
    # terminator test is a plain last-char membership check, not a
    # second regex pass over the line.
    ok = (
        (ex != line)
        & (F.size(parts) == n)
        & ~F.substring(line, -1, 1).isin(
            "\n", "\r", "\u0085", "\u2028", "\u2029"
        )
    )
    # the gate is staged as its own __pre__ layer (r13): inlined, the
    # ex != line full-string compare re-ran once per FIELD per row;
    # staged, it evaluates once per row
    pre.append({ok_name: ok})
    # per-field expressions ship as SQL text: the Column-algebra form
    # cost ~12 py4j round trips per field per plan build (~0.2 ms
    # each, measured r13); parsed JVM-side these are IDENTICAL trees
    pat = _sql_str(pattern)
    cols = [
        F.expr(
            f"CASE WHEN {ok_name} "
            f"THEN nullif(element_at({parts_name}, {i}), '') "
            f"ELSE nullif(regexp_extract({line_name}, {pat}, {i}), '') END"
        )
        for i in range(1, n + 1)
    ]
    return cols, pre


# --- decoders --------------------------------------------------------------


def decode_json(line: Column, params: dict[str, Any] | None = None) -> FieldMap:
    params = params or {}
    schema = params.get("schema")
    max_fields_size = params.get("json_max_fields_size")
    src = line
    if max_fields_size and not isinstance(max_fields_size, dict):
        # legacy scalar form: whole-line cap before parsing
        src = F.substring(src, 1, int(max_fields_size))
        max_fields_size = None
    if schema:
        parsed = F.from_json(src, schema)
        if max_fields_size:
            from functools import reduce

            from pyspark.sql.types import (
                StringType,
                StructType,
                _parse_datatype_string,
            )

            st = _parse_datatype_string(schema) if isinstance(schema, str) else schema

            def type_at(path: list[str]):
                node = st
                for p in path:
                    if not isinstance(node, StructType):
                        return None
                    m = {f.name: f.dataType for f in node.fields}
                    if p not in m:
                        return None
                    node = m[p]
                return node

            for fld, size in max_fields_size.items():
                if int(size) != float(size):
                    raise ValueError(
                        f"json_max_fields_size[{fld!r}] must be an integer"
                    )
                path = str(fld).split(".") if fld else []
                # reference truncates STRING values only, at any depth
                # (decoder/json.go checkFieldsSize node.IsString() gate)
                if path and isinstance(type_at(path), StringType):
                    leaf = reduce(lambda c, p: c.getField(p), path, parsed)
                    parsed = parsed.withField(
                        ".".join(path), F.substring(leaf, 1, int(size))
                    )
        return {"__struct__": parsed}
    if params.get("variant"):
        # Spark 4 VariantType: lazily-parsed JSON — the closest
        # analogue to the reference's insane-json tree (SURVEY §1.1);
        # fields read on demand with variant_get, no declared schema
        return {"__map__": F.parse_json(src)}
    parsed = F.from_json(src, "map<string,string>")
    if max_fields_size:
        # map mode stringifies every scalar, so stringness of the
        # original value is read off the raw line ("fld": "...) — the
        # reference truncates only string values (decoder/json.go)
        import re as _pyre

        def _truncator(fld: str, size: int, quoted: Column):
            def fn(k: Column, v: Column) -> Column:
                return F.when((k == fld) & quoted, F.substring(v, 1, size)).otherwise(v)

            return fn

        for fld, size in max_fields_size.items():
            quoted = src.rlike('"' + _pyre.escape(fld) + '"\\s*:\\s*"')
            parsed = F.transform_values(parsed, _truncator(fld, int(size), quoted))
    return {"__map__": parsed}


def decode_raw(line: Column, params: dict[str, Any] | None = None) -> FieldMap:
    return {"message": line}


CRI_PATTERN = r"^(\S+) (stdout|stderr) (P|F) (.*)$"


def decode_cri(line: Column, params: dict[str, Any] | None = None) -> FieldMap:
    g, pre = _rx_fields(line, CRI_PATTERN, 4)
    return {
        "time": g[0],
        "stream": g[1],
        "is_partial": g[2] == "P",
        "log": g[3],
        "__pre__": pre,
    }


# the log tail skips the severity word plus two bytes (postgres.go:163-168:
# `pos = IndexByte(data, ' '); row.Log = data[pos+2:]`), which strips
# "LOG:  " (word, space, second space) — replicated byte-for-byte with
# `[^ ]+ .`
PG_PATTERN = (
    r"^(.+? GMT) \[(\d+)\] => \[([\d-]+)\] "
    r"client=([^,]*),db=([^,]*),user=([^ ]*) [^ ]+ .(.*)$"
)


def decode_postgres(line: Column, params: dict[str, Any] | None = None) -> FieldMap:
    g, pre = _rx_fields(line, PG_PATTERN, 7)
    return {
        "time": g[0],
        "pid": g[1],
        "pid_message_number": g[2],
        "client": g[3],
        "db": g[4],
        "user": g[5],
        "log": g[6],
        "__pre__": pre,
    }


NGINX_PATTERN = r"^(\d{4}/\d{2}/\d{2} \d{2}:\d{2}:\d{2}) \[(\w+)\] (\d+)#(\d+):(?: \*(\d+))?(?: (.*))?$"


def decode_nginx_error(line: Column, params: dict[str, Any] | None = None) -> FieldMap:
    params = params or {}
    g, pre = _rx_fields(line, NGINX_PATTERN, 6)
    out = {
        "time": g[0],
        "level": g[1],
        "pid": g[2],
        "tid": g[3],
        "cid": g[4],
        "message": g[5],
        "__pre__": pre,
    }
    if params.get("nginx_with_custom_fields"):
        # nginx.go:163-199 extractCustomFields: walk the tail backwards
        # over ", " separators; each trailing "key: value" segment with a
        # letters-only key becomes a field (value dequoted, "key: " ->
        # empty); the first invalid segment stops the walk and everything
        # before it stays in message.  Columnar: fields = maximal valid
        # suffix of the ", "-split segments (index >= 1), message = the
        # prefix rejoined.  The reference splats fields at event root; a
        # typed engine keeps them in a custom_fields map.
        msg = out["message"]
        segs = F.split(msg, ", ")
        n = F.size(segs)
        seg_ok = lambda s: s.rlike(r"^\p{L}+:")  # noqa: E731
        # count of trailing valid segments (never counting segs[0])
        trailing = F.aggregate(
            F.slice(F.reverse(segs), 1, F.greatest(n - 1, F.lit(0))),
            F.struct(F.lit(0).alias("c"), F.lit(False).alias("stop")),
            lambda acc, s: F.struct(
                F.when(acc.getField("stop") | ~seg_ok(s), acc.getField("c"))
                .otherwise(acc.getField("c") + 1)
                .alias("c"),
                (acc.getField("stop") | ~seg_ok(s)).alias("stop"),
            ),
            lambda acc: acc.getField("c"),
        )
        k = n - trailing
        fields = F.slice(segs, k + 1, trailing)

        def entry(seg: Column) -> Column:
            key = F.substring_index(seg, ":", 1)
            # value bytes after ':': "" unless more than one byte
            # (nginx.go:188-191), dequoted with Trim(`"`)
            after = F.substring(seg, F.length(key) + 2, F.lit(2_000_000_000))
            value = F.when(
                F.length(after) > 1,
                F.regexp_replace(
                    F.substring(seg, F.length(key) + 3, F.lit(2_000_000_000)),
                    '^"+|"+$',
                    "",
                ),
            ).otherwise("")
            return F.struct(key.alias("key"), value.alias("value"))

        out["custom_fields"] = F.map_from_entries(F.transform(fields, entry))
        out["message"] = F.array_join(F.slice(segs, 1, k), ", ")
    return out


SYSLOG3164_PATTERN = (
    r"^<(\d{1,3})>([A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) "
    r"(\S+) ([^:\[ ]+)(?:\[(\d+)\])?:? ?(.*)$"
)


def _pri_fields(pri: Column, params: dict[str, Any]) -> FieldMap:
    """priority -> facility/severity per the RFC: pri = fac*8 + sev.
    Format options number|string
    (/root/reference/decoder/syslog.go:21-67,140-187)."""
    fac_num = (pri.cast("int") / 8).cast("int")
    sev_num = pri.cast("int") % 8
    facilities = [
        "KERN", "USER", "MAIL", "DAEMON", "AUTH", "SYSLOG", "LPR", "NEWS",
        "UUCP", "CRON", "AUTHPRIV", "FTP", "NTP", "SECURITY", "CONSOLE",
        "SOLARISCRON", "LOCAL0", "LOCAL1", "LOCAL2", "LOCAL3", "LOCAL4",
        "LOCAL5", "LOCAL6", "LOCAL7",
    ]
    severities = [
        "EMERG", "ALERT", "CRIT", "ERROR",
        "WARN", "NOTICE", "INFO", "DEBUG",
    ]
    fac: Column = fac_num.cast("string")
    sev: Column = sev_num.cast("string")
    if params.get("syslog_facility_format") == "string":
        fac = F.coalesce(
            F.element_at(F.lit(list(facilities)), fac_num + 1),
            F.lit("UNKNOWN"),
        )
    if params.get("syslog_severity_format") == "string":
        sev = F.coalesce(
            F.element_at(F.lit(list(severities)), sev_num + 1),
            F.lit("UNKNOWN"),
        )
    return {"priority": pri, "facility": fac, "severity": sev}


def decode_syslog_rfc3164(line: Column, params: dict[str, Any] | None = None) -> FieldMap:
    params = params or {}
    g, pre = _rx_fields(line, SYSLOG3164_PATTERN, 6)
    out = _pri_fields(g[0], params)
    out.update(
        {
            "timestamp": g[1],
            "hostname": g[2],
            "app_name": g[3],
            "process_id": g[4],
            "message": g[5],
            "__pre__": pre,
        }
    )
    return out


SYSLOG5424_PATTERN = (
    r"^<(\d{1,3})>(\d+) (\S+) (\S+) (\S+) (\S+) (\S+) "
    r"(?:(-|(?:\[.*\])) ?)?(.*)$"
)


def decode_syslog_rfc5424(line: Column, params: dict[str, Any] | None = None) -> FieldMap:
    params = params or {}
    g, pre = _rx_fields(line, SYSLOG5424_PATTERN, 9)
    out = _pri_fields(g[0], params)

    def nilable(c: Column) -> Column:
        return F.when(c == "-", F.lit(None)).otherwise(c)

    sd_raw = g[7]
    # structured data "[id k="v" k2="v2"][id2 ...]" -> map of maps
    sd = F.map_from_entries(
        F.transform(
            F.regexp_extract_all(sd_raw, F.lit(r"\[([^\]]+)\]"), 1),
            lambda grp: F.struct(
                F.substring_index(grp, " ", 1).alias("key"),
                F.map_from_entries(
                    F.transform(
                        F.regexp_extract_all(
                            grp, F.lit("(\\w+)=\"([^\"]*)\""), 0
                        ),
                        lambda kv: F.struct(
                            F.substring_index(kv, "=", 1).alias("key"),
                            F.regexp_replace(
                                F.substring_index(kv, "=", -1), "^\"|\"$", ""
                            ).alias("value"),
                        ),
                    )
                ).alias("value"),
            ),
        )
    )
    out.update(
        {
            "proto_version": g[1],
            "timestamp": nilable(g[2]),
            "hostname": nilable(g[3]),
            "app_name": nilable(g[4]),
            "process_id": nilable(g[5]),
            "message_id": nilable(g[6]),
            "structured_data": F.when(sd_raw.isNotNull() & (sd_raw != "-"), sd),
            "message": g[8],
            "__pre__": pre,
        }
    )
    return out


def decode_csv(line: Column, params: dict[str, Any] | None = None) -> FieldMap:
    """csv decoder (decoder/csv.go): named ``columns``, or PREFIX mode
    when columns are empty — every field lands in the event map as
    ``prefix + index`` (GenerateColumnName, csv.go:239-245).
    ``invalid_line_mode`` governs a field-count mismatch against named
    columns (CheckInvalidLine, csv.go:223-236): ``fatal`` aborts the
    job, ``continue`` keeps the parsed named prefix (the reference
    appends prefix+i extras; a typed frame cannot grow per-row
    columns, so extras drop — documented divergence), ``default``
    fails the whole event (all fields null, like the reference's
    decode error path)."""
    import re as _pyre

    params = params or {}
    columns = params.get("csv_columns") or params.get("columns")
    delimiter = params.get("csv_delimiter", params.get("delimiter", ","))
    # delimiter outside double quotes (csv.go honors quoting)
    sep_re = _pyre.escape(delimiter) + r'(?=(?:[^"]*"[^"]*")*[^"]*$)'
    if not columns:
        prefix = params.get("prefix", "")
        cells = F.transform(
            F.split(line, sep_re),
            lambda c: F.regexp_replace(
                F.regexp_replace(c, r'^"(.*)"$', "$1"), '""', '"'
            ),
        )
        return {
            "__map__": F.map_from_arrays(
                F.transform(
                    F.sequence(
                        F.lit(0), F.greatest(F.size(cells) - 1, F.lit(0))
                    ),
                    lambda i: F.concat(F.lit(prefix), i.cast("string")),
                ),
                cells,
            )
        }
    mode = params.get("invalid_line_mode", "default")
    if mode not in ("default", "fatal", "continue"):
        raise ValueError(f"csv decoder: bad invalid_line_mode {mode!r}")
    ddl = ", ".join(f"`{c}` STRING" for c in columns)
    parsed = F.from_csv(line, ddl, {"sep": delimiter})
    n_fields = F.size(F.split(line, sep_re))
    mismatch = n_fields != F.lit(len(columns))
    if mode == "fatal":
        gate = F.when(
            mismatch,
            F.raise_error(
                F.concat(
                    F.lit("got invalid line with setting"
                          " InvalidLineMode=fatal: "),
                    line,
                )
            ),
        )
        return {
            c: F.coalesce(gate.cast("string"), parsed.getField(c))
            for c in columns
        }
    if mode == "default":
        return {
            c: F.when(~mismatch, parsed.getField(c)) for c in columns
        }
    return {c: parsed.getField(c) for c in columns}


def decode_protobuf(line: Column, params: dict[str, Any] | None = None) -> FieldMap:
    """protobuf decoder (decoder/protobuf.go:35-82): the reference's
    config surface is ``proto_file`` (a path or inline .proto source) +
    ``proto_message``.  With a compiled descriptor set and the
    spark-protobuf jar the native ``from_protobuf`` runs JVM-side;
    otherwise the pure-Python proto3 wire decoder (protowire.py)
    decodes via an Arrow-batched pandas UDF into protojson-shaped JSON
    parsed by ``from_json`` — same output either way."""
    params = params or {}
    msg_name = params.get("proto_message")
    desc = params.get("proto_desc_file")
    if desc and msg_name:
        from pyspark.sql.protobuf.functions import from_protobuf

        return {
            "__struct__": from_protobuf(line.cast("binary"), msg_name, descFilePath=desc)
        }
    proto_file = params.get("proto_file")
    if not proto_file or not msg_name:
        raise ValueError(
            "protobuf decoder requires proto_file + proto_message "
            "(or proto_desc_file + proto_message for the jar path)"
        )
    import os

    from file_d_spark import protowire

    if str(proto_file).endswith(".proto"):
        for base in [""] + [
            str(p) for p in params.get("proto_import_paths") or []
        ]:
            cand = os.path.join(base, proto_file) if base else proto_file
            if os.path.exists(cand):
                text = open(cand).read()
                break
        else:
            raise ValueError(f"proto file not found: {proto_file}")
    else:
        text = str(proto_file)
    registry = protowire.parse_proto(text)
    if msg_name not in registry:
        raise ValueError(f"message {msg_name!r} not found in proto file")
    msg = registry[msg_name]
    schema = f"struct<{protowire.spark_schema(msg, registry)}>"

    import json as _json

    @F.pandas_udf("string")
    def pb_to_json(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            try:
                return _json.dumps(
                    protowire.decode_message(bytes(v), msg, registry)
                )
            except Exception:
                return None

        return s.map(one)

    return {"__struct__": F.from_json(pb_to_json(line.cast("binary")), schema)}


DECODERS: dict[str, Callable[[Column, dict[str, Any] | None], FieldMap]] = {
    "json": decode_json,
    "raw": decode_raw,
    "cri": decode_cri,
    "postgres": decode_postgres,
    "nginx_error": decode_nginx_error,
    "syslog_rfc3164": decode_syslog_rfc3164,
    "syslog_rfc5424": decode_syslog_rfc5424,
    "csv": decode_csv,
    "protobuf": decode_protobuf,
}


def get_decoder(name: str) -> Callable[[Column, dict[str, Any] | None], FieldMap]:
    key = (name or "json").lower()
    if key == "auto":
        key = "json"
    if key not in DECODERS:
        raise ValueError(f"unknown decoder {name!r}; known: {sorted(DECODERS)}")
    return DECODERS[key]
