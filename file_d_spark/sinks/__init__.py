"""Sink builders (SURVEY.md §2.6).

There is one output path: :func:`build_sink` writes a batch with the
output's coercion, ``retry`` and nested ``deadqueue`` output.  A
stream writes file/kafka/stdout/devnull with Spark's own streaming
sinks and every other output through ``foreachBatch``, which hands
each micro-batch to :func:`build_sink`; a stream's ``s3`` output writes
each micro-batch to a directory named after its batch id.  Typed sinks
(clickhouse/postgres) declare a target StructType and coerce with
cast/try_cast mirroring the reference's strict/non-strict modes
(reference plugin/output/clickhouse/clickhouse.go:240-252).  The
network sinks' HTTP transport is a callable, so tests inject a
collector in place of a live endpoint.
"""

from __future__ import annotations

import dataclasses
import json
import os
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def coerce_to_schema(df: DataFrame, schema: T.StructType, strict: bool = False) -> DataFrame:
    """Cast event columns to a declared sink schema.  strict=True uses
    plain cast (ANSI errors surface); strict=False uses try_cast
    (unparsable -> NULL), matching the reference's non-strict mode."""
    cols = []
    for f in schema.fields:
        if f.name in df.columns:
            src = F.col(f.name)
        else:
            src = F.lit(None)
        cols.append(
            (src.cast(f.dataType) if strict else src.try_cast(f.dataType)).alias(f.name)
        )
    return df.select(*cols)


def apply_retention(path: str, partition_by: list[str], retention: str) -> int:
    """Prune partition directories older than the retention horizon —
    the reference's retention_interval file aging (file.go:63-112)
    expressed against time-partitioned output: a partition dir like
    ``day=2024-01-01`` ages out when its value parses older than
    now - interval.  Driver-side directory listing only (one entry per
    partition, not per file); returns the number of pruned dirs."""
    import datetime as dt
    import os
    import re
    import shutil

    from file_d_spark.xtime import parse_duration_s

    if not partition_by:
        return 0
    horizon = dt.datetime.now(dt.timezone.utc) - dt.timedelta(
        seconds=parse_duration_s(retention)
    )
    key = partition_by[0]
    pruned = 0
    if not os.path.isdir(path):
        return 0
    for entry in os.listdir(path):
        m = re.fullmatch(re.escape(key) + r"=(.+)", entry)
        if not m:
            continue
        val = m.group(1)
        stamp = None
        for fmt in ("%Y-%m-%d", "%Y-%m-%d-%H", "%Y%m%d"):
            try:
                stamp = dt.datetime.strptime(val, fmt).replace(
                    tzinfo=dt.timezone.utc
                )
                break
            except ValueError:
                continue
        if stamp is not None and stamp < horizon:
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)
            pruned += 1
    return pruned


def _sink_file_zip(df: DataFrame, cfg: dict[str, Any]):
    """``compression_type: zip`` sealing — the ONLY compression the
    reference s3 output supports (s3.go:186 ``options:"zip"``,
    compress.go: one member per archive, deflate, archive name =
    ``<file>.zip``).  Spark codecs (gzip et al.) write ``.gz`` part
    files, which is a different container a downstream consumer of the
    bucket cannot unzip — so this path emits REAL zip archives: each
    non-empty partition seals into ``<prefix>_<uuid>.json.zip``.

    Scale shape: serialization stays JVM-side (``to_json`` — the
    Python worker only streams finished lines into the deflate
    writer), one archive per partition (no driver collect), written
    tmp-then-rename so readers never see a half-sealed archive — the
    same close-then-publish contract as the reference's seal+upload
    workers (s3.go:114,308)."""
    import uuid as _uuid

    path = cfg["target_file" if "target_file" in cfg else "path"]
    if path.startswith("file://"):
        path = path[len("file://"):]
    prefix = cfg.get("file_name", "logs")
    os.makedirs(path, exist_ok=True)
    if cfg.get("mode", "overwrite") == "overwrite":
        for old in os.listdir(path):
            if old.endswith(".zip"):
                os.unlink(os.path.join(path, old))
    run_id = _uuid.uuid4().hex[:8]

    payload = df.select(F.to_json(F.struct(*df.columns)).alias("j"))

    def seal_partition(rows):
        import itertools
        import os as _os
        import uuid
        import zipfile

        it = iter(rows)
        try:
            first = next(it)
        except StopIteration:
            return  # empty partition: no empty archives (file.go seal-on-data)
        name = f"{prefix}{fileNameSeparator}{run_id}{fileNameSeparator}{uuid.uuid4().hex}.json"
        arch = _os.path.join(path, name + ".zip")
        tmp = arch + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            with zf.open(name, "w") as member:
                for row in itertools.chain([first], it):
                    member.write(row.j.encode("utf-8") + b"\n")
        _os.replace(tmp, arch)

    payload.foreachPartition(seal_partition)


fileNameSeparator = "_"  # s3.go:106


def sink_file(df: DataFrame, cfg: dict[str, Any]):
    """Rolling-file output.  The reference's sealing (file.go:63-112)
    maps to time partitioning + compression; ``retention_interval``
    prunes aged-out partition directories after each write.
    ``compression_type: zip`` seals literal zip archives instead
    (the s3 output's contract — see _sink_file_zip)."""
    if str(cfg.get("compression_type", "")).lower() == "zip":
        _sink_file_zip(df, cfg)
        return
    if "compression_type" in cfg:
        raise ValueError(
            f"unsupported compression_type: {cfg['compression_type']!r}"
            " (the reference supports only 'zip', s3.go:186)"
        )
    fmt = cfg.get("format", "json")
    path = cfg["target_file" if "target_file" in cfg else "path"]
    writer = df.write.mode(cfg.get("mode", "overwrite"))
    if cfg.get("compression"):  # gzip sealing analogue
        writer = writer.option("compression", cfg["compression"])
    partition_by = cfg.get("partition_by")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "json":
        writer.json(path)
    elif fmt == "parquet":
        writer.parquet(path)
    elif fmt == "csv":
        writer.csv(path, header=True)
    else:
        writer.format(fmt).save(path)
    if cfg.get("retention_interval"):
        apply_retention(
            path, list(partition_by or []), cfg["retention_interval"]
        )


def sink_socket(df: DataFrame, cfg: dict[str, Any]):
    """Raw TCP/UDP line writer
    (/root/reference/plugin/output/socket/socket.go:109).  Each
    partition opens one connection and writes newline-framed JSON."""
    # reference config keys: network (tcp/udp) + address "host:port"
    # (socket.go Config); host/port/mode accepted as the flat spelling
    if "address" in cfg:
        addr = str(cfg["address"])
        host, _, port_s = addr.rpartition(":")
        host = host or "127.0.0.1"
        port = int(port_s)
    else:
        host = cfg.get("host", "127.0.0.1")
        port = int(cfg["port"])
    mode = str(cfg.get("network", cfg.get("mode", "tcp"))).lower()

    def send_partition(rows):
        import json as _json
        import socket as _socket

        if mode == "udp":
            s = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
            for row in rows:
                s.sendto(
                    (_json.dumps(row.asDict(recursive=True), default=str) + "\n").encode(),
                    (host, port),
                )
            s.close()
            return
        with _socket.create_connection((host, port)) as s:
            for row in rows:
                s.sendall(
                    (_json.dumps(row.asDict(recursive=True), default=str) + "\n").encode()
                )

    df.foreachPartition(send_partition)


def sink_stdout(df: DataFrame, cfg: dict[str, Any]):
    df.show(int(cfg.get("limit", 20)), truncate=False)


def sink_devnull(df: DataFrame, cfg: dict[str, Any]):
    # still executes the plan (reference devnull counts events)
    df.write.format("noop").mode("overwrite").save()


def _http_batch_sink(
    df: DataFrame,
    cfg: dict[str, Any],
    encoder: Callable[[list[dict]], list[str]],
    sizer: Callable[[dict], int] | None = None,
):
    """Shared shape for ES/Loki/Splunk/HTTP-style sinks: serialize each
    partition to request payload batches and hand them to ``transport``
    (injectable; default stub raises).

    Batch caps mirror the reference batcher (pipeline/batch.go:91): a
    batch is full when it holds ``batch_size`` docs OR its accumulated
    size reaches ``batch_size_bytes`` — both checked AFTER appending,
    so the byte cap may be exceeded by the final doc, exactly like the
    reference.  ``sizer`` is the per-doc byte measure; callers whose
    encoder reshapes the doc (sink_http's raw single-field encoding)
    pass their own so the cap tracks the REAL payload contribution.
    The default is the full JSON-encoded doc length (the reference
    counts raw event bytes) — a second serialization per doc on top of
    the encoder's own, paid ONLY when the byte cap is configured; an
    exact cap beats saving one dumps on a path that is transport-bound
    anyway.  With gzip the cap measures PRE-compression bytes, same as
    the reference batcher (it caps event bytes before the output
    encodes).  Setting both caps to 0 is a config error (batch.go:53)."""
    batch_size = int(cfg.get("batch_size", 1000) or 0)
    batch_bytes = int(cfg.get("batch_size_bytes", 0) or 0)
    if batch_size < 0 or batch_bytes < 0:
        raise ValueError("batch_size/batch_size_bytes must be >= 0")
    if batch_size == 0 and batch_bytes == 0:
        raise ValueError(
            "at least one of batch_size/batch_size_bytes must be set"
        )
    transport = cfg.get("transport")
    if transport is None:
        raise NotImplementedError(
            "no live HTTP endpoint in this environment; inject cfg['transport']"
        )
    if sizer is None:
        sizer = lambda doc: len(json.dumps(doc, default=str))  # noqa: E731

    def send_partition(rows):
        buf, size = [], 0
        for row in rows:
            doc = row.asDict(recursive=True)
            buf.append(doc)
            if batch_bytes:
                size += sizer(doc)
            if (batch_size and len(buf) >= batch_size) or (
                batch_bytes and size >= batch_bytes
            ):
                for payload in encoder(buf):
                    transport(payload)
                buf, size = [], 0
        if buf:
            for payload in encoder(buf):
                transport(payload)

    df.foreachPartition(send_partition)


_GO_TO_STRFTIME = [
    ("2006", "%Y"), ("01", "%m"), ("02", "%d"),
    ("15", "%H"), ("04", "%M"), ("05", "%S"),
]


def _go_time_to_strftime(layout: str) -> str:
    for go, py in _GO_TO_STRFTIME:
        layout = layout.replace(go, py)
    return layout


def build_index_name(
    doc: dict, index_format: str, index_values: list[str], now_str: str
) -> str:
    """Reference index routing (elasticsearch.go:487-514): each '%' in
    index_format consumes the next index_values entry — '@time' is the
    formatted wall time, otherwise the event field's value ('not_set'
    when empty/absent).  Placeholder/value count mismatch is a config
    error (the reference Fatals)."""
    out = []
    repl = 0
    for c in index_format:
        if c != "%":
            out.append(c)
            continue
        if repl >= len(index_values):
            raise ValueError(
                "count of placeholders and values isn't match, "
                "check index_format/index_values config params"
            )
        value = index_values[repl]
        repl += 1
        if value in ("@time", "@@time"):
            out.append(now_str)
        else:
            v = doc.get(value)
            out.append(str(v) if v not in (None, "") else "not_set")
    return "".join(out)


class PayloadTooLarge(Exception):
    """Transport signal for HTTP 413 (request entity too large) — the
    only status the reference's ES split path bisects on
    (elasticsearch.go:452-467)."""


class EsFatalError(Exception):
    """fatal_on_failed_insert (elasticsearch.go:174,276): the insert
    failed after every retry and no deadqueue is configured — the
    reference logs at FatalLevel, i.e. exits non-zero.  Raised instead
    of swallowed so the job fails loudly."""


def report_es_errors(resp) -> int:
    """Parse an ES ``_bulk`` response and report per-item errors —
    the reference's reportESErrors (elasticsearch.go:568-617), dig
    shapes included: ``errors: false`` short-circuits; empty ``items``
    logs an unknown-error line; each item digs ``index`` (the
    reference digs only that key regardless of batch_op_type), counts
    an ``error`` node as an indexing error, and flags status >= 400
    without one as unknown.  Returns the indexing-error count so the
    caller (and tests) can surface it; accepts the transport's return
    value as dict, str, or bytes — None (a transport that returns
    nothing) costs nothing."""
    import logging

    log = logging.getLogger("file_d_spark.sinks.elasticsearch")
    if resp is None:
        return 0
    if isinstance(resp, (bytes, bytearray)):
        resp = resp.decode("utf-8", "replace")
    if isinstance(resp, str):
        try:
            resp = json.loads(resp)
        except ValueError:
            log.error("can't decode elasticsearch response")
            return 0
    if not isinstance(resp, dict) or not resp.get("errors"):
        return 0
    items = resp.get("items") or []
    if not items:
        log.error(
            "unknown elasticsearch error, 'items' field in the response"
            " is empty: %s", resp,
        )
        return 0
    indexing_errors = 0
    for node in items:
        index_node = node.get("index") if isinstance(node, dict) else None
        if not isinstance(index_node, dict):
            log.error(
                "unknown elasticsearch response, 'index' field in the"
                " response is empty: %s", node,
            )
            continue
        if index_node.get("error") is not None:
            indexing_errors += 1
            log.error(
                "elasticsearch indexing error: %s", index_node["error"]
            )
            continue
        if int(index_node.get("status") or 0) < 400:
            continue
        log.error("unknown elasticsearch error: %s", node)
    if indexing_errors:
        log.error(
            "some events from batch aren't written, %d indexing errors",
            indexing_errors,
        )
    return indexing_errors


def _es_retrying_transport(transport, cfg: dict[str, Any]):
    """Wrap the injected transport with the reference's insert-failure
    machinery (elasticsearch.go:266-291 RetriableBatcher + onError):

    - ``retry`` (default 10) re-attempts a failed send with
      ``retention`` seconds of backoff (default 1.0) growing by
      ``retention_exponentially_multiplier`` (default 2) — the
      reference's BackoffOpts.  ``PayloadTooLarge`` is NON-retryable
      either way (elasticsearch.go:400-409): with ``split_batch`` it
      propagates so the bisect path can isolate the poison doc; without
      it the 413 follows the reference's non-split handling — Fatal
      when ``strict``, else log + skip THIS batch immediately, no
      retries.
    - after the last attempt: with a deadqueue configured the error
      propagates (build_sink routes the events); otherwise
      ``fatal_on_failed_insert: true`` raises :class:`EsFatalError`
      (non-zero exit) and ``false`` logs and SKIPS the batch — the
      reference Fails the events and carries on.
    - ``process_response`` (default true, elasticsearch.go:205) runs
      :func:`report_es_errors` over each successful response.

    With a deadqueue, retries are owned by build_sink's wrapper (its
    ``retry``+1 attempts over the whole frame) — one local attempt per
    payload here, so the counts don't multiply."""
    import logging
    import time as _time

    log = logging.getLogger("file_d_spark.sinks.elasticsearch")
    process_response = bool(cfg.get("process_response", True))
    dq_available = bool(cfg.get("_deadqueue_available", False))
    fatal = bool(cfg.get("fatal_on_failed_insert", False))
    split = bool(cfg.get("split_batch", False))
    strict = bool(cfg.get("strict_fields", False) or cfg.get("strict", False))
    retry = int(cfg.get("retry", 10))
    if retry < 0:
        # attempts=0 would silently drop every batch without one send
        raise ValueError("elasticsearch sink: retry must be >= 0")
    attempts = 1 if dq_available else retry + 1
    # the reference config shape is a DURATION STRING (elasticsearch.go
    # cfg `Retention  cfg.Duration ... default:"1s"`) — parse it like
    # apply_retention parses retention_interval, with a numeric
    # fallback for programmatic callers passing seconds directly
    raw_retention = cfg.get("retention", 1.0)
    try:
        retention_s = float(raw_retention or 0.0)
    except (TypeError, ValueError):
        from file_d_spark.xtime import parse_duration_s

        retention_s = float(parse_duration_s(raw_retention))
    mult = float(cfg.get("retention_exponentially_multiplier", 2))

    def send(payload, **kw):
        last = None
        for i in range(attempts):
            try:
                resp = transport(payload, **kw)
            except PayloadTooLarge as e:
                if split:
                    raise  # the bisect path owns 413 isolation
                if dq_available:
                    raise  # build_sink routes the events
                if strict:
                    raise
                log.error(
                    "can't send to the elastic, non-retryable error"
                    " (413), skipping batch: %s", e,
                )
                return None
            except Exception as e:  # noqa: BLE001
                last = e
                if i + 1 < attempts and retention_s:
                    _time.sleep(retention_s * (mult ** i))
                continue
            if process_response:
                report_es_errors(resp)
            return resp
        if dq_available:
            raise last  # build_sink routes the events to the deadqueue
        if fatal:
            raise EsFatalError(
                f"can't send to the elastic after {attempts} attempts"
            ) from last
        log.error(
            "can't send to the elastic, skipping batch after %d attempts:"
            " %s", attempts, last,
        )
        return None

    return send


def _es_send_split(doc_lines: list[str], transport) -> None:
    """Bisect-on-413 (elasticsearch.go sendSplit, :474-507): try the
    whole span; on PayloadTooLarge split in half and recurse, left half
    first.  A SINGLE document still too large re-raises — the caller
    decides (strict fatal vs skip-the-rest, out() :398-409)."""
    payload = "\n".join(doc_lines) + "\n"
    try:
        transport(payload)
        return
    except PayloadTooLarge:
        if len(doc_lines) <= 2:  # one doc = action line + source line
            raise
    mid = (len(doc_lines) // 2) // 2 * 2  # split on a doc boundary
    mid = max(2, mid)
    _es_send_split(doc_lines[:mid], transport)
    _es_send_split(doc_lines[mid:], transport)


def sink_elasticsearch(df: DataFrame, cfg: dict[str, Any]):
    """ES _bulk payloads: action line + source line per event, with
    per-event index routing via index_format '%' placeholders +
    index_values ('@time' -> wall time in time_format)
    (/root/reference/plugin/output/elasticsearch/elasticsearch.go:60,
    110-126, 487-514).

    ``ingest_pipeline`` routes documents through a server-side ingest
    pipeline (elasticsearch.go appends ?pipeline= to the _bulk URL);
    the injected transport receives it as ``pipeline=`` keyword so a
    fake server can apply the transform.

    ``split_batch: true`` enables the reference's bisect-on-413 path:
    an oversized request splits recursively to isolate the poison
    event; when a single event still fails, ``strict: true`` raises
    (the reference Fatals) and ``strict: false`` logs and skips the
    REST OF THE BATCH (the error propagates up the bisection, so
    events after the poison one are dropped — the exact semantics the
    file_es_split e2e scenario asserts: 10 ok, 1 poison, 20 after ->
    only the first 10 land).

    Insert-failure handling (elasticsearch.go:168-205,266-291):
    ``retry`` (default 10) + ``retention`` seconds exponential backoff
    re-attempt a failed send; after the last attempt
    ``fatal_on_failed_insert: true`` raises :class:`EsFatalError`
    (non-zero exit) and ``false`` logs + skips the batch — unless a
    deadqueue is configured, which disables both (build_sink routes
    the events instead).  ``process_response`` (default true) parses
    each ``_bulk`` response through :func:`report_es_errors` and
    reports per-item indexing errors."""
    import datetime as dt

    index_format = cfg.get("index_format", "file-d-%")
    index_values = list(cfg.get("index_values", ["@time"]))
    time_format = _go_time_to_strftime(cfg.get("time_format", "2006-01-02"))
    now_str = dt.datetime.now(dt.timezone.utc).strftime(time_format)
    # bulk action verb (elasticsearch.go:163,241: the header prefix is
    # built from BatchOpType, options index|create)
    op_type = cfg.get("batch_op_type", "index")
    if op_type not in ("index", "create"):
        raise ValueError(
            f"elasticsearch sink: batch_op_type must be index|create,"
            f" got {op_type!r}"
        )

    ingest_pipeline = cfg.get("ingest_pipeline")
    if ingest_pipeline and cfg.get("transport") is not None:
        raw_transport = cfg["transport"]

        def _with_pipeline(payload, _t=raw_transport, _p=ingest_pipeline):
            return _t(payload, pipeline=_p)

        cfg = {**cfg, "transport": _with_pipeline}

    # retry / fatal_on_failed_insert / process_response wrap OUTSIDE
    # the pipeline kw injection so every send path (batched and
    # split-bisect alike) gets the reference's insert-failure handling
    if cfg.get("transport") is not None:
        cfg = {
            **cfg,
            "transport": _es_retrying_transport(cfg["transport"], cfg),
        }

    def doc_lines(d: dict) -> list[str]:
        name = build_index_name(d, index_format, index_values, now_str)
        return [
            json.dumps({op_type: {"_index": name}}),
            json.dumps(d, default=str),
        ]

    if not cfg.get("split_batch", False):
        def encode(docs: list[dict]) -> list[str]:
            lines = []
            for d in docs:
                lines.extend(doc_lines(d))
            return ["\n".join(lines) + "\n"]

        _http_batch_sink(df, cfg, encode)
        return

    batch_size = int(cfg.get("batch_size", 1000))
    strict = bool(cfg.get("strict_fields", False) or cfg.get("strict", False))
    transport = cfg.get("transport")
    if transport is None:
        raise NotImplementedError(
            "no live HTTP endpoint in this environment; inject cfg['transport']"
        )

    def send_partition(rows):
        buf: list[str] = []

        def flush():
            if not buf:
                return
            try:
                _es_send_split(buf, transport)
            except PayloadTooLarge:
                if strict:
                    raise
                # non-strict: poison event skips the remainder of THIS
                # batch; later batches continue (out() returns nil)
            del buf[:]

        for row in rows:
            buf.extend(doc_lines(row.asDict(recursive=True)))
            if len(buf) >= 2 * batch_size:
                flush()
        flush()

    df.foreachPartition(send_partition)


def sink_loki(df: DataFrame, cfg: dict[str, Any]):
    """Loki push payloads: streams with [ts_unix_nano, line] values
    (/root/reference/plugin/output/loki/loki.go:47-64).  Loki rejects
    zero/old timestamps, so the nano stamp falls back from an explicit
    ts_nano field to the configured time column to ingestion time.
    ``auth.tenant_id`` rides to the transport as the X-Scope-OrgID
    header value (loki.go:199,456) — the injectable transport seam
    receives it as ``tenant=`` keyword."""
    import datetime as dt

    tenant = (cfg.get("auth") or {}).get("tenant_id")
    if tenant and cfg.get("transport") is not None:
        raw_transport = cfg["transport"]

        def _with_tenant(payload, _t=raw_transport, _tn=tenant):
            return _t(payload, tenant=_tn)

        cfg = {**cfg, "transport": _with_tenant}

    labels = cfg.get("labels", {"job": "file_d_spark"})
    ts_field = cfg.get("timestamp_field", "ts")

    def nano_of(d: dict) -> int:
        if d.get("ts_nano"):
            return int(d["ts_nano"])
        v = d.get(ts_field)
        if isinstance(v, dt.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=dt.timezone.utc)
            return int(v.timestamp() * 1e9)
        if isinstance(v, (int, float)) and v:
            return int(v if v > 1e15 else v * 1e9)  # nanos vs seconds
        return int(dt.datetime.now(dt.timezone.utc).timestamp() * 1e9)

    def encode(docs: list[dict]) -> list[str]:
        values = [
            [str(nano_of(d)), json.dumps(d, default=str)] for d in docs
        ]
        return [json.dumps({"streams": [{"stream": labels, "values": values}]})]

    _http_batch_sink(df, cfg, encode)


def _gelf_extra_name(name: str) -> str:
    """gelf.go:484 formatExtraField: '_' prefix, disallowed runes -> '-'."""
    out = ["_"]
    for c in name:
        ok = c.isascii() and (c.isalnum() or c in "_-.")
        out.append(c if ok else "-")
    return "".join(out)


def _gelf_is_blank(s: str) -> bool:
    """gelf.go isBlank: space/tab/newline/CR/VT/FF/FS/GS/RS/US only."""
    blanks = " \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f"
    return all(c in blanks for c in s)


def sink_gelf(df: DataFrame, cfg: dict[str, Any]):
    """GELF envelopes, null-byte framed, with the reference's full
    field mapping (/root/reference/plugin/output/gelf/gelf.go:345-509):
    every event field first becomes a '_'-sanitized extra
    (non-string/number values JSON-encoded to strings), then the
    configured source fields are renamed back to the base GELF names —
    host (default_value "unknown"), short_message
    (default_short_message_value, blank-string values also fall back),
    full_message (skipped when unconfigured), timestamp (numbers
    de-milli'd to epoch seconds, strings parsed with
    timestamp_field_format best-effort, missing -> send time), and
    level (RFC-5424 name or number via the convert_log_level table,
    unknown names -> informational)."""
    import datetime as _dt

    from file_d_spark.actions.convert import LOG_LEVEL_NUMBERS

    host_field = _gelf_extra_name(cfg.get("host_field", "host"))
    msg_field = _gelf_extra_name(cfg.get("short_message_field", "message"))
    default_msg = cfg.get("default_short_message_value", "not set")
    full_field_cfg = cfg.get("full_message_field", "")
    full_field = _gelf_extra_name(full_field_cfg) if full_field_cfg else ""
    ts_field = _gelf_extra_name(cfg.get("timestamp_field", "time"))
    level_field_cfg = cfg.get("level_field", "level")
    level_field = (
        _gelf_extra_name(level_field_cfg) if level_field_cfg else ""
    )

    def base_field(g: dict, gelf_name: str, field: str, default: str):
        # gelf.go makeBaseField: missing -> default (or skip when the
        # default is empty); non-strings stringified; blank -> default
        if not field:
            return
        if field not in g:
            if default == "":
                return
            g[field] = default
        v = g.pop(field)
        if not isinstance(v, str):
            v = json.dumps(v, default=str) if not isinstance(
                v, (int, float)
            ) else str(v)
        if _gelf_is_blank(v):
            v = default
        g[gelf_name] = v

    def encode(docs: list[dict]) -> list[str]:
        out = []
        now = _dt.datetime.now(_dt.timezone.utc).timestamp()
        for d in docs:
            g: dict[str, Any] = {}
            for k, v in d.items():
                if v is None:
                    # a null column is the flat-schema spelling of the
                    # reference's ABSENT dynamic field — defaults apply
                    continue
                if not isinstance(v, (str, int, float)) or isinstance(
                    v, bool
                ):
                    v = json.dumps(v, default=str)
                g[_gelf_extra_name(k)] = v
            g["version"] = "1.1"
            base_field(g, "host", host_field, "unknown")
            base_field(g, "short_message", msg_field, default_msg)
            base_field(g, "full_message", full_field, "")
            ts_node = g.pop(ts_field, None)
            if ts_node is not None:
                ts = now
                if isinstance(ts_node, (int, float)) and not isinstance(
                    ts_node, bool
                ):
                    ts = float(ts_node)
                    if ts > 1_000_000_000_000:  # millis?
                        ts /= 1000
                    if ts > 1_000_000_000_000:  # micros?
                        ts /= 1000
                elif isinstance(ts_node, str):
                    try:  # rfc3339-family best effort
                        ts = _dt.datetime.fromisoformat(
                            ts_node.replace("Z", "+00:00")
                        ).timestamp()
                    except ValueError:
                        pass
                if ts < 1_000_000_000:  # past/zero clamp: gelf.go:413-415
                    ts = now
                g["timestamp"] = ts
            if level_field:
                lv_node = g.pop(level_field, None)
                level = -1
                if isinstance(lv_node, bool):
                    lv_node = None
                if isinstance(lv_node, str):
                    level = LOG_LEVEL_NUMBERS.get(
                        lv_node.strip().lower(), 6
                    )
                elif isinstance(lv_node, (int, float)):
                    level = int(lv_node)
                elif lv_node is not None:
                    g[level_field] = lv_node  # non-scalar: keep extra
                if level != -1:
                    g["level"] = level
            out.append(json.dumps(g, default=str) + "\x00")
        return out

    _http_batch_sink(df, cfg, encode)


def sink_splunk(df: DataFrame, cfg: dict[str, Any]):
    """Splunk HEC event envelopes with ``copy_fields``
    (/root/reference/plugin/output/splunk/splunk.go:25-45,236-251):
    each ``{from, to}`` entry copies a (possibly nested) event field
    to a (possibly nested) path in the OUTPUT json next to the
    "event" key — e.g. ``{from: service, to: fields.service_name}``.
    Copies to the root (empty ``to``) or to ``event``/its subfields
    are rejected at config time (the reference logs and skips; a
    typed config error here beats a silently missing metadata field).
    A bare string entry is shorthand for ``{from: x, to: x}``.
    Missing source fields populate nothing."""
    copies: list[tuple[list[str], list[str]]] = []
    for cp in cfg.get("copy_fields", []):
        if isinstance(cp, str):
            cp = {"from": cp, "to": cp}
        to = str(cp.get("to", ""))
        if not to:
            raise ValueError("splunk copy_fields: copies to the root are not allowed")
        if to == "event" or to.startswith("event."):
            raise ValueError(
                "splunk copy_fields: copies to the `event` field or any"
                " of its subfields are not allowed"
            )
        copies.append((str(cp.get("from", "")).split("."), to.split(".")))

    def dig(d: Any, path: list[str]):
        for p in path:
            if not isinstance(d, dict) or p not in d:
                return None
            d = d[p]
        return d

    def put(d: dict, path: list[str], value: Any) -> None:
        for p in path[:-1]:
            nxt = d.get(p)
            if not isinstance(nxt, dict):
                nxt = {}
                d[p] = nxt
            d = nxt
        d[path[-1]] = value

    def encode(docs: list[dict]) -> list[str]:
        out = []
        for d in docs:
            env: dict[str, Any] = {"event": d}
            for from_path, to_path in copies:
                v = dig(d, from_path)
                if v is not None:
                    put(env, to_path, v)
            out.append(json.dumps(env, default=str))
        return ["\n".join(out)]

    _http_batch_sink(df, cfg, encode)


# gzip_compression_level options (http.go:84) -> zlib levels; the Go
# zero value "no" is zlib level 0, "default" is Go's gzip.DefaultCompression
_GZIP_LEVELS = {
    "default": -1,
    "no": 0,
    "best-speed": 1,
    "best-compression": 9,
    "huffman-only": None,  # strategy switch, not a level
}


def _gzip_payload(payload: str, level_name: str) -> bytes:
    import zlib

    if level_name not in _GZIP_LEVELS:
        raise ValueError(
            f"unknown gzip_compression_level {level_name!r}; supported: "
            + "|".join(_GZIP_LEVELS)
        )
    strategy = (
        zlib.Z_HUFFMAN_ONLY
        if level_name == "huffman-only"
        else zlib.Z_DEFAULT_STRATEGY
    )
    level = _GZIP_LEVELS[level_name]
    co = zlib.compressobj(
        -1 if level is None else level,
        zlib.DEFLATED,
        31,  # wbits 31 = gzip container
        strategy=strategy,
    )
    return co.compress(payload.encode("utf-8")) + co.flush()


def sink_http(df: DataFrame, cfg: dict[str, Any]):
    """Generic HTTP batch POST of NDJSON bodies
    (/root/reference/plugin/output/http/http.go:54).

    ``encoding`` (http.go:74, encoding.go): ``{type: json}`` (default)
    serializes the full event per line; ``{type: raw, params: {field}}``
    emits ONLY that field's JSON-encoded value per line — quotes
    included for strings, exactly the reference's node.Encode
    (http_test.go TestAppendEvent pins `"[INFO] some event"`), and an
    event missing the field contributes an EMPTY line (encoding.go:49
    returns buf[:0], http.go:348 still appends the newline).

    ``use_gzip`` + ``gzip_compression_level`` (http.go:79-84): the
    assembled body ships gzip-compressed (bytes) to the transport."""
    enc_cfg = cfg.get("encoding") or {}
    enc_type = enc_cfg.get("type") or "json"
    if enc_type not in ("json", "raw"):
        raise ValueError(
            f"unknown encoding type {enc_type!r}; supported: json, raw"
        )
    raw_field = (enc_cfg.get("params") or {}).get("field") or "message"
    use_gzip = bool(cfg.get("use_gzip", False))
    gzip_level = cfg.get("gzip_compression_level", "default") or "default"
    if use_gzip and gzip_level not in _GZIP_LEVELS:
        raise ValueError(
            f"unknown gzip_compression_level {gzip_level!r}; supported: "
            + "|".join(_GZIP_LEVELS)
        )

    def encode_doc(d: dict) -> str:
        if enc_type == "raw":
            # absent field == Dig miss -> empty line; a present null is
            # a JSON null node and encodes as the literal `null`
            if raw_field not in d:
                return ""
            return json.dumps(d[raw_field], default=str)
        return json.dumps(d, default=str)

    def encode(docs: list[dict]) -> list:
        body = "\n".join(encode_doc(d) for d in docs) + "\n"
        if use_gzip:
            return [_gzip_payload(body, gzip_level)]
        return [body]

    # byte cap measures what THIS encoder will emit per doc (+1 for its
    # newline) — with `encoding: raw` the full-doc default would
    # overcount and flush far too early
    _http_batch_sink(
        df, cfg, encode, sizer=lambda d: len(encode_doc(d)) + 1
    )


def sink_jdbc(df: DataFrame, cfg: dict[str, Any]):
    """postgres/clickhouse-over-JDBC writer.  Typed coercion happens in
    build_sink via the declared schema; ``unique`` columns dedup before
    write (the reference's ON CONFLICT DO NOTHING —
    /root/reference/plugin/output/postgres/postgres.go:121-137).
    Requires the JDBC driver jar on the classpath (not bundled here).

    ``transport`` (injectable, like the HTTP sinks): a callable
    ``transport(table, rows)`` receiving each partition's rows as
    dicts — the broker-less test seam for the db-e2e scenarios; it
    raises to signal insert failure (e.g. missing table), which the
    deadqueue wrapper in build_sink routes."""
    unique = cfg.get("unique") or []
    if unique:
        df = df.dropDuplicates(unique)
    transport = cfg.get("transport")
    if transport is not None:
        table = cfg["table"]
        batch_size = int(cfg.get("batch_size", 1000))

        def send_partition(rows):
            buf = []
            for row in rows:
                buf.append(row.asDict(recursive=True))
                if len(buf) >= batch_size:
                    transport(table, buf)
                    buf = []
            if buf:
                transport(table, buf)

        df.foreachPartition(send_partition)
        return
    (
        df.write.format("jdbc")
        .option("url", cfg["url"])
        .option("dbtable", cfg["table"])
        .options(**cfg.get("options", {}))
        .mode(cfg.get("mode", "append"))
        .save()
    )


def kafka_sink_options(cfg: dict[str, Any]) -> dict[str, str]:
    """file.d kafka output config -> Spark kafka writer options
    (/root/reference/plugin/output/kafka/kafka.go:53-170).  Batching
    (workers_count/batch_*) is Spark's job; delivery knobs map to the
    kafka producer client configs."""
    brokers = cfg.get("brokers", "localhost:9092")
    if isinstance(brokers, (list, tuple)):
        brokers = ",".join(brokers)
    ack = {"no": "0", "leader": "1", "all-isr": "all"}[cfg.get("ack", "leader")]
    opts = {
        "kafka.bootstrap.servers": brokers,
        "kafka.client.id": cfg.get("client_id", "file-d"),
        "kafka.acks": ack,
        "kafka.retries": str(int(cfg.get("retry", 10))),
        "kafka.max.request.size": str(int(cfg.get("max_message_bytes", 1000000))),
    }
    if cfg.get("compression", "none") != "none":
        opts["kafka.compression.type"] = cfg["compression"]
    from file_d_spark.kafka_security import kafka_security_options

    opts.update(kafka_security_options(cfg))
    if not cfg.get("use_topic_field"):
        opts["topic"] = cfg.get("default_topic", "events")
    return opts


def kafka_sink_frame(df: DataFrame, cfg: dict[str, Any]) -> DataFrame:
    """Shape events into the kafka wire frame: value = JSON of all
    event columns; with use_topic_field the per-event topic column
    routes each record (kafka.go:68-73), falling back to
    default_topic."""
    event_cols = [c for c in df.columns if not c.startswith("_")]
    out = [F.to_json(F.struct(*event_cols)).alias("value")]
    if cfg.get("use_topic_field"):
        topic_field = cfg.get("topic_field", "topic")
        src = (
            F.col(topic_field).cast("string")
            if topic_field in df.columns
            else F.lit(None).cast("string")
        )
        out.append(
            F.coalesce(src, F.lit(cfg.get("default_topic", "events"))).alias("topic")
        )
    return df.select(*out)


_S3_PATH_TEMPLATE = "s3a://{bucket}/{prefix}"


def sink_s3(df: DataFrame, cfg: dict[str, Any]):
    """S3 output with multi-bucket fan-out
    (/root/reference/plugin/output/s3/s3.go:28-90): events carrying
    ``bucket_field_event`` route to that bucket — configured
    ``multi_buckets`` are the static set, and any OTHER value becomes
    a DYNAMIC bucket created on demand (s3.go:418-452) until
    ``dynamic_buckets_limit`` (default 32, s3.go:229) distinct dynamic
    buckets exist; past the limit events fall back to the default
    ``bucket`` (the reference's CanCreate warning path).  The
    reference admits dynamic buckets in arrival order (racy across
    workers); here the admitted set is the lexicographically smallest
    ``limit`` names — deterministic under any partitioning, same cap
    semantics (documented divergence).  Each bucket is one filtered
    write; the dynamic-name discovery is a TakeOrdered over the
    distinct value frame (bounded by limit+static, never data-sized).
    Credentials/endpoints map to hadoop s3a conf outside this
    function; ``path_template`` (default ``s3a://{bucket}/{prefix}``)
    makes the layout testable against local paths."""
    bucket = cfg.get("bucket")
    if not bucket:
        # plain s3a:// path config — same writer as the file sink
        sink_file(df, cfg)
        return
    template = cfg.get("path_template", _S3_PATH_TEMPLATE)
    prefix = cfg.get("file_name", "logs")
    field = cfg.get("bucket_field_event")
    multi = [m["bucket"] if isinstance(m, dict) else m
             for m in cfg.get("multi_buckets", [])]
    overlap = set(multi) & {bucket}
    if overlap:
        raise ValueError(f"bucket names can't intersect: {sorted(overlap)}")
    base = {k: v for k, v in cfg.items()
            if k in ("format", "compression", "compression_type",
                     "partition_by", "mode", "file_name")}
    if not field or field not in df.columns:
        sink_file(df, {**base, "path": template.format(bucket=bucket, prefix=prefix)})
        return
    dyn_limit = int(cfg.get("dynamic_buckets_limit", 32))
    known = set(multi) | {bucket}
    # persist BEFORE discovery so the distinct-name collect materializes
    # the cache the per-bucket writes then reuse — otherwise an expensive
    # upstream lineage runs once for discovery and again for the writes
    df = df.persist()
    try:
        dynamic = [
            r[0]
            for r in (
                df.select(F.col(field).cast("string").alias("__b__"))
                .filter(
                    F.col("__b__").isNotNull()
                    & ~F.col("__b__").isin(list(known))
                )
                .distinct()
                .orderBy("__b__")
                .limit(max(dyn_limit, 0))
                .collect()
            )
        ]
        targets = [*multi, *dynamic]
        route = (
            F.when(F.col(field).isin(targets), F.col(field))
            .otherwise(F.lit(bucket))
            if targets
            else F.lit(bucket)
        )
        routed = df.withColumn("__bucket__", route)
        for b in [bucket, *targets]:
            part = routed.filter(F.col("__bucket__") == b).drop("__bucket__")
            sink_file(
                part, {**base, "path": template.format(bucket=b, prefix=prefix)}
            )
    finally:
        df.unpersist()


#: outputs a stream writes with Spark's own streaming sink
_NATIVE_STREAM_SINKS = ("file", "kafka", "stdout", "devnull")


SINKS: dict[str, Callable[[DataFrame, dict[str, Any]], Any]] = {
    "file": sink_file,
    "s3": sink_s3,
    "stdout": sink_stdout,
    "devnull": sink_devnull,
    "elasticsearch": sink_elasticsearch,
    "loki": sink_loki,
    "gelf": sink_gelf,
    "splunk": sink_splunk,
    "http": sink_http,
    "postgres": sink_jdbc,
    "clickhouse": sink_jdbc,
    "socket": sink_socket,
}


def build_stream_sink(
    df: DataFrame,
    plan,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Streaming sink: Spark's own writers for file/kafka/stdout/devnull;
    every other output writes each micro-batch through :func:`build_sink`,
    so a stream gets the batch path's coercion, retries and nested
    ``deadqueue`` output.  Returns the started StreamingQuery."""
    cfg = plan.output
    typ = cfg.get("type", "devnull")
    if typ in _NATIVE_STREAM_SINKS:
        df = _coerce(df, typ, cfg)
        if typ == "kafka":
            df = kafka_sink_frame(df, cfg)
    elif typ not in SINKS:
        raise ValueError(f"unsupported streaming output type: {typ!r}")

    writer = df.writeStream.outputMode(cfg.get("output_mode", "append"))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif "processing_time" in cfg:
        writer = writer.trigger(processingTime=cfg["processing_time"])

    if typ == "file":
        for key in ("retention_interval", "compression_type"):
            # Spark's file sink names its own part files and lists each
            # one in _spark_metadata, which readers trust
            if key in cfg:
                raise ValueError(f"stream file output: {key!r} is batch-only")
        writer = writer.format(cfg.get("format", "json")).option(
            "path", cfg.get("path") or cfg.get("target_file")
        )
        if cfg.get("compression"):
            writer = writer.option("compression", cfg["compression"])
        if cfg.get("partition_by"):
            writer = writer.partitionBy(*cfg["partition_by"])
    elif typ == "kafka":
        writer = writer.format("kafka").options(**kafka_sink_options(cfg))
    elif typ == "stdout":
        writer = writer.format("console")
    elif typ == "devnull":
        writer = writer.format("noop")
    else:
        deadqueue = cfg.get("deadqueue")
        if deadqueue and deadqueue.get("type") == "file":
            # every failing micro-batch adds to a file deadqueue
            # instead of overwriting the previous one
            cfg = {**cfg, "deadqueue": {"mode": "append", **deadqueue}}

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            out = _batch_dir(cfg, batch_id) if typ == "s3" else cfg
            build_sink(batch_df, dataclasses.replace(plan, output=out))

        writer = writer.foreachBatch(write_batch)
    return writer.start()


def _batch_dir(cfg: dict[str, Any], batch_id: int) -> dict[str, Any]:
    """A file-writing output's config for one micro-batch: its files
    go to a directory named after the batch id, in overwrite mode, so
    a micro-batch that runs again after a crash replaces only its own
    files (Structured Streaming's idempotent-sink pattern)."""
    out = {**cfg, "mode": "overwrite"}
    if cfg.get("bucket"):
        template = cfg.get("path_template", _S3_PATH_TEMPLATE)
        out["path_template"] = f"{template}/{batch_id}"
    else:
        key = "target_file" if "target_file" in cfg else "path"
        out[key] = f"{cfg[key]}/{batch_id}"
    return out


def _coerce(df: DataFrame, typ: str, cfg: dict[str, Any]) -> DataFrame:
    """Cast the events to the output's declared column types."""
    if typ == "clickhouse" and cfg.get("columns"):
        # native CH column types (Enum/IPv4-6/DateTime64/...) —
        # clickhouse.go:213-252 strict_types semantics
        from file_d_spark.sinks.clickhouse_types import coerce_clickhouse

        df = coerce_clickhouse(
            df, cfg["columns"], strict=bool(cfg.get("strict_types", False))
        )
    schema_ddl = cfg.get("schema")
    if schema_ddl:
        schema = T.StructType.fromDDL(schema_ddl)
        df = coerce_to_schema(df, schema, strict=bool(cfg.get("strict_fields", False) or cfg.get("strict", False)))
    return df


def _write_one(df: DataFrame, typ: str, cfg: dict[str, Any]) -> Any:
    return SINKS[typ](_coerce(df, typ, cfg), cfg)


def build_sink(df: DataFrame, plan) -> Any:
    """Batch write with the reference's output deadqueue semantics
    (e2e/file_clickhouse/config.yml, fd/file.d.go:260-290): the main
    output gets ``retry``+1 attempts; a still-failing batch routes the
    ORIGINAL events to the nested ``deadqueue`` output config (its own
    type/columns/coercion) instead of poisoning the job."""
    cfg = dict(plan.output)
    typ = cfg.pop("type", "devnull")
    if typ not in SINKS:
        raise ValueError(f"unsupported output type: {typ!r}; known {sorted(SINKS)}")
    deadqueue = cfg.pop("deadqueue", None)
    if deadqueue is None:
        return _write_one(df, typ, cfg)
    # a configured deadqueue disables fatal exits and in-sink retries
    # (elasticsearch.go:276: IsDeadQueueAvailable gates FatalLevel);
    # this wrapper owns the retry loop instead
    cfg["_deadqueue_available"] = True
    if typ == "elasticsearch":
        # keep the ES plugin's retry default (10, elasticsearch.go:170)
        # when the wrapper takes over — the generic default of 0 would
        # silently drop ES from 11 attempts to 1 just because a
        # deadqueue was configured
        cfg.setdefault("retry", 10)
    # retry semantics match the reference: retry == number of retries
    # AFTER the first attempt; retry: 0 -> one attempt then deadqueue
    attempts = int(cfg.get("retry", 0)) + 1
    # the frame feeds up to attempts+1 actions: keep the lineage warm
    df = df.persist()
    try:
        last_err = None
        for _ in range(attempts):
            try:
                return _write_one(df, typ, cfg)
            except Exception as e:  # noqa: BLE001
                last_err = e
        dq_cfg = dict(deadqueue)
        dq_typ = dq_cfg.pop("type", "devnull")
        if dq_typ not in SINKS:
            raise ValueError(
                f"unsupported deadqueue type: {dq_typ!r}"
            ) from last_err
        return _write_one(df, dq_typ, dq_cfg)
    finally:
        df.unpersist()
