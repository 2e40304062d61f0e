"""Seeded input generators for the benchmark, in plain Python (no Spark).

Each generator writes its inputs under a cache directory keyed by
(workload, seed, size, GEN_VERSION) and returns the expected-output
facts it computed itself, independently of the engine under test.  The
same seed gives byte-identical files, and for the stream the same file
mtime order.  Inputs are made before any clock starts; a second call
with the same key reuses the cached files.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import zlib

GEN_VERSION = 2
MASK = (1 << 64) - 1
KEEP_CACHED = 2  # input sets kept per workload; older ones are evicted

# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------


def cached(cache_root: str, name: str, seed: int, size: dict, build) -> tuple[str, dict]:
    """Return (dir, facts) for one input set, building it once.  ``build``
    writes into a temp dir and returns the facts; the rename makes the
    cache entry appear atomically."""
    key = "-".join([name, f"s{seed}", f"v{GEN_VERSION}"] + [f"{k}{v}" for k, v in sorted(size.items())])
    path = os.path.join(cache_root, key)
    facts_path = os.path.join(path, "_FACTS.json")
    if os.path.exists(facts_path):
        with open(facts_path) as fh:
            return path, json.load(fh)
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    facts = build(tmp, random.Random(f"{name}:{seed}"), **size)
    with open(os.path.join(tmp, "_FACTS.json"), "w") as fh:
        json.dump(facts, fh, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    siblings = [os.path.join(cache_root, d) for d in os.listdir(cache_root) if d.startswith(name + "-s")]
    for old in sorted(siblings, key=os.path.getmtime)[:-KEEP_CACHED]:
        shutil.rmtree(old, ignore_errors=True)
    return path, facts


def row_crc(values) -> int:
    """crc32 of the fields joined by U+001F, NULL written as \\N — the
    same canonical form the engine side computes with crc32/concat_ws."""
    return zlib.crc32("\x1f".join("\\N" if v is None else str(v) for v in values).encode())


# ---------------------------------------------------------------------------
# etl_json_actions: JSONL app logs through a stateless action chain
# ---------------------------------------------------------------------------

ETL_SCHEMA = (
    "ts string, level string, service string, pod string, "
    "message string, payload string, trace_id string"
)
ETL_LEVELS = ["info", "INFO", "warn", "error", "debug", "notice", "crit", "informational"]
ETL_LEVEL_NAMES = {
    "info": "informational", "informational": "informational", "warn": "warning",
    "error": "error", "notice": "notice", "crit": "critical",
}
ETL_IP_RE = r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+"
ETL_OUT_FIELDS = ["ts", "level", "svc", "message", "route", "id", "code"]

ETL_ACTIONS = [
    {"type": "discard", "do_if": {"op": "equal", "field": "level", "values": ["debug"]}},
    {
        "type": "mask",
        "process_fields": ["message"],
        "masks": [{"re": ETL_IP_RE, "groups": [0], "replace_word": "<ip>"}],
    },
    {"type": "modify", "route": "${service}/${level}"},
    {"type": "convert_log_level", "field": "level", "style": "string"},
    {"type": "json_extract", "field": "payload", "extract_fields": ["user.id", "code"]},
    {"type": "rename", "service": "svc"},
    {"type": "keep_fields", "fields": ETL_OUT_FIELDS},
]

_PATHS = ["/api/v1/orders", "/api/v1/users", "/healthz", "/api/v2/search", "/static/app.js"]
_VERBS = ["GET", "POST", "PUT", "DELETE"]


def _etl_event(rng: random.Random, i: int) -> tuple[str, list | None]:
    """One input line and the action chain's output row for it (None
    when discarded), both built from the same drawn parts; plain
    string formatting keeps generation fast (every value is ASCII
    with no characters JSON would escape)."""
    ts = f"2024-03-{1 + i % 28:02d}T{i % 24:02d}:{i % 60:02d}:{(i * 7) % 60:02d}.{i % 1000000:06d}Z"
    level = ETL_LEVELS[rng.randrange(len(ETL_LEVELS))]
    service = f"svc-{min(int(rng.paretovariate(1.2)), 40)}"
    pod = f"pod-{rng.randrange(64)}-{rng.getrandbits(20):05x}"
    ip = f"{rng.getrandbits(8)}.{rng.getrandbits(8)}.{rng.getrandbits(8)}.{rng.getrandbits(8)}"
    head = f"{_VERBS[rng.randrange(4)]} {_PATHS[rng.randrange(5)]} from "
    tail = f" took {rng.randrange(1, 900)}ms"
    uid, code = rng.randrange(100000), (200, 200, 200, 404, 500)[rng.randrange(5)]
    payload = f'{{\\"user\\":{{\\"id\\":{uid}}},\\"code\\":{code}}}'
    line = (
        f'{{"ts":"{ts}","level":"{level}","service":"{service}","pod":"{pod}",'
        f'"message":"{head}{ip}{tail}","payload":"{payload}",'
        f'"trace_id":"{rng.getrandbits(64):016x}"}}'
    )
    if level == "debug":
        return line, None
    return line, [
        ts,
        ETL_LEVEL_NAMES.get(level.lower(), level),
        service,
        f"{head}<ip>{tail}",
        f"{service}/{level}",
        str(uid),
        str(code),
    ]


def etl_expected(ev: dict) -> list | None:
    """The action chain's output row for one decoded input event — the
    slow reference the fast generator is tested against."""
    if ev["level"] == "debug":
        return None
    payload = json.loads(ev["payload"])
    return [
        ev["ts"],
        ETL_LEVEL_NAMES.get(ev["level"].lower(), ev["level"]),
        ev["service"],
        re.sub(ETL_IP_RE, "<ip>", ev["message"]),
        f"{ev['service']}/{ev['level']}",
        str(payload["user"]["id"]),
        str(payload["code"]),
    ]


def build_etl(out: str, rng: random.Random, events: int, files: int) -> dict:
    kept = checksum = 0
    per_file = events // files
    for f in range(files):
        lines = []
        for j in range(per_file):
            line, row = _etl_event(rng, f * per_file + j)
            lines.append(line)
            if row is not None:
                kept += 1
                checksum += row_crc(row)
        with open(os.path.join(out, f"part-{f:04d}.json"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return {"events": per_file * files, "kept": kept, "checksum": checksum & MASK}


# ---------------------------------------------------------------------------
# stream_join: multi-source lines with multiline stack traces
# ---------------------------------------------------------------------------

STREAM_SCHEMA = "source_id int, seq long, time string, log string"
STREAM_WARMUP_TRIGGERS = 2  # untimed first triggers (one file each)
STREAM_START_RE = "^panic: "
STREAM_CONTINUE_RE = "^\\s"


def stream_actions() -> list[dict]:
    return [
        {
            "type": "join",
            "field": "log",
            "start": STREAM_START_RE,
            "continue": STREAM_CONTINUE_RE,
            "source_field": "source_id",
            "seq_field": "seq",
            # every block closes within a file or two; a long timeout
            # keeps processing-time flushes out of the measurement
            "event_timeout_ms": 600_000,
        },
        {"type": "modify", "route": "src-${source_id}"},
    ]


def stream_expected_digest(rows) -> tuple[int, int]:
    """(count, order-independent digest) over (source_id, seq, log, route)."""
    n = d = 0
    for r in rows:
        n += 1
        d = (d + row_crc((r["source_id"], r["seq"], r["log"], r["route"]))) & MASK
    return n, d


def build_stream(out: str, rng: random.Random, files: int, lines: int, sources: int) -> dict:
    """``files`` equal files of ``lines`` lines each.  About a fifth of
    the lines belong to multiline blocks (a ``panic:`` opener and
    tab-indented frames); blocks may span file boundaries.  Four hot
    sources carry half the traffic.  The last ``sources`` lines are one
    plain line per source, so every block is closed by the last file."""
    src_lines: dict[int, list[dict]] = {s: [] for s in range(sources)}
    remaining = {s: 0 for s in range(sources)}  # frames left in an open block
    seqs = [0] * sources
    body = files * lines - sources
    file_rows: list[list[dict]] = []
    cur: list[dict] = []
    for i in range(files * lines):
        if i < body:
            s = rng.randrange(4) if rng.random() < 0.5 else rng.randrange(sources)
            if remaining[s] > 0:
                log = f"\tat frame_{rng.randrange(10_000)}() line {rng.randrange(900)}"
                remaining[s] -= 1
            elif rng.random() < 0.05:
                log = f"panic: runtime error: index {rng.randrange(64)} out of range"
                remaining[s] = rng.randrange(2, 6)
            else:
                log = f"request {rng.getrandbits(32):08x} handled in {rng.randrange(1, 900)}ms"
        else:
            s = i - body
            log = f"shutdown source {s}"
            remaining[s] = 0
        rec = {
            "source_id": s,
            "seq": seqs[s],
            "time": f"2024-05-01T00:{(i // 60_000) % 60:02d}:{(i // 1000) % 60:02d}.{i % 1000:03d}Z",
            "log": log,
        }
        seqs[s] += 1
        src_lines[s].append(rec)
        cur.append(rec)
        if len(cur) == lines:
            file_rows.append(cur)
            cur = []
    # fixed mtimes, one second apart and in file order, so the file
    # source admits the files in order whatever the wall clock says
    base = 1_700_000_000
    for f, rows in enumerate(file_rows):
        path = os.path.join(out, f"f{f:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(json.dumps(r, separators=(",", ":")) for r in rows) + "\n")
        os.utime(path, (base + f, base + f))
    expected = []
    for s, recs in src_lines.items():
        open_row = None
        for rec in recs:
            if re.search(STREAM_START_RE, rec["log"]):
                if open_row is not None:
                    expected.append(open_row)
                open_row = dict(rec)
            elif open_row is not None and re.search(STREAM_CONTINUE_RE, rec["log"]):
                open_row["log"] += rec["log"]
            else:
                if open_row is not None:
                    expected.append(open_row)
                    open_row = None
                expected.append(dict(rec))
        assert open_row is None, "generator left a block open"
    for r in expected:
        r["route"] = f"src-{r['source_id']}"
    n, digest = stream_expected_digest(expected)
    return {"events": files * lines, "lines_per_file": lines, "files": files, "joined": n, "digest": digest}


# ---------------------------------------------------------------------------
# registry_mix: documents + events tables in the repository's testdata layout
# ---------------------------------------------------------------------------

_LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randrange(2, 9))))
    return sorted(words)


def build_registry(out: str, rng: random.Random, docs: int, events: int) -> dict:
    """``documents`` (doc_id, text, lang, source, n_chars) with ~10%
    near-duplicate texts, and ``events`` (event_id, ts, user_id,
    event_type, value, props), written as parquet with pyarrow."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    vocab = _vocab(rng, 3000)
    texts: list[str] = []
    for i in range(docs):
        if texts and rng.random() < 0.1:
            base = rng.choice(texts).split()
            base[rng.randrange(len(base))] = rng.choice(vocab)
            texts.append(" ".join(base))
        else:
            n = rng.randrange(8, 90)
            texts.append(" ".join(vocab[min(int(rng.paretovariate(0.8)), len(vocab)) - 1] for _ in range(n)))
    doc_tbl = pa.table(
        {
            "doc_id": pa.array(range(docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(docs)],
            "source": [f"src{i % 20}" for i in range(docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    t0 = dt.datetime(2024, 1, 1)
    ts = sorted(t0 + dt.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6)) for _ in range(events))
    ev_tbl = pa.table(
        {
            "event_id": pa.array(range(events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array([rng.randrange(150) for _ in range(events)], pa.int64()),
            "event_type": [rng.choice(_EVENT_TYPES) for _ in range(events)],
            "value": [round(rng.uniform(0.01, 490.0), 2) for _ in range(events)],
            "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(events)],
        }
    )
    pq.write_table(doc_tbl, os.path.join(out, "documents.parquet"))
    pq.write_table(ev_tbl, os.path.join(out, "events.parquet"))
    return {"documents": docs, "events": events}
