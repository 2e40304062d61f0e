"""One measured benchmark process: set up, run the timed region, check
the outputs, and write a result file.

``run.py`` launches this file as a fresh process per run, so set-up
(imports, JVM launch, config parse, plan build, warm-up) is measured
from the moment the process was spawned.  Usage (internal):

    python3 fdbench/worker.py '<json spec>'
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from tracing import Tracer, catalyst_phases, exec_metrics, read_event_log, rss_after_gc  # noqa: E402

MIN_TIMED_PASSES = 3
# the first registry pass is cold (~3x a warm one); later passes keep
# getting faster for a few more (README, NOISE-5), but more untimed
# passes do not fit the time budget
REGISTRY_WARMUP_PASSES = 2
# registry rows and the tables each reads: one row per ROADMAP item the
# workload serves (see README)
REGISTRY_ROWS = {
    "sketch_overlap": ["documents"],
    "throttle_modes": ["events"],
    "sketch_suite": ["documents"],
}


def noop_save(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def job_group(spark, tracer: Tracer, name: str) -> None:
    """Tag the following jobs for event-log attribution (traced runs only)."""
    if tracer.enabled:
        spark.sparkContext.setJobGroup(name, name)


# ---------------------------------------------------------------------------
# etl_json_actions
# ---------------------------------------------------------------------------


def etl_config(input_dir: str, actions: list[dict]) -> dict:
    return {
        "settings": {"decoder": "json", "decoder_params": {"schema": gen.ETL_SCHEMA}},
        "input": {"type": "file", "path": input_dir},
        "actions": actions,
    }


def etl_checksum(df) -> tuple[int, int]:
    """(rows, order-independent crc32 sum) of the chain's output."""
    from pyspark.sql import functions as F

    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in gen.ETL_OUT_FIELDS]
    row = df.select(F.crc32(F.concat_ws("\x1f", *cols)).alias("c")).agg(
        F.count(F.lit(1)), F.sum("c")
    ).collect()[0]
    return int(row[0]), int(row[1] or 0) & gen.MASK


def check_etl(got: tuple[int, int], facts: dict) -> bool:
    return got == (facts["kept"], facts["checksum"])


def run_etl(spark, spec: dict, tracer: Tracer) -> dict:
    from file_d_spark import Pipeline

    facts = spec["facts"]
    with tracer.span("Pipeline.from_dict"):
        p = Pipeline.from_dict(etl_config(spec["input"], gen.ETL_ACTIONS))
    with tracer.span("run_batch"):
        df = p.run_batch(spark)
    job_group(spark, tracer, "warmup")
    with tracer.span("save"):
        noop_save(df)
    ready = time.time()

    job_group(spark, tracer, "timed")
    passes = []
    while len(passes) < MIN_TIMED_PASSES or time.time() < ready + spec["seconds"]:
        passes += timed_saves(df, tracer, 1)
    rss = rss_after_gc(spark)
    job_group(spark, tracer, "check")
    ok = check_etl(etl_checksum(df), facts)
    p50 = statistics.median(passes)
    res = {
        "ready": ready,
        "rss_parts_mb": rss,
        "units": len(passes),
        "attempted": len(passes),
        "failed": 0 if ok else len(passes),
        "metrics": {"events_per_s": facts["events"] / p50, "trigger_p50_s": p50},
    }
    if tracer.enabled:
        res.update(etl_layers(spark, spec, tracer, p, p50))
        # the registry rows are operations of the traced run too
        res["attempted"] += res["row_units"] * len(REGISTRY_ROWS)
        res["failed"] += res["row_units"] * len(res["bad_rows"])
    return res


def timed_saves(df, tracer: Tracer, n: int) -> list[float]:
    out = []
    for _ in range(n):
        with tracer.span("save"):
            t0 = time.perf_counter()
            noop_save(df)
            out.append(time.perf_counter() - t0)
    return out


def etl_layers(spark, spec: dict, tracer: Tracer, pipeline, p50: float) -> dict:
    """The traced ETL run's extras: engine and Catalyst times, the
    decode-only leg, and the registry rows (the functions + queries
    layer, which no declared workload runs)."""
    from file_d_spark import Pipeline

    events = spec["facts"]["events"]
    layers = {
        "engine.parse_s": tracer.total("Pipeline.from_dict"),
        "engine.build_s": tracer.total("run_batch"),
        "engine.py4j_calls": tracer.total("Pipeline.from_dict", "py4j_calls")
        + tracer.total("run_batch", "py4j_calls"),
        "sources.input_bytes": sum(
            os.path.getsize(os.path.join(spec["input"], f)) for f in os.listdir(spec["input"]) if not f.startswith("_")
        ),
    }
    ph = catalyst_phases(pipeline.run_batch(spark))
    layers.update({f"catalyst.{k}_s": v for k, v in ph.items()})
    # decode leg alone: files -> json -> devnull, no actions
    decode_df = Pipeline.from_dict(etl_config(spec["input"], [])).run_batch(spark)
    job_group(spark, tracer, "decode")
    noop_save(decode_df)
    d50 = statistics.median(timed_saves(decode_df, tracer, MIN_TIMED_PASSES))
    layers["decode.events_per_s"] = events / d50
    layers["actions.s_per_mevent"] = (p50 - d50) / (events / 1e6)

    _, _, row_passes = run_rows(spark, spec["registry_input"], tracer, 0)
    job_group(spark, tracer, "check")
    bad = check_rows(spark, spec["registry_input"])
    rows, groups = row_layers(tracer)
    layers.update(rows)
    return {
        "layers": layers,
        "bad_rows": bad,
        "row_units": row_passes,
        "layer_groups": dict(groups, timed=lambda g: g == "timed"),
    }


def etl_single_core_rate(spark_factory, spec: dict) -> float:
    """Events/s of one full pass at local[1] (traced run only)."""
    from file_d_spark import Pipeline

    spark = spark_factory(1)
    df = Pipeline.from_dict(etl_config(spec["input"], gen.ETL_ACTIONS)).run_batch(spark)
    t0 = time.perf_counter()
    noop_save(df)
    return spec["facts"]["events"] / (time.perf_counter() - t0)


# ---------------------------------------------------------------------------
# stream_join
# ---------------------------------------------------------------------------


def stream_config(input_dir: str, out_dir: str) -> dict:
    return {
        "settings": {"decoder": "json", "decoder_params": {"schema": gen.STREAM_SCHEMA}},
        "input": {"type": "file", "path": input_dir, "max_files_per_trigger": 1},
        "actions": gen.stream_actions(),
        "output": {"type": "file", "format": "json", "path": out_dir},
    }


def read_file_sink(out_dir: str) -> tuple[list[dict], int, int]:
    """Rows of every file the sink committed (per its _spark_metadata
    log), plus the file count and bytes."""
    meta = os.path.join(out_dir, "_spark_metadata")
    files = set()
    for name in os.listdir(meta):
        if name.startswith("."):
            continue
        with open(os.path.join(meta, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                if entry.get("action", "add") == "add":
                    files.add(entry["path"])
    rows, nbytes = [], 0
    for uri in sorted(files):
        path = uri[len("file:"):] if uri.startswith("file:") else uri
        with open(path) as fh:
            data = fh.read()
        nbytes += len(data)
        rows.extend(json.loads(x) for x in data.splitlines() if x.strip())
    return rows, len(files), nbytes


def check_stream(rows: list[dict], facts: dict) -> bool:
    keys = {(r["source_id"], r["seq"]) for r in rows}
    n, digest = gen.stream_expected_digest(rows)
    return len(keys) == len(rows) and (n, digest) == (facts["joined"], facts["digest"])


def _progress_listener(progress: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def _ts(progress) -> float:
    import datetime as dt

    return dt.datetime.strptime(progress.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def run_stream(spark, spec: dict, tracer: Tracer) -> dict:
    from file_d_spark import Pipeline

    facts = spec["facts"]
    out_dir = os.path.join(spec["work"], "sink")
    progress: list = []
    spark.streams.addListener(_progress_listener(progress))
    with tracer.span("Pipeline.from_dict"):
        p = Pipeline.from_dict(stream_config(spec["input"], out_dir))
    with tracer.span("stream"):
        with tracer.span("run_stream"):
            q = p.run_stream(spark, checkpoint_dir=os.path.join(spec["work"], "ckpt"),
                             trigger_available_now=False)
        deadline = time.time() + 150
        data = []
        while len(data) < facts["files"]:
            if q.exception() is not None or time.time() > deadline:
                raise RuntimeError(f"stream stalled after {len(data)} triggers: {q.exception()}")
            time.sleep(0.02)
            data = [x for x in list(progress) if x.numInputRows > 0]
        rss = rss_after_gc(spark)
        q.stop()
    timed = data[gen.STREAM_WARMUP_TRIGGERS:]
    dur = [x.durationMs["triggerExecution"] / 1000.0 for x in timed]
    start = _ts(timed[0])
    wall = _ts(timed[-1]) + dur[-1] - start
    events = sum(x.numInputRows for x in timed)
    rows, n_files, n_bytes = read_file_sink(out_dir)
    ok = check_stream(rows, facts)
    res = {
        "ready": start,
        "rss_parts_mb": rss,
        "units": len(timed),
        "attempted": len(timed),
        "failed": 0 if ok else len(timed),
        "metrics": {"events_per_s": events / wall, "trigger_p50_s": statistics.median(dur)},
    }
    if tracer.enabled:
        for x in data:
            tracer.add("trigger", _ts(x), _ts(x) + x.durationMs["triggerExecution"] / 1000.0,
                       parent=tracer.last("stream")["id"])

        def med(key):
            return statistics.median(x.durationMs.get(key, 0) / 1000.0 for x in timed)

        def state_med(attr):
            return statistics.median(sum(getattr(op, attr) for op in x.stateOperators) for x in timed)

        layers = {
            "engine.parse_s": tracer.total("Pipeline.from_dict"),
            "engine.build_s": tracer.total("run_stream"),
            "engine.py4j_calls": tracer.total("Pipeline.from_dict", "py4j_calls")
            + tracer.total("run_stream", "py4j_calls"),
            "sources.input_bytes": sum(os.path.getsize(os.path.join(spec["input"], f))
                                       for f in os.listdir(spec["input"]) if not f.startswith("_")),
            "streaming.triggers": len(timed),
            "streaming.latest_offset_s": med("latestOffset"),
            "streaming.get_batch_s": med("getBatch"),
            "streaming.add_batch_s": med("addBatch"),
            "streaming.query_planning_s": med("queryPlanning"),
            "streaming.wal_commit_s": med("walCommit"),
            "streaming.commit_offsets_s": med("commitOffsets"),
            "state.rows_total": state_med("numRowsTotal"),
            "state.memory_bytes": state_med("memoryUsedBytes"),
            "state.commit_s": state_med("commitTimeMs") / 1000.0,
            "state.update_s": state_med("allUpdatesTimeMs") / 1000.0,
            # every input row enters the pandas-with-state join first
            "python.rows_sent": events / len(timed),
            "sink.files_written": n_files,
            "sink.bytes": n_bytes,
        }
        first_timed = timed[0].batchId
        res["layers"] = layers
        res["layer_groups"] = {
            "timed": lambda g: g.startswith("batch:") and int(g.split(":")[1]) >= first_timed
        }
    return res


# ---------------------------------------------------------------------------
# registry_mix
# ---------------------------------------------------------------------------


def frame_digest(pdf) -> str:
    """Order-independent digest of a result frame: values rendered as
    text (floats to 9 significant digits, NULL as \\N), rows sorted."""
    import hashlib
    import math

    import pandas as pd

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
            return "\\N"
        if isinstance(v, float):
            return f"{v:.9g}"
        if hasattr(v, "isoformat"):
            return pd.Timestamp(v).strftime("%Y-%m-%d %H:%M:%S.%f")
        if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
            return "[" + ",".join(cell(x) for x in list(v)) + "]"
        return str(v)

    cols = list(pdf.columns)
    lines = sorted("\x1f".join(cell(v) for v in row) for row in pdf.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for line in lines:
        h.update(line.encode() + b"\n")
    return f"{len(lines)}:{h.hexdigest()}"


def registry_oracle_digests(sf_dir: str, names) -> dict[str, str]:
    import duckdb

    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return {n: frame_digest(con.sql(oracles[n]).df()) for n in names}


def run_rows(spark, sf_dir: str, tracer: Tracer, seconds: float) -> tuple[float, dict[str, list[float]], int]:
    """Warm up, then time passes over REGISTRY_ROWS until ``seconds``
    have passed (at least MIN_TIMED_PASSES).  Returns (ready time, row
    -> pass times, passes).  Traced runs tag each row's jobs
    "rows:<name>" for the event log."""
    from file_d_spark.queries import QUERIES, release_caches

    def one(name: str, group: str) -> float:
        job_group(spark, tracer, group)
        t0 = time.perf_counter()
        with tracer.span("query_build:" + name):
            df = QUERIES[name](spark, sf_dir)
        with tracer.span("query_exec:" + name):
            noop_save(df)
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        release_caches()
        return dt

    for _ in range(REGISTRY_WARMUP_PASSES):
        for name in REGISTRY_ROWS:
            one(name, "warmup")
    ready = time.time()
    times: dict[str, list[float]] = {n: [] for n in REGISTRY_ROWS}
    passes = 0
    while passes < MIN_TIMED_PASSES or time.time() < ready + seconds:
        for name in REGISTRY_ROWS:
            times[name].append(one(name, f"rows:{name}"))
        passes += 1
    return ready, times, passes


def check_rows(spark, sf_dir: str) -> list[str]:
    """Rows whose result is not hash-equal to its DuckDB oracle."""
    from file_d_spark.queries import QUERIES, release_caches

    want = registry_oracle_digests(sf_dir, REGISTRY_ROWS)
    bad = []
    for name in REGISTRY_ROWS:
        if frame_digest(QUERIES[name](spark, sf_dir).toPandas()) != want[name]:
            bad.append(name)
        spark.catalog.clearCache()
        release_caches()
    return bad


def row_layers(tracer: Tracer) -> tuple[dict[str, float], dict]:
    """Per-row build/exec medians and py4j trips from the spans, plus
    the event-log job-group predicate of each row."""
    spans = tracer.finished()
    layers, groups = {}, {}
    for name in REGISTRY_ROWS:
        build = [s for s in spans if s["name"] == "query_build:" + name]
        execs = [s for s in spans if s["name"] == "query_exec:" + name]
        layers[f"row.{name}.build_s"] = statistics.median(s["dur"] for s in build)
        layers[f"row.{name}.py4j_calls"] = build[-1]["py4j_calls"]
        layers[f"row.{name}.exec_s"] = statistics.median(s["dur"] for s in execs)
        groups[name] = (lambda n: lambda g: g == f"rows:{n}")(name)
    return layers, groups


def run_registry(spark, spec: dict, tracer: Tracer) -> dict:
    """Registered rows back to back (not declared in BENCHMARK.json; run
    by hand for registry A/Bs, see README)."""
    sf_dir = spec["input"]
    ready, times, passes = run_rows(spark, sf_dir, tracer, spec["seconds"])
    suite = sum(statistics.median(v) for v in times.values())
    rss = rss_after_gc(spark)
    job_group(spark, tracer, "check")
    bad = check_rows(spark, sf_dir)
    input_rows = sum(spec["facts"][t] for tables in REGISTRY_ROWS.values() for t in tables)
    res = {
        "ready": ready,
        "rss_parts_mb": rss,
        "units": passes,
        "attempted": passes * len(REGISTRY_ROWS),
        "failed": passes * len(bad),
        "bad_rows": bad,
        "row_times": times,
        "metrics": {"events_per_s": input_rows / suite, "trigger_p50_s": suite},
    }
    if tracer.enabled:
        layers, groups = row_layers(tracer)
        layers["engine.build_s"] = sum(layers[f"row.{n}.build_s"] for n in REGISTRY_ROWS)
        layers["engine.py4j_calls"] = sum(layers[f"row.{n}.py4j_calls"] for n in REGISTRY_ROWS)
        res["layers"] = layers
        res["row_units"] = passes
        res["layer_groups"] = dict(groups, timed=lambda g: g.startswith("rows:"))
    return res


WORKLOADS = {
    "etl_json_actions": run_etl,
    "stream_join": run_stream,
    "registry_mix": run_registry,
}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main() -> None:
    spec = json.loads(sys.argv[1])
    tracer = Tracer(spec["trace"], f"{spec['workload']}-{spec['seed']}")
    if tracer.enabled:
        tracer.count_py4j()
    with tracer.span("import"):
        from file_d_spark import get_spark

    def spark_factory(cpus: int):
        with tracer.span("get_spark"):
            s = get_spark(f"fdbench-{spec['workload']}", cpus=cpus)
        s.sparkContext.setLogLevel("ERROR")
        return s

    spark = spark_factory(spec["cpus"])
    app_id = spark.sparkContext.applicationId
    res = WORKLOADS[spec["workload"]](spark, spec, tracer)
    res["setup_s"] = res.pop("ready") - spec["t_launch"]
    res["worker_s"] = time.time() - spec["t_launch"]
    res["rss_after_gc_mb"] = sum(res["rss_parts_mb"].values())
    groups = res.pop("layer_groups", None)
    spark.stop()
    if tracer.enabled:
        layers = res["layers"]
        layers["session.start_s"] = tracer.total("get_spark")
        events = read_event_log(spec["event_log"], app_id)
        layers.update(exec_metrics(events, groups["timed"], res["units"]))
        for name in REGISTRY_ROWS:
            if name in groups:
                m = exec_metrics(events, groups[name], res["row_units"])
                for k in ("stages", "tasks", "shuffle_write_bytes", "empty_task_share"):
                    layers[f"row.{name}.{k}"] = m[f"exec.{k}"]
        if spec["workload"] == "etl_json_actions":
            single = etl_single_core_rate(spark_factory, spec)
            layers["exec.parallel_efficiency"] = res["metrics"]["events_per_s"] / (spec["cpus"] * single)
        spans = tracer.finished()
        for s in spans:
            key = "span." + s["name"].split(":")[0] + ".self_s"
            layers[key] = layers.get(key, 0.0) + s["self"]
        layers["trace.spans"] = len(spans)
        layers["trace.py4j_calls"] = tracer.py4j_calls
        res["spans"] = spans
    with open(spec["out"], "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main()
