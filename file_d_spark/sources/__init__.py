"""Source builders (SURVEY.md §2.1).

Batch and streaming readers for the input plugin types.  file/kafka
map to Spark built-ins; http/socket get custom python datasources
(pyspark.sql.datasource) in streaming/; journalctl/dmesg are stubbed
(host-process readers have no distributed analogue worth building).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from file_d_spark.config import PipelinePlan
from file_d_spark.decoders import get_decoder


def apply_meta_templates(df: DataFrame, meta: dict[str, str]) -> DataFrame:
    """Input meta templates: ``field: "{{ .topic }}-{{ .partition }}"``
    rendered from source metadata columns
    (/root/reference/pipeline/metadata/templater.go:59-213) with
    template-to-template references resolved in dependency order,
    ``default`` pipes, ``index`` access and if/else — see
    sources/templater.py.  ``{{ .x }}`` references resolve to column
    ``_x`` (or ``x``) or a previously rendered template field."""
    from file_d_spark.sources.templater import compile_meta_templates

    for field, col in compile_meta_templates(meta or {}, df).items():
        df = df.withColumn(field, col)
    return df


def _decode_lines(
    df: DataFrame,
    plan: PipelinePlan,
    line_col: str = "value",
    meta_cols: list | None = None,
) -> DataFrame:
    """Apply the pipeline's decoder to raw text lines, producing the
    event columns + source metadata (reference: pipeline.In,
    pipeline/pipeline.go:488-543).  The
    ``max_event_size`` guard drops or cuts each raw line first."""
    from file_d_spark.engine import apply_input_guards

    df = apply_input_guards(df, plan, line_col)
    decoder = get_decoder(plan.settings.decoder)
    params = dict(plan.settings.decoder_params or {})
    params.setdefault("schema", plan.settings.extra.get("schema"))
    fm = decoder(F.col(line_col), params)
    # staged one-pass intermediates (decoders.py __pre__ contract);
    # the final select below omits them, so no explicit drop is needed
    for layer in fm.pop("__pre__", None) or []:
        df = df.withColumns(layer)
    out_cols = list(
        meta_cols if meta_cols is not None else [F.input_file_name().alias("_source_name")]
    )
    for name, col in fm.items():
        if name == "__struct__":
            tmp = df.select(col.alias("__s__"))
            for f in tmp.schema["__s__"].dataType.fields:
                out_cols.append(col.getField(f.name).alias(f.name))
        elif name == "__map__":
            out_cols.append(col.alias("event"))
        else:
            out_cols.append(col.alias(name))
    cut_flag = plan.settings.cut_off_event_by_limit_field
    if cut_flag in df.columns:
        out_cols.append(F.col(cut_flag))
    return df.select(*out_cols)


def kafka_source_options(
    cfg: dict, capacity: int | None = None, streaming: bool = False
) -> dict[str, str]:
    """file.d kafka input config -> Spark kafka reader options
    (/root/reference/plugin/input/kafka/kafka.go:77-214).

    Consumer-group coordination (consumer_group, balancer,
    auto_commit) is superseded by Spark's own offset tracking: the
    checkpoint/WAL IS the committed offset, so group.id is passed only
    for broker-side quota/ACL identity.

    ``capacity`` (the reference's bounded event pool,
    pipeline/event.go:246-290) maps onto maxOffsetsPerTrigger when
    streaming — per-trigger admission is Spark's backpressure; an
    explicit ``max_offsets_per_trigger`` in cfg wins."""
    from file_d_spark.xtime import parse_duration_s

    def _ms(duration) -> str:
        return str(round(parse_duration_s(duration) * 1000))

    brokers = cfg.get("brokers", "localhost:9092")
    if isinstance(brokers, (list, tuple)):
        brokers = ",".join(brokers)
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": ",".join(cfg.get("topics", [])),
        # offset: newest|oldest -> startingOffsets latest|earliest
        "startingOffsets": (
            "earliest" if cfg.get("offset", "newest") == "oldest" else "latest"
        ),
        "kafka.client.id": cfg.get("client_id", "file-d"),
        "kafka.group.id": cfg.get("consumer_group", "file-d"),
        "includeHeaders": "true",
        "kafka.fetch.max.bytes": str(int(cfg.get("fetch_max_bytes", 52428800))),
        "kafka.fetch.min.bytes": str(int(cfg.get("fetch_min_bytes", 1))),
        "kafka.fetch.max.wait.ms": _ms(cfg.get("consumer_max_wait_time", "250ms")),
        "kafka.session.timeout.ms": _ms(cfg.get("session_timeout", "10s")),
        "kafka.heartbeat.interval.ms": _ms(cfg.get("heartbeat_interval", "3s")),
    }
    from file_d_spark.kafka_security import kafka_security_options

    opts.update(kafka_security_options(cfg))
    if streaming:
        if cfg.get("max_offsets_per_trigger"):
            opts["maxOffsetsPerTrigger"] = str(int(cfg["max_offsets_per_trigger"]))
        elif capacity:
            opts["maxOffsetsPerTrigger"] = str(int(capacity))
    return opts


def decode_kafka_frame(df: DataFrame, plan: PipelinePlan) -> DataFrame:
    """Decode a kafka wire frame (key/value/topic/partition/offset/
    timestamp[/headers]) into event columns + the reference's meta
    columns (kafka.go meta templates: topic, partition, offset).
    Pure frame transform — contract-testable without a broker."""
    meta_cols = [
        F.col("topic").alias("_topic"),
        F.col("partition").alias("_partition"),
        F.col("offset").alias("_offset"),
    ]
    if "headers" in df.columns:
        # array<struct<key,value:binary>> -> map<string,string>
        meta_cols.append(
            F.map_from_entries(
                F.transform(
                    F.col("headers"),
                    lambda h: F.struct(
                        h["key"].alias("key"),
                        h["value"].cast("string").alias("value"),
                    ),
                )
            ).alias("_headers")
        )
    return _decode_lines(
        df.withColumn("value", F.col("value").cast("string")),
        plan,
        meta_cols=meta_cols,
    )


def _reads_source_name(plan: PipelinePlan) -> bool:
    """A file input's ``_source_name`` column is read by its meta
    templates and by any action keyed on it — the settings-level
    antispam keys on it unless ``source_name_meta_field`` is set."""
    from file_d_spark.engine import Pipeline

    return bool(plan.input.get("meta")) or any(
        a.get("source_field") == "_source_name" for a in Pipeline(plan).actions()
    )


def build_source(spark: SparkSession, plan: PipelinePlan, streaming: bool = False) -> DataFrame:
    cfg = dict(plan.input)
    typ = cfg.pop("type", "fake")
    meta = cfg.pop("meta", None)
    df = _build_source_inner(spark, plan, typ, cfg, streaming)
    if meta:
        df = apply_meta_templates(df, meta)
    return df



def join_cri_partials(
    df: DataFrame,
    group_cols: list[str],
    seq_col,
    split_event_size: int = 1_000_000,
) -> DataFrame:
    """Rejoin CRI 'P'-flagged partial chunks into whole events — the
    core of the reference k8s MultilineAction
    (/root/reference/plugin/input/k8s/multiline_action.go:66-210):
    docker splits long container lines into 16 KB chunks, every chunk
    but the last carrying the P flag; the joined event takes the LAST
    chunk's fields (the reference emits on the F chunk) with the
    concatenated log, and an accumulation that would exceed
    ``split_event_size`` splits into multiple events (the reference
    warns and splits; here the split point is the deterministic
    cumulative-length boundary).

    One window pass to derive the event group (running count of F
    flags over the per-stream sequence) + one grouped aggregation —
    both keyed by the container stream, so a hot pod parallelizes
    across streams and nothing is global.

    All three running quantities — the group id, the stream-cumulative
    log length, and the cumulative length at the END of the previous
    group — share one window spec (partition by stream, order by seq),
    so they evaluate in a SINGLE Sort + Window pass.  The per-group
    byte offset that decides the oversize split is their difference:
    ``bytes before this row within its group = cum_before_row -
    cum_at_prev_group_end`` (the running max of the stream-cumulative
    length over end rows, valid because the cumulative sum is
    monotone).  Deriving it this way instead of a second window
    partitioned by (stream, group id) removes a whole Sort + Window
    pass; the values are identical.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(seq_col)
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    is_end = ~F.coalesce(F.col("is_partial"), F.lit(False))
    grp = F.sum(is_end.cast("int")).over(w_prev)
    log_len = F.length(F.coalesce(F.col("log"), F.lit("")))
    cum = F.sum(log_len).over(w.rowsBetween(Window.unboundedPreceding, 0))
    # cum feeds the second window expression, so it must be named in a
    # separate projection (window functions cannot nest) — the stacked
    # Window operators still share the one sort
    staged = df.select(
        "*",
        F.coalesce(grp, F.lit(0)).alias("__grp__"),
        cum.alias("__cum__"),
    )
    prev_end_cum = F.max(F.when(is_end, F.col("__cum__"))).over(w_prev)
    sub = F.floor(
        (F.col("__cum__") - log_len - F.coalesce(prev_end_cum, F.lit(0)))
        / F.lit(int(split_event_size))
    )
    staged = (
        staged.withColumn("__sub__", sub)
        .drop("__cum__")
        .withColumn("__seq__", F.col(seq_col) if isinstance(seq_col, str) else seq_col)
    )
    others = [
        c for c in df.columns
        if c not in group_cols and c not in ("log", "is_partial")
        and c != seq_col
    ]
    joined = (
        staged.groupBy(*group_cols, "__grp__", "__sub__")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__seq__", F.col("log")))
                    ),
                    lambda s: s["log"],
                ),
                "",
            ).alias("log"),
            *[F.max_by(c, "__seq__").alias(c) for c in others],
            F.max_by("is_partial", "__seq__").alias("is_partial"),
            F.max("__seq__").alias("__seq__"),
        )
    )
    return joined.drop("__grp__", "__sub__", "__seq__")


def _build_source_inner(
    spark: SparkSession, plan: PipelinePlan, typ: str, cfg: dict, streaming: bool
) -> DataFrame:
    if typ == "file":
        paths = cfg.get("watching_dir") or cfg.get("path")
        glob = cfg.get("filename_pattern", "*")
        paths_cfg = cfg.get("paths") or {}
        exclude = list(paths_cfg.get("exclude", []))
        include = list(paths_cfg.get("include", []))
        if include and streaming:
            raise ValueError(
                "file input: paths.include is batch-only (the include"
                " list expands once, driver-side); streams take"
                " watching_dir + filename_pattern/dir_pattern plus"
                " paths.exclude"
            )
        if include and not streaming:
            # paths.include/exclude (file.go:73-74): full-path globs,
            # exclusion wins.  Batch scans expand driver-side (the
            # reference resolves against the local FS the same way)
            # and hand Spark the explicit file list.
            import fnmatch as _fn
            import glob as _glob

            files = sorted(
                {f for pat in include for f in _glob.glob(pat, recursive=True)}
            )
            files = [
                f for f in files
                if not any(_fn.fnmatch(f, pat) for pat in exclude)
            ]
            if not files:
                raise ValueError(
                    f"file input: paths.include matched no files: {include}"
                )
            paths = files
        if streaming and cfg.get("tail"):
            # byte-offset tailing (reference file-input semantics:
            # follow growing files, not just new ones)
            from file_d_spark.sources.tail_file import TailFileDataSource

            spark.dataSource.register(TailFileDataSource)
            reader = (
                spark.readStream.format("tail_file")
                .option("path", paths)
                .option("glob", glob)
            )
            if cfg.get("offsets_file"):
                # import a file.d deployment's offset DB for a drop-in
                # swap (plugin/input/file/offset.go format)
                reader = reader.option("offsets_file", cfg["offsets_file"])
            if cfg.get("offsets_op"):
                # continue|tail|reset (file.go:128)
                reader = reader.option("offsets_op", cfg["offsets_op"])
            if cfg.get("reset_dir"):
                # runtime offset resets between micro-batches
                # (resetter.go via TailResetter request files)
                reader = reader.option("reset_dir", cfg["reset_dir"])
            if exclude:
                reader = reader.option("exclude", json.dumps(exclude))
            if cfg.get("dir_pattern"):
                reader = reader.option("dir_pattern", cfg["dir_pattern"])
            df = reader.load()
            df = df.withColumnsRenamed({"file": "_source_name", "offset": "_offset"})
            return _decode_lines(
                df, plan, meta_cols=[F.col("_source_name"), F.col("_offset")]
            )
        reader = spark.readStream if streaming else spark.read
        if streaming:
            # backpressure: the reference bounds in-flight events with a
            # capacity'd event pool (pipeline/event.go:246-290); Spark's
            # analogue is per-trigger admission.  File sources admit by
            # files/bytes (explicit options); kafka maps capacity to
            # maxOffsetsPerTrigger below.
            if cfg.get("max_files_per_trigger"):
                reader = reader.option(
                    "maxFilesPerTrigger", int(cfg["max_files_per_trigger"])
                )
            if cfg.get("max_bytes_per_trigger"):
                reader = reader.option(
                    "maxBytesPerTrigger", str(cfg["max_bytes_per_trigger"])
                )
        decoder_name = plan.settings.decoder
        schema = (plan.settings.decoder_params or {}).get("schema") or plan.settings.extra.get("schema")
        if decoder_name == "json" and schema and not plan.settings.max_event_size:
            # native JSON datasource: decodes in the scan itself —
            # measurably faster than text + from_json (no intermediate
            # row), and Catalyst prunes unreferenced fields
            df = (
                reader.format("json")
                .schema(schema)
                .option("pathGlobFilter", glob)
                .option("recursiveFileLookup", "true")
                # a corrupt line nulls the whole row (not per-field
                # partial results) — matches the reference's whole-event
                # decode failure, and parses ~14% faster
                .option("enablePartialResults", "false")
                .load(paths)
            )
            # materialize _source_name only when something reads it:
            # an always-on filename string costs ~25% of the decode
            # throughput, and add_file_name falls back to
            # input_file_name() on its own
            if _reads_source_name(plan):
                df = df.withColumn("_source_name", F.input_file_name())
            return df
        df = (
            reader.format("text")
            .option("pathGlobFilter", glob)
            .option("recursiveFileLookup", "true")
            .load(paths)
        )
        # same throughput consideration as the json fast path: only
        # carry the filename column when something reads it
        meta_cols = None if _reads_source_name(plan) else []
        return _decode_lines(df, plan, meta_cols=meta_cols)
    if typ == "kafka":
        view = cfg.get("frame_view")
        if view:
            # injection seam for broker-less e2e replays: a temp view
            # holding exactly the wire-frame columns Spark's kafka
            # source yields (key/value/topic/partition/offset/
            # timestamp[/headers]); everything downstream — frame
            # decode, meta templates, actions — is the live path
            frame = (
                spark.readStream.table(view) if streaming else spark.table(view)
            )
            return decode_kafka_frame(frame, plan)
        reader = spark.readStream if streaming else spark.read
        r = reader.format("kafka")
        opts = kafka_source_options(
            cfg, capacity=plan.settings.capacity, streaming=streaming
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return decode_kafka_frame(r.load(), plan)
    if typ == "k8s":
        # file input + pod metadata from the k8s filename convention
        # [pod]_[namespace]_[container]-[id].log + a (small, broadcast)
        # pod-registry dimension for node/labels enrichment
        # (/root/reference/plugin/input/k8s/k8s.go:73)
        paths = cfg.get("watching_dir") or cfg.get("path")
        reader = spark.readStream if streaming else spark.read
        df = (
            reader.format("text")
            .option("pathGlobFilter", cfg.get("filename_pattern", "*.log"))
            .option("recursiveFileLookup", "true")
            .load(paths)
        )
        if plan.settings.decoder == "auto":
            # k8s input suggests the CRI decoder (pipeline.go:904-918)
            plan = PipelinePlan(
                plan.name,
                type(plan.settings)(**{**plan.settings.__dict__, "decoder": "cri"}),
                plan.input,
                plan.actions,
                plan.output,
            )
        decoded = _decode_lines(df, plan)
        fname = F.regexp_extract(F.col("_source_name"), r"([^/]+)\.log$", 1)
        k8s_re = r"^(.+)_(.+)_(.+)-([0-9a-f]{64})$"
        decoded = (
            decoded.withColumn("k8s_pod", F.regexp_extract(fname, k8s_re, 1))
            .withColumn("k8s_namespace", F.regexp_extract(fname, k8s_re, 2))
            .withColumn("k8s_container", F.regexp_extract(fname, k8s_re, 3))
            .withColumn("k8s_container_id", F.regexp_extract(fname, k8s_re, 4))
        )
        if plan.settings.decoder in ("cri", "auto") and cfg.get(
            "join_partials", True
        ) and not streaming:
            # docker 16 KB chunking: rejoin P-flagged partials per
            # container stream (multiline_action.go).  Ordering comes
            # from the scan's row id — exact within a file split, the
            # same per-file sequential order the reference reads in.
            decoded = join_cri_partials(
                decoded.withColumn(
                    "__rowid__", F.monotonically_increasing_id()
                ),
                ["_source_name", "stream"],
                "__rowid__",
                int(cfg.get("split_event_size", 1_000_000)),
            ).drop("__rowid__")
        registry_path = cfg.get("pod_registry")
        if registry_path:
            registry = spark.read.json(registry_path)
            only_node = bool(cfg.get("only_node", False))
            allowed_pod = cfg.get("allowed_pod_labels")
            allowed_node = cfg.get("allowed_node_labels")
            keep = []
            for c in registry.columns:
                # label columns follow the reference's emitted names
                # (multiline_action.go:174-205: k8s_pod_label_*,
                # k8s_node_label_*); allowed-lists filter by label
                # name, only_node drops pod labels entirely
                if c.startswith("k8s_pod_label_"):
                    if only_node:
                        continue
                    if allowed_pod is not None and c[len("k8s_pod_label_"):] not in allowed_pod:
                        continue
                elif c.startswith("k8s_node_label_"):
                    if allowed_node is not None and c[len("k8s_node_label_"):] not in allowed_node:
                        continue
                keep.append(c)
            registry = registry.select(*keep)
            decoded = decoded.join(
                F.broadcast(registry),
                on=["k8s_pod", "k8s_namespace"],
                how="left",
            )
        return decoded
    if typ in ("http", "socket", "journalctl", "dmesg"):
        # push/process inputs land in a spool dir (sources/ingest.py,
        # sources/procs.py); the spool is read with the file source —
        # same decode path
        spool = cfg.get("spool_dir")
        if not spool:
            raise ValueError(f"{typ} input requires spool_dir")
        reader = spark.readStream if streaming else spark.read
        if typ == "http" and cfg.get("envelope"):
            # HttpIngestServer(envelope=True) wraps each event line in
            # a JSON envelope carrying the reference http input's meta
            # information (login / remote addr / user agent —
            # http.go newMetaInformation); meta templates reference
            # them as {{ .login }} etc.
            df = reader.format("json").schema(
                "b string, login string, remote_addr string, "
                "user_agent string"
            ).load(spool)
            return _decode_lines(
                df,
                plan,
                line_col="b",
                meta_cols=[
                    F.col("login").alias("_login"),
                    F.col("remote_addr").alias("_remote_addr"),
                    F.col("user_agent").alias("_user_agent"),
                ],
            )
        df = reader.format("text").load(spool)
        return _decode_lines(df, plan)
    if typ == "parquet":
        return spark.read.parquet(cfg["path"])
    if typ == "fake":
        rows = cfg.get("rows", [])
        schema = cfg.get("schema")
        return spark.createDataFrame(rows, schema=schema)
    raise ValueError(f"unsupported input type: {typ!r}")
