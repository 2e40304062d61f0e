"""Source builder tests: k8s filename enrichment, meta templates,
CRI auto-decoder suggestion."""

import json


def test_k8s_input_enrichment(spark, tmp_path):
    from file_d_spark import Pipeline

    logdir = tmp_path / "logs"
    logdir.mkdir()
    cid = "a" * 64
    fname = f"mypod-5c9b_prod_nginx-{cid}.log"
    with open(logdir / fname, "w") as fh:
        fh.write("2024-01-01T00:00:00.000000000Z stdout F hello world\n")
        fh.write("2024-01-01T00:00:01.000000000Z stderr F oops\n")

    registry = tmp_path / "registry.jsonl"
    with open(registry, "w") as fh:
        fh.write(
            json.dumps(
                {
                    "k8s_pod": "mypod-5c9b",
                    "k8s_namespace": "prod",
                    "k8s_node": "node-7",
                }
            )
            + "\n"
        )

    p = Pipeline.from_dict(
        {
            "settings": {"decoder": "auto"},
            "input": {
                "type": "k8s",
                "path": str(logdir),
                "pod_registry": str(registry),
            },
        }
    )
    rows = p.run_batch(spark).orderBy("time").collect()
    assert len(rows) == 2
    r = rows[0]
    # auto decoder resolved to CRI (k8s input suggestion)
    assert r.log == "hello world"
    assert r.stream == "stdout"
    assert r.k8s_pod == "mypod-5c9b"
    assert r.k8s_namespace == "prod"
    assert r.k8s_container == "nginx"
    assert r.k8s_container_id == cid
    assert r.k8s_node == "node-7"


def test_meta_templates(spark, tmp_path):
    from file_d_spark import Pipeline

    indir = tmp_path / "in"
    indir.mkdir()
    with open(indir / "x.log", "w") as fh:
        fh.write('{"key":"v1"}\n')

    p = Pipeline.from_dict(
        {
            "settings": {"decoder": "json", "decoder_params": {"schema": "key string"}},
            "input": {
                "type": "file",
                "path": str(indir),
                "filename_pattern": "*.log",
                "meta": {"origin": "file:{{ .source_name }}"},
            },
        }
    )
    row = p.run_batch(spark).collect()[0]
    assert row.origin.startswith("file:")
    assert row.origin.endswith("x.log")


def test_register_views_sql_surface(spark, sf_dir):
    """register_views exposes every testdata table as a temp view so
    users can drive the engine from spark.sql directly."""
    from file_d_spark.tables import register_views

    register_views(spark, sf_dir)
    n = spark.sql("SELECT count(*) AS n FROM events").collect()[0].n
    assert n > 0
    joined = spark.sql(
        "SELECT count(*) AS n FROM nation "
        "JOIN region ON n_regionkey = r_regionkey"
    ).collect()[0].n
    assert joined == 25


def test_k8s_cri_partial_join_and_split(spark, tmp_path):
    """multiline_action.go:66-210: P-flagged chunks rejoin into one
    event per stream (fields from the final F chunk), streams join
    independently, and an accumulation beyond split_event_size splits
    into multiple events."""
    from file_d_spark import Pipeline

    logdir = tmp_path / "logs"
    logdir.mkdir()
    cid = "b" * 64
    with open(logdir / f"pod1_ns_app-{cid}.log", "w") as fh:
        fh.write("2024-01-01T00:00:00.000000000Z stdout P AAA\n")
        fh.write("2024-01-01T00:00:01.000000000Z stdout P BBB\n")
        fh.write("2024-01-01T00:00:02.000000000Z stdout F CCC\n")
        fh.write("2024-01-01T00:00:03.000000000Z stderr F solo\n")
        fh.write("2024-01-01T00:00:04.000000000Z stdout F tail\n")

    p = Pipeline.from_dict(
        {
            "settings": {"decoder": "cri"},
            "input": {"type": "k8s", "path": str(logdir)},
        }
    )
    rows = {(r.stream, r.log): r.time for r in p.read(spark).collect()}
    assert ("stdout", "AAABBBCCC") in rows
    # fields come from the final chunk
    assert rows[("stdout", "AAABBBCCC")].startswith("2024-01-01T00:00:02")
    assert ("stderr", "solo") in rows
    assert ("stdout", "tail") in rows
    assert len(rows) == 3

    # split_event_size: the same joined fragments split when the
    # accumulated length crosses the boundary
    p2 = Pipeline.from_dict(
        {
            "settings": {"decoder": "cri"},
            "input": {
                "type": "k8s",
                "path": str(logdir),
                "split_event_size": 4,
            },
        }
    )
    logs = sorted(
        r.log for r in p2.read(spark).filter("stream = 'stdout'").collect()
    )
    assert "AAABBBCCC" not in logs
    assert "".join(sorted(set("".join(logs)) & set("ABC"))) == "ABC"


def test_k8s_label_filtering(spark, tmp_path):
    """allowed_pod_labels / allowed_node_labels / only_node
    (k8s.go:91-103, multiline_action.go:174-205) filter which registry
    label columns enrich events."""
    from file_d_spark import Pipeline

    logdir = tmp_path / "logs"
    logdir.mkdir()
    cid = "c" * 64
    with open(logdir / f"pod1_ns_app-{cid}.log", "w") as fh:
        fh.write("2024-01-01T00:00:00.000000000Z stdout F x\n")
    registry = tmp_path / "reg.jsonl"
    with open(registry, "w") as fh:
        fh.write(
            json.dumps(
                {
                    "k8s_pod": "pod1",
                    "k8s_namespace": "ns",
                    "k8s_node": "node-1",
                    "k8s_pod_label_team": "core",
                    "k8s_pod_label_secret": "x",
                    "k8s_node_label_zone": "eu",
                }
            )
            + "\n"
        )

    def cols(extra):
        p = Pipeline.from_dict(
            {
                "settings": {"decoder": "cri"},
                "input": {
                    "type": "k8s",
                    "path": str(logdir),
                    "pod_registry": str(registry),
                    **extra,
                },
            }
        )
        return set(p.read(spark).columns)

    c1 = cols({"allowed_pod_labels": ["team"]})
    assert "k8s_pod_label_team" in c1 and "k8s_pod_label_secret" not in c1
    assert "k8s_node_label_zone" in c1
    c2 = cols({"only_node": True})
    assert not any(c.startswith("k8s_pod_label_") for c in c2)
    assert "k8s_node_label_zone" in c2
    c3 = cols({"allowed_node_labels": []})
    assert "k8s_node_label_zone" not in c3


def test_max_event_size_guards_the_raw_line(spark, tmp_path):
    """settings.max_event_size applies to each raw input line before
    decoding (pipeline.go:553-580): an oversized line is dropped, or
    with cut_off_event_by_limit cut to the limit and flagged."""
    from file_d_spark import Pipeline

    logdir = tmp_path / "logs"
    logdir.mkdir()
    short, long = json.dumps({"m": "ok"}), json.dumps({"m": "x" * 40})
    (logdir / "a.log").write_text(f"{short}\n{long}\n")

    def run(settings):
        return Pipeline.from_dict({
            "settings": settings,
            "input": {"type": "file", "path": str(logdir)},
        }).run_batch(spark).collect()

    dropped = run({"decoder": "json", "decoder_params": {"schema": "m string"},
                   "max_event_size": 20})
    assert [r.m for r in dropped] == ["ok"]

    cut = run({"decoder": "raw", "max_event_size": 20,
               "cut_off_event_by_limit": True,
               "cut_off_event_by_limit_field": "was_cut"})
    got = sorted((r.message, r.was_cut) for r in cut)
    assert got == sorted([(short, False), (long[:20], True)])
