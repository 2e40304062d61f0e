"""PipelineInspector: the /info /sample /ban_list counters
(/root/reference/pipeline/pipeline.go:959-1033) and the debug action's
zap-sampler semantics (debug.go:46,83)."""

import datetime as dt
import json
import logging

from file_d_spark import Pipeline
from file_d_spark.introspect import PipelineInspector
from tests.util import parse_prometheus_text


def two_action_inspector(spark):
    df = spark.createDataFrame(
        [(i, "keep" if i % 2 else "drop") for i in range(10)],
        "n int, kind string",
    )
    p = Pipeline.from_dict(
        {
            "actions": [
                {"type": "discard", "do_if": {"op": "equal", "field": "kind", "values": ["drop"]}},
                {"type": "modify", "tag": "x${n}"},
            ]
        }
    )
    return PipelineInspector(p, df)


def test_info_counters(spark):
    insp = two_action_inspector(spark)
    assert insp.result.count() == 5
    assert insp.info(0) == [
        {"status": "received", "count": 10},
        {"status": "discarded", "count": 5},
        {"status": "passed", "count": 5},
    ]
    assert insp.info(1) == [
        {"status": "received", "count": 5},
        {"status": "discarded", "count": 0},
        {"status": "passed", "count": 5},
    ]


def test_sample_before_after(spark):
    insp = two_action_inspector(spark)
    s = insp.sample(1)
    assert "tag" not in s["before"]
    assert s["after"]["tag"] == f"x{s['after']['n']}"


def test_ban_list(spark):
    df = spark.createDataFrame(
        [("spammy", f"2024-01-01T00:00:{i:02d}Z") for i in range(5)]
        + [("quiet", "2024-01-01T00:00:00Z")],
        "source_name string, ts string",
    )
    p = Pipeline.from_dict(
        {
            "actions": [
                {"type": "antispam", "threshold": 3, "maintenance_interval": "1m"}
            ]
        }
    )
    insp = PipelineInspector(p, df)
    assert {r.source_name for r in insp.result.collect()} == {"quiet"}
    assert insp.ban_list() == [{"action": 0, "source": "spammy"}]


def test_ban_list_honours_antispam_exceptions(spark):
    """A source the antispam's own exception exempts is never banned,
    so it is not on /ban_list even past the threshold."""
    df = spark.createDataFrame(
        [("my_source1", f"2024-01-01T00:00:{i:02d}Z") for i in range(4)],
        "source_name string, ts string",
    )
    p = Pipeline.from_dict(
        {
            "actions": [
                {
                    "type": "antispam",
                    "threshold": 1,
                    "maintenance_interval": "1m",
                    "exceptions": [
                        {
                            "name": "mine",
                            "check_source_name": True,
                            "rules": [
                                {"mode": "contains", "values": ["my_source1"]}
                            ],
                        }
                    ],
                }
            ]
        }
    )
    insp = PipelineInspector(p, df)
    assert insp.result.count() == 4
    assert insp.ban_list() == []


def test_inspector_runs_settings_level_antispam(spark):
    """The inspector walks the same effective chain as
    ``Pipeline.apply``: the settings-level antispam runs first
    (fd/util.go:96-127) and shows on /ban_list as action 0."""
    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("spammy" if i < 8 else "quiet", t0, f"m{i}") for i in range(10)],
        "_source_name string, ts timestamp, msg string",
    )
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
    insp = PipelineInspector(p, df)
    assert {r.msg for r in insp.result.collect()} == {"m8", "m9"}
    assert {r.msg for r in p.apply(df).collect()} == {"m8", "m9"}
    assert insp.ban_list() == [{"action": 0, "source": "spammy"}]


def test_debug_sampling_first_thereafter(spark, caplog):
    caplog.set_level(logging.INFO, logger="file_d_spark.debug")
    df = spark.createDataFrame([(i,) for i in range(20)], "n int")
    p = Pipeline.from_dict(
        {
            "actions": [
                {
                    "type": "debug",
                    "first": 3,
                    "thereafter": 5,
                    "order_fields": ["n"],
                    "collect": True,
                    "message": "probe",
                }
            ]
        }
    )
    out = p.apply(df)
    assert out.count() == 20  # passthrough
    logged = sorted(
        json.loads(r.getMessage().split(": ", 1)[1])["n"]
        for r in caplog.records
        if r.name == "file_d_spark.debug" and r.getMessage().startswith("probe: ")
    )
    # first 3 (n=0,1,2 -> rn 1..3), then every 5th after: rn 8, 13, 18
    assert logged == [0, 1, 2, 7, 12, 17]


def test_prometheus_scrape_and_health(spark):
    """The scrape body carries file_d-namespaced input/output and
    per-action counters in text exposition format
    (fd/file.d.go:341-345, pipeline.go:263-266).  /live and /ready
    live on the daemon mux (test_daemon::test_control_plane_endpoints)."""
    insp = two_action_inspector(spark)
    body = insp.prometheus()
    samples = parse_prometheus_text(body)
    name = insp.plan.name
    assert samples[(
        "file_d_input_plugin_events_count_total",
        (("pipeline", name),),
    )] == 10
    assert samples[(
        "file_d_output_plugin_events_count_total",
        (("pipeline", name),),
    )] == 5
    assert samples[(
        "file_d_action_events_count_total",
        (("action", "0_discard"), ("pipeline", name), ("status", "discarded")),
    )] == 5
    assert samples[(
        "file_d_action_events_count_total",
        (("action", "1_modify"), ("pipeline", name), ("status", "passed")),
    )] == 5
    # exposition hygiene: TYPE lines present exactly once per metric
    assert body.count("# TYPE file_d_action_events_count_total counter") == 1


def test_prom_registry_escaping_and_gauge():
    from file_d_spark.metrics import PromRegistry

    reg = PromRegistry()
    reg.inc("c_total", 2, path='a"b\\c')
    reg.inc("c_total", 3, path='a"b\\c')
    reg.set("g", 1.5, kind="x")
    text = reg.render()
    samples = parse_prometheus_text(text)
    assert samples[("file_d_c_total", (("path", 'a\\"b\\\\c'),))] == 5
    assert samples[("file_d_g", (("kind", "x"),))] == 1.5
    assert "# TYPE file_d_g gauge" in text


def test_custom_action_metrics(spark):
    """Actions with metric_name/metric_labels emit
    <name>_events_count_total / _events_size_total with label values
    from event fields (pipeline.go:683-716, processor.go:300-330);
    metric_skip_status drops the status label and the received series;
    a missing label field reads "not_set"."""
    from file_d_spark import Pipeline
    from file_d_spark.introspect import PipelineInspector

    df = spark.createDataFrame(
        [("k8s", "a"), ("k8s", "b"), ("vm", "c"), (None, "d")],
        "source string, msg string",
    )
    insp = PipelineInspector(
        Pipeline.from_dict({"actions": [
            {"type": "discard",
             "do_if": {"op": "equal", "field": "source", "values": ["vm"]},
             "metric_name": "drop_vm",
             "metric_labels": ["source"]},
            {"type": "add_host", "field": "host",
             "metric_name": "hosted", "metric_skip_status": True},
        ]}),
        df,
    )
    body = insp.prometheus()
    assert ('file_d_drop_vm_events_count_total{source="k8s",'
            'status="received"} 2') in body
    assert ('file_d_drop_vm_events_count_total{source="vm",'
            'status="discarded"} 1') in body
    assert ('file_d_drop_vm_events_count_total{source="vm",'
            'status="passed"} 0') in body
    assert ('file_d_drop_vm_events_count_total{source="not_set",'
            'status="passed"} 1') in body
    # skip_status: one series, no status label, received not counted
    assert "file_d_hosted_events_count_total 3" in body
    assert 'file_d_hosted_events_count_total{' not in body
    assert "file_d_drop_vm_events_size_total{" in body
    # the metric_* keys must not leak into plugin params
    from file_d_spark.actions import build_action

    act = build_action({"type": "add_host", "metric_name": "x",
                        "metric_labels": ["a"], "metric_skip_status": True})
    assert "metric_name" not in act.params


def test_mask_applied_metric(spark):
    """Per-mask applied_metric_name/labels (mask.go:256, metrics.go):
    counts events the mask fired on, labelled from event fields;
    requires applied_field so the lazy engine has fired evidence."""
    import pytest

    from file_d_spark import Pipeline
    from file_d_spark.introspect import PipelineInspector

    df = spark.createDataFrame(
        [("card 1234", "shop"), ("no digits", "shop"), ("pin 77", "bank")],
        "msg string, svc string",
    )
    insp = PipelineInspector(
        Pipeline.from_dict({"actions": [
            {"type": "mask", "masks": [
                {"re": r"\d+", "groups": [0],
                 "applied_field": "masked",
                 "applied_metric_name": "digits_masked",
                 "applied_metric_labels": ["svc"]},
            ]},
        ]}),
        df,
    )
    body = insp.prometheus()
    assert 'file_d_digits_masked{svc="shop"} 1' in body
    assert 'file_d_digits_masked{svc="bank"} 1' in body

    with pytest.raises(ValueError, match="applied_field"):
        PipelineInspector(
            Pipeline.from_dict({"actions": [
                {"type": "mask", "masks": [
                    {"re": r"\d+", "groups": [0],
                     "applied_metric_name": "x"},
                ]},
            ]}),
            df,
        ).prometheus()
