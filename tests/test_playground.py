"""Playground golden replay of the reference's handler test.

Config and event transcribed from
/root/reference/playground/playground_handler_test.go TestHandler
(lines 16-64): modify pulls req.from/req.to to the top level,
convert_date re-emits both as rfc3339nano, keep_fields keeps only
them; the response must contain exactly one event with the converted
timestamps.  Also covers the yaml actions_type parse
(TestHandlerUnmarshalYAML) and the [1,32]/[0,64] validation bounds.
"""

import json

import pytest

from file_d_spark.playground import parse_request, play

EVENT = {
    "pipeline_kafka_topic": "obs-seq-db-logs",
    "time": "2023-08-22T10:01:09.282965716Z",
    "stream": "stdout",
    "k8s_node": "kuber-node65329z501",
    "k8s_namespace": "logging",
    "k8s_pod": "seq-proxy-prod-6ccc888994-nkj94",
    "k8s_container": "seq-proxy",
    "k8s_pod_label_app": "seq-proxy-prod",
    "zone": "z501",
    "k8s_cluster": "obs",
    "env": "infra-ts",
    "level": "informational",
    "ts": 1692698469,
    "message": "search",
    "req": {
        "query": '(access_token_leaked: "jwt_token")',
        "offset": 0,
        "size": 2,
        "from": "2023-08-21 10:01:09",
        "to": "2023-08-22 10:01:09",
        "with_total": False,
        "explain": False,
        "agg_name": "",
        "agg_field": "",
        "agg_filter": "",
        "interval": "0s",
    },
}

ACTIONS = [
    {"type": "modify", "from": "${req.from}", "to": "${req.to}"},
    {
        "type": "convert_date",
        "field": "from",
        "source_formats": ["rfc3339nano", "rfc3339", "2006-01-02 15:04:05"],
        "target_format": "rfc3339nano",
        "remove_on_fail": False,
    },
    {
        "type": "convert_date",
        "field": "to",
        "source_formats": ["rfc3339nano", "rfc3339", "2006-01-02 15:04:05"],
        "target_format": "rfc3339nano",
        "remove_on_fail": False,
    },
    {"type": "keep_fields", "fields": ["from", "to"]},
]


def test_play_reference_handler_case(spark):
    resp = play(spark, {"events": [EVENT], "actions": ACTIONS})
    assert len(resp["result"]) == 1
    assert resp["metrics"] != ""
    ev = resp["result"][0]
    assert set(ev) == {"from", "to"}
    assert ev["from"] == "2023-08-21T10:01:09Z"
    assert ev["to"] == "2023-08-22T10:01:09Z"


def test_play_validation_bounds(spark):
    with pytest.raises(ValueError, match="validate error"):
        play(spark, {"events": [], "actions": []})
    with pytest.raises(ValueError, match="validate error"):
        play(spark, {"events": [{"a": 1}] * 33, "actions": []})
    with pytest.raises(ValueError, match="validate error"):
        play(spark, {"events": [{"a": 1}],
                     "actions": [{"type": "debug"}] * 65})


def test_parse_request_yaml_actions():
    req = parse_request(json.dumps({
        "events": [{"a": 1}],
        "actions_type": "yaml",
        "actions": "- type: modify\n  k: v\n",
    }))
    assert req["actions"] == [{"type": "modify", "k": "v"}]
