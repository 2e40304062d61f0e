"""End-to-end streaming pipeline: YAML config -> readStream (file
source + decoder) -> actions (scalar + stateful) -> file sink with
checkpoint.  Mirrors the reference's e2e file_file scenario
(/root/reference/e2e/file_file/file_file.go:22-80): N files x M JSON
lines in, count/diff lines out."""

import json
import os


def test_stream_file_to_file(spark, tmp_path):
    from file_d_spark import Pipeline

    indir = tmp_path / "in"
    outdir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    indir.mkdir()
    for f in range(3):
        with open(indir / f"events-{f}.log", "w") as fh:
            for i in range(100):
                fh.write(json.dumps({"key": "value", "n": i, "f": f}) + "\n")

    p = Pipeline.from_dict(
        {
            "settings": {
                "decoder": "json",
                "decoder_params": {"schema": "key string, n long, f long"},
            },
            "input": {"type": "file", "path": str(indir), "filename_pattern": "*.log"},
            "actions": [
                {
                    "type": "discard",
                    "do_if": {"op": "int_val_cmp", "field": "n", "cmp_op": "ge", "value": 50},
                },
                {"type": "modify", "tag": "f${f}"},
            ],
            "output": {"type": "file", "format": "json", "path": str(outdir)},
        }
    )
    q = p.run_stream(spark, checkpoint_dir=str(ckpt))
    q.awaitTermination(120)

    rows = []
    for name in os.listdir(outdir):
        if name.startswith("part-"):
            with open(outdir / name) as fh:
                rows += [json.loads(line) for line in fh if line.strip()]
    assert len(rows) == 3 * 50  # n >= 50 discarded
    assert {r["tag"] for r in rows} == {"f0", "f1", "f2"}
    assert all(r["key"] == "value" for r in rows)
    # at-least-once bookkeeping: restarting with the same checkpoint
    # must not duplicate (no new input -> no new files)
    n_parts = len([n for n in os.listdir(outdir) if n.startswith("part-")])
    q2 = p.run_stream(spark, checkpoint_dir=str(ckpt))
    q2.awaitTermination(60)
    n_parts2 = len([n for n in os.listdir(outdir) if n.startswith("part-")])
    rows2 = []
    for name in os.listdir(outdir):
        if name.startswith("part-"):
            with open(outdir / name) as fh:
                rows2 += [json.loads(line) for line in fh if line.strip()]
    assert len(rows2) == 150, f"checkpoint restart duplicated output ({n_parts}->{n_parts2} parts)"


def test_run_all_streams_side_by_side(spark, tmp_path):
    """Multiple configured pipelines run concurrently with isolated
    checkpoints (fd/file.d.go:78-86 side-by-side semantics): each
    consumes its own input dir and lands in its own sink."""
    from file_d_spark import Pipeline

    for name in ("alpha", "beta"):
        d = tmp_path / f"in_{name}"
        d.mkdir()
        with open(d / "events.log", "w") as fh:
            for i in range(10):
                fh.write(json.dumps({"p": name, "n": i}) + "\n")

    yaml_cfg = f"""
pipelines:
  alpha:
    settings:
      decoder: json
      decoder_params: {{schema: "p string, n long"}}
    input: {{type: file, path: {tmp_path}/in_alpha, filename_pattern: "*.log"}}
    output: {{type: file, format: json, path: {tmp_path}/out_alpha}}
  beta:
    settings:
      decoder: json
      decoder_params: {{schema: "p string, n long"}}
    input: {{type: file, path: {tmp_path}/in_beta, filename_pattern: "*.log"}}
    actions:
      - {{type: discard, do_if: {{op: int_val_cmp, field: n, cmp_op: ge, value: 5}}}}
    output: {{type: file, format: json, path: {tmp_path}/out_beta}}
"""
    pipelines = Pipeline.all_from_yaml(yaml_cfg)
    assert set(pipelines) == {"alpha", "beta"}
    queries = Pipeline.run_all_streams(
        pipelines, spark, checkpoint_root=str(tmp_path / "ckpt")
    )
    for q in queries.values():
        q.awaitTermination(120)

    def rows(out):
        got = []
        for f in os.listdir(out):
            if f.startswith("part-"):
                got += [json.loads(l) for l in open(os.path.join(out, f)) if l.strip()]
        return got

    assert len(rows(str(tmp_path / "out_alpha"))) == 10
    beta = rows(str(tmp_path / "out_beta"))
    assert len(beta) == 5 and all(r["n"] < 5 for r in beta)


def _two_file_input(indir):
    indir.mkdir()
    for f in range(2):
        with open(indir / f"events-{f}.jsonl", "w") as fh:
            for i in range(5):
                fh.write(json.dumps({"n": f * 5 + i, "f": f}) + "\n")
    return {
        "type": "file", "path": str(indir), "filename_pattern": "*.jsonl",
        "max_files_per_trigger": 1,
    }


_SETTINGS = {"decoder": "json", "decoder_params": {"schema": "n long, f long"}}


def _json_rows(root):
    rows = []
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.startswith("part-"):
                with open(os.path.join(dirpath, name)) as fh:
                    rows += [json.loads(line) for line in fh if line.strip()]
    return rows


def test_stream_s3_keeps_every_micro_batch(spark, tmp_path):
    """A stream's s3 output writes each micro-batch to a directory
    named after its batch id: both micro-batches are kept, and a batch
    that runs again after a lost commit replaces only its own files."""
    from file_d_spark import Pipeline

    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    p = Pipeline.from_dict({
        "settings": _SETTINGS,
        "input": _two_file_input(tmp_path / "in"),
        "output": {"type": "s3", "path": str(out)},
    })
    p.run_stream(spark, checkpoint_dir=str(ckpt)).awaitTermination(120)
    assert sorted(r["n"] for r in _json_rows(out)) == list(range(10))
    assert sorted(os.listdir(out)) == ["0", "1"]

    # lose the last commit: the restart runs batch 1 again
    os.remove(ckpt / "commits" / "1")
    q = p.run_stream(spark, checkpoint_dir=str(ckpt))
    q.awaitTermination(120)
    assert q.exception() is None
    assert (ckpt / "commits" / "1").exists()
    assert sorted(r["n"] for r in _json_rows(out)) == list(range(10))


def test_stream_file_sink_partitioned_compressed(spark, tmp_path):
    """The native stream file sink honours ``partition_by`` and
    ``compression`` like the batch file output, and refuses the
    batch-only ``retention_interval`` and ``compression_type``."""
    import pytest

    from file_d_spark import Pipeline

    source = _two_file_input(tmp_path / "in")

    def pipeline(**output):
        return Pipeline.from_dict({
            "settings": _SETTINGS,
            "input": source,
            "output": {
                "type": "file", "format": "json", "partition_by": ["f"],
                "compression": "gzip", **output,
            },
        })

    stream_out, batch_out = tmp_path / "stream", tmp_path / "batch"
    p = pipeline(path=str(stream_out))
    p.run_stream(spark, checkpoint_dir=str(tmp_path / "ckpt")).awaitTermination(120)
    b = pipeline(path=str(batch_out))
    b.write(b.run_batch(spark))

    def read(path):
        return sorted(tuple(r) for r in spark.read.json(str(path)).select("n", "f").collect())

    assert read(stream_out) == read(batch_out) == [(n, n // 5) for n in range(10)]
    parts = [
        name for d in ("f=0", "f=1") for name in os.listdir(stream_out / d)
        if name.startswith("part-")
    ]
    assert parts and all(name.endswith(".json.gz") for name in parts)

    for key, value in (("retention_interval", "1h"), ("compression_type", "zip")):
        with pytest.raises(ValueError, match=key):
            pipeline(path=str(tmp_path / key), **{key: value}).run_stream(
                spark, checkpoint_dir=str(tmp_path / f"ckpt_{key}")
            )
