"""Streaming deadqueue: a stream writes each micro-batch through the
batch output path, so a sink that keeps failing routes the batch to the
nested ``deadqueue`` output (fd/file.d.go:260-290) and the stream
survives."""

import glob
import json
import os


def _write_inputs(indir, files, per_file):
    indir.mkdir()
    for f in range(files):
        with open(indir / f"x{f}.jsonl", "w") as fh:
            for i in range(per_file):
                fh.write(json.dumps({"k": "v", "n": f * per_file + i}) + "\n")


def _deadqueue_rows(path):
    rows = []
    for f in glob.glob(f"{path}/**", recursive=True):
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", ".")):
            with open(f) as fh:
                rows += [json.loads(l) for l in fh if l.strip()]
    return rows


def test_dead_queue_on_sink_failure(spark, tmp_path):
    from file_d_spark import Pipeline

    _write_inputs(tmp_path / "in", 1, 5)

    def exploding_transport(payload):
        raise RuntimeError("endpoint down")

    dq = str(tmp_path / "dead")
    p = Pipeline.from_dict(
        {
            "settings": {"decoder": "json", "decoder_params": {"schema": "k string, n long"}},
            "input": {"type": "file", "path": str(tmp_path / "in"), "filename_pattern": "*.jsonl"},
            "output": {
                "type": "http",
                "transport": exploding_transport,
                "retry": 2,
                "deadqueue": {"type": "file", "path": dq},
            },
        }
    )
    q = p.run_stream(spark, checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert q.exception() is None

    rows = _deadqueue_rows(dq)
    assert sorted(r["n"] for r in rows) == [0, 1, 2, 3, 4]


def test_es_stream_deadqueue_keeps_every_micro_batch(spark, tmp_path):
    """An elasticsearch output whose transport always fails: with a
    deadqueue the ES sink neither retries nor skips the batch, so each
    of the two micro-batches lands in the file deadqueue, the second
    appended to the first."""
    from file_d_spark import Pipeline

    _write_inputs(tmp_path / "in", 2, 5)

    def exploding_transport(payload):
        raise RuntimeError("endpoint down")

    dq = str(tmp_path / "dead")
    p = Pipeline.from_dict(
        {
            "settings": {"decoder": "json", "decoder_params": {"schema": "k string, n long"}},
            "input": {
                "type": "file",
                "path": str(tmp_path / "in"),
                "filename_pattern": "*.jsonl",
                "max_files_per_trigger": 1,
            },
            "output": {
                "type": "elasticsearch",
                "index_format": "idx",
                "transport": exploding_transport,
                "retry": 0,
                "retention": 0,
                "deadqueue": {"type": "file", "path": dq},
            },
        }
    )
    q = p.run_stream(spark, checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert q.exception() is None
    assert len(q.recentProgress) >= 2

    rows = _deadqueue_rows(dq)
    assert sorted(r["n"] for r in rows) == list(range(10))
