"""Tail-follow DataSource: appended lines arrive in later batches with
byte offsets; truncation re-reads."""

import os
import time


def test_tail_file_follows_appends(spark, tmp_path):
    from file_d_spark.sources.tail_file import TailFileDataSource

    spark.dataSource.register(TailFileDataSource)
    logdir = tmp_path / "logs"
    logdir.mkdir()
    log = logdir / "app.log"
    with open(log, "w") as fh:
        fh.write("line-0\nline-1\n")

    df = (
        spark.readStream.format("tail_file")
        .option("path", str(logdir))
        .option("glob", "*.log")
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName("tail_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {r.value: r.offset for r in spark.sql("SELECT * FROM tail_out").collect()}
        assert got1 == {"line-0": 0, "line-1": 7}

        # append (plus a partial line that must NOT be emitted yet)
        with open(log, "a") as fh:
            fh.write("line-2\npartial")
        q.processAllAvailable()
        got2 = {r.value for r in spark.sql("SELECT * FROM tail_out").collect()}
        assert got2 == {"line-0", "line-1", "line-2"}

        # complete the partial line
        with open(log, "a") as fh:
            fh.write("-done\n")
        q.processAllAvailable()
        got3 = {r.value for r in spark.sql("SELECT * FROM tail_out").collect()}
        assert "partial-done" in got3
    finally:
        q.stop()


def test_runtime_offset_reset_one_file(spark, tmp_path):
    """Runtime resetter (reference resetter.go:19-100): ingest two
    files, drop a reset request for ONE of them, assert exactly that
    file re-reads from byte 0 while the other stays put — all without
    restarting the stream."""
    from file_d_spark.sources.tail_file import TailFileDataSource, TailResetter

    spark.dataSource.register(TailFileDataSource)
    logdir = tmp_path / "logs"
    logdir.mkdir()
    a, b = logdir / "a.log", logdir / "b.log"
    a.write_text("a-0\na-1\n")
    b.write_text("b-0\n")
    reset_dir = str(tmp_path / "resets")
    resetter = TailResetter(reset_dir)

    df = (
        spark.readStream.format("tail_file")
        .option("path", str(logdir))
        .option("glob", "*.log")
        .option("reset_dir", reset_dir)
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName("tail_reset")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM tail_reset").collect()
        assert sorted(r.value for r in rows) == ["a-0", "a-1", "b-0"]

        # reset ONLY a.log — no file grows, the reset alone must
        # schedule the batch
        resetter.reset(file=str(a))
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM tail_reset").collect()
        assert sorted(r.value for r in rows) == [
            "a-0", "a-0", "a-1", "a-1", "b-0",
        ]

        # the stream keeps tailing normally afterwards; the applied
        # request is cleaned up at the next batch boundary (Spark
        # defers source commit until the following batch) and is NOT
        # applied twice — a-2 arrives alone, nothing re-reads again
        with open(a, "a") as fh:
            fh.write("a-2\n")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM tail_reset").collect()
        assert sorted(r.value for r in rows) == [
            "a-0", "a-0", "a-1", "a-1", "a-2", "b-0",
        ]
        assert os.listdir(reset_dir) == []
    finally:
        q.stop()


def test_runtime_offset_reset_all_and_inode(spark, tmp_path):
    """Empty reset request = truncate ALL (resetter.go:75); an inode
    selector matches via live st_ino."""
    from file_d_spark.sources.tail_file import TailFileDataSource, TailResetter

    spark.dataSource.register(TailFileDataSource)
    logdir = tmp_path / "logs"
    logdir.mkdir()
    a, b = logdir / "a.log", logdir / "b.log"
    a.write_text("a-0\n")
    b.write_text("b-0\n")
    reset_dir = str(tmp_path / "resets")
    resetter = TailResetter(reset_dir)

    df = (
        spark.readStream.format("tail_file")
        .option("path", str(logdir))
        .option("glob", "*.log")
        .option("reset_dir", reset_dir)
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName("tail_reset_all")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        resetter.reset()  # no selector: everything re-reads
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM tail_reset_all").collect()
        assert sorted(r.value for r in rows) == ["a-0", "a-0", "b-0", "b-0"]

        resetter.reset(inode=os.stat(b).st_ino)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM tail_reset_all").collect()
        assert sorted(r.value for r in rows) == [
            "a-0", "a-0", "b-0", "b-0", "b-0",
        ]
        # next batch cleans the applied request and re-reads nothing
        with open(a, "a") as fh:
            fh.write("a-1\n")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM tail_reset_all").collect()
        assert sorted(r.value for r in rows) == [
            "a-0", "a-0", "a-1", "b-0", "b-0", "b-0",
        ]
        assert os.listdir(reset_dir) == []
    finally:
        q.stop()


def test_tail_exclude_and_dir_pattern(spark, tmp_path):
    """paths.exclude full-path globs and dir_pattern directory filter
    (file.go:73-74,194): excluded files and non-matching subtrees
    never emit, matching ones do."""
    import json as _json

    from file_d_spark.sources.tail_file import TailFileDataSource

    spark.dataSource.register(TailFileDataSource)
    logdir = tmp_path / "logs"
    (logdir / "pod-a").mkdir(parents=True)
    (logdir / "pod-b").mkdir()
    (logdir / "sys").mkdir()
    (logdir / "pod-a" / "app.log").write_text("a-1\n")
    (logdir / "pod-b" / "app.log").write_text("b-1\n")
    (logdir / "pod-b" / "noise.log").write_text("noise\n")
    (logdir / "sys" / "app.log").write_text("sys-1\n")

    df = (
        spark.readStream.format("tail_file")
        .option("path", str(logdir))
        .option("glob", "*.log")
        .option("dir_pattern", "pod-*")
        .option("exclude", _json.dumps([f"{logdir}/*/noise.log"]))
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName("tail_excl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r.value for r in spark.sql("SELECT * FROM tail_excl").collect()}
        assert got == {"a-1", "b-1"}
    finally:
        q.stop()


def test_batch_paths_include_exclude(spark, tmp_path):
    """Batch file input with paths.include/exclude globs: the scan
    reads exactly the driver-expanded, exclusion-filtered list."""
    import pytest

    from file_d_spark.engine import Pipeline

    logdir = tmp_path / "logs"
    logdir.mkdir()
    (logdir / "a.log").write_text('{"m": "a"}\n')
    (logdir / "b.log").write_text('{"m": "b"}\n')
    (logdir / "b.bak").write_text('{"m": "bak"}\n')

    p = Pipeline.from_dict(
        {
            "input": {
                "type": "file",
                "paths": {
                    "include": [f"{logdir}/*.log", f"{logdir}/*.bak"],
                    "exclude": [f"{logdir}/b.*"],
                },
            },
            "settings": {"decoder": "json", "decoder_params": {"schema": "m string"}},
        }
    )
    df = p.read(spark)
    assert sorted(r.m for r in df.select("m").collect()) == ["a"]

    with pytest.raises(ValueError, match="matched no files"):
        Pipeline.from_dict(
            {
                "input": {
                    "type": "file",
                    "paths": {"include": [f"{logdir}/nope-*.log"]},
                },
                "settings": {"decoder": "raw"},
            }
        ).read(spark)
