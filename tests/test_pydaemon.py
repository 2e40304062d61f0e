"""The Python worker daemon (file_d_spark.pydaemon): archives on the
worker's sys.path are re-read only when they change on disk, and
get_spark wires the daemon so workers find it from any cwd."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from file_d_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def patched(monkeypatch):
    """Install the daemon's invalidate_caches with a fresh read record
    and count the central-directory reads it makes."""
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(pydaemon, "_read_at", {})
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )
    return reads


def _write_zip(path, body, mtime_ns=None):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("fdsp_zipmod.py", body)
    if mtime_ns is not None:
        os.utime(path, ns=(mtime_ns, mtime_ns))


def test_unchanged_archive_is_not_reread(tmp_path, patched):
    arc = str(tmp_path / "a.zip")
    _write_zip(arc, "V = 1\n")
    first = zipimport.zipimporter(arc)
    second = zipimport.zipimporter(arc)
    patched.clear()
    for _ in range(3):
        first.invalidate_caches()
        second.invalidate_caches()
    assert patched == [arc]
    # the importer that skipped the read shares the fresh directory
    assert second._files is first._files
    assert "fdsp_zipmod.py" in second._files


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_rewritten_archive_is_reread(tmp_path, monkeypatch, patched, change):
    arc = str(tmp_path / "m.zip")
    _write_zip(arc, "V = 1\n", mtime_ns=1_000_000_000_000_000_000)
    monkeypatch.syspath_prepend(arc)
    monkeypatch.delitem(sys.modules, "fdsp_zipmod", raising=False)
    import fdsp_zipmod

    assert fdsp_zipmod.V == 1
    importlib.invalidate_caches()
    reads = len(patched)
    importlib.invalidate_caches()
    assert len(patched) == reads  # unchanged: no read

    if change == "size":
        _write_zip(arc, "V = 22\n", mtime_ns=1_000_000_000_000_000_000)
        want = 22
    else:  # same size, only the mtime moves
        _write_zip(arc, "V = 2\n", mtime_ns=1_000_000_001_000_000_000)
        want = 2
    importlib.invalidate_caches()
    assert len(patched) > reads
    del sys.modules["fdsp_zipmod"]
    import fdsp_zipmod

    assert fdsp_zipmod.V == want


def test_daemon_import_loads_no_engine():
    code = (
        "import sys, file_d_spark.pydaemon\n"
        "assert 'file_d_spark.engine' not in sys.modules, 'engine loaded'\n"
        "import file_d_spark\n"
        "assert file_d_spark.Pipeline.__module__ == 'file_d_spark.engine'\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)


def test_workers_run_the_daemon_from_any_cwd(tmp_path):
    """The driver puts the repo on sys.path itself; workers find the
    daemon, and every library module a Python UDF, mapInPandas or state
    function calls, only through spark.executorEnv.PYTHONPATH (no
    module is pickled by value)."""
    script = textwrap.dedent(
        f"""
        import json, os, sys, time
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from file_d_spark import Pipeline, get_spark
        from file_d_spark.functions import multimodal
        from file_d_spark.functions.normalize import normalize_tokens
        from tests.test_protobuf_golden import INPUT, PROTO

        def which_main(frames):
            main = sys.modules["__main__"].__spec__.name
            for f in frames:
                yield pd.DataFrame({{"n": [len(f)], "main": [main]}})

        spark = get_spark(cpus=2)
        rows = (
            spark.range(40, numPartitions=2)
            .mapInPandas(which_main, "n long, main string")
            .collect()
        )
        assert sum(r.n for r in rows) == 40, rows
        assert {{r.main for r in rows}} == {{"file_d_spark.pydaemon"}}, rows

        # pandas UDFs of functions/normalize.py: byte tokenizer + scanner
        msg = spark.createDataFrame([("GET 'x' id=42",)], "msg string")
        got = msg.select(normalize_tokens(
            F.col("msg"), "all", [{{"placeholder": "<id>", "re": "id=[0-9]+"}}]
        ).alias("n")).first().n
        assert got == "GET <single_quoted> <id>", got

        # mapInPandas of functions/multimodal.py
        media = spark.createDataFrame(
            [(1, "image", bytearray(multimodal.build_png(10, 20)))],
            "media_id long, kind string, blob binary",
        )
        got = multimodal.extract_media_metadata(media).first()
        assert (got.kind, got.width, got.height) == ("png", 10, 20), got

        # the pure-Python protobuf decoder (protowire.py)
        pb = spark.createDataFrame([(INPUT,)], "log binary")
        got = Pipeline.from_dict({{"actions": [{{
            "type": "decode", "field": "log", "decoder": "protobuf",
            "params": {{"proto_file": PROTO, "proto_message": "MyMessage"}},
        }}]}}).apply(pb).first()
        assert got.data.string_data == "my_string", got

        # the join state function (streaming/stateful.py), over a file
        # stream and over a tail stream (sources/tail_file.py); the
        # state timeout keeps the stream busy, so poll for the output
        os.makedirs("logs")
        with open("logs/app.log", "w") as fh:
            for seq, line in enumerate(["start a", " more", "start b"]):
                fh.write(json.dumps({{"sid": "s", "seq": seq, "log": line}}) + "\\n")
        for tail in (False, True):
            p = Pipeline.from_dict({{
                "settings": {{"decoder": "json", "decoder_params":
                             {{"schema": "sid string, seq long, log string"}}}},
                "input": {{"type": "file", "path": "logs", "tail": tail}},
                "actions": [{{"type": "join", "field": "log", "start": "^start",
                             "continue": "^ ", "source_field": "sid",
                             "seq_field": "seq"}}],
            }})
            name = f"joined_{{int(tail)}}"
            q = (p.apply(p.read_stream(spark)).writeStream.format("memory")
                 .queryName(name).start())
            deadline = time.time() + 120
            while not spark.table(name).count() and time.time() < deadline:
                assert q.exception() is None, q.exception()
                time.sleep(0.5)
            q.stop()
            got = [r.log for r in spark.table(name).collect()]
            assert got == ["start a more"], (tail, got)
        spark.stop()
        print("OK")
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_DRIVER_MEMORY="1g",
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().endswith("OK")
