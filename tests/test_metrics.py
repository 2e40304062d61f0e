"""observe() counters folded by the streaming progress ring."""

import json
import time


def test_observe_and_progress_ring(spark, tmp_path):
    from pyspark.sql import functions as F

    from file_d_spark import Pipeline
    from file_d_spark.metrics import ProgressRing

    # five one-file batches through a two-record ring: the totals must
    # cover every batch, not just the ones the ring still holds
    ring = ProgressRing(capacity=2)
    spark.streams.addListener(ring)
    try:
        indir = tmp_path / "in"
        indir.mkdir()
        for f in range(5):
            with open(indir / f"{f}.jsonl", "w") as fh:
                for i in range(f * 5, f * 5 + 5):
                    fh.write(json.dumps({"k": "x", "n": i}) + "\n")

        p = Pipeline.from_dict(
            {
                "settings": {"decoder": "json", "decoder_params": {"schema": "k string, n long"}},
                "input": {
                    "type": "file",
                    "path": str(indir),
                    "filename_pattern": "*.jsonl",
                    "max_files_per_trigger": 1,
                },
                "actions": [
                    {"type": "discard", "do_if": {"op": "int_val_cmp", "field": "n", "cmp_op": "ge", "value": 20}}
                ],
            }
        )
        df = p.apply(p.read_stream(spark)).observe(
            "fd_out", F.count(F.lit(1)).alias("events")
        )
        q = (
            df.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener delivery is async
        deadline = time.time() + 20
        totals = ring.totals(q.id)
        while time.time() < deadline and totals["numInputRows"] < 25:
            time.sleep(0.5)
            totals = ring.totals(q.id)
        assert totals["numInputRows"] == 25
        assert totals["observedMetrics"]["fd_out"]["events"] == 20  # post-discard
        assert totals["numOutputRows"] == 20
        assert len(ring.progress[q.id]) == 2
        assert ring.last(q.id)["batchId"] == 4
    finally:
        spark.streams.removeListener(ring)


def test_progress_ring_totals_lose_no_update_under_threads():
    """Listener callbacks and /metrics readers run on different
    threads: concurrent progress events must all land in the totals."""
    import sys
    import threading
    from types import SimpleNamespace

    from file_d_spark.metrics import ProgressRing

    ring = ProgressRing(capacity=4)
    event = SimpleNamespace(progress=SimpleNamespace(json=json.dumps({
        "id": "q", "numInputRows": 1, "sink": {"numOutputRows": 1},
        "observedMetrics": {"fd_out": {"events": 1}},
    })))
    n_threads, n_events = 8, 500

    def feed():
        for _ in range(n_events):
            ring.onQueryProgress(event)
            ring.totals("q")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=feed) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    want = n_threads * n_events
    totals = ring.totals("q")
    assert totals["numInputRows"] == want
    assert totals["numOutputRows"] == want
    assert totals["observedMetrics"]["fd_out"]["events"] == want
