"""File latency and committed-output reading from synthetic checkpoints, in
the layout Spark's file source, commit log and file sink log use."""

import json
import os

import numpy as np
import pytest

import live


def _write_log(path, entries, mtime=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _checkpoint(root, batches, commits):
    """batches: {batch id: [file names]}; commits: {batch id: commit time}.
    Batches 0-1 go to a compacted snapshot, as Spark does every N batches."""
    src = os.path.join(root, "sources", "0")
    compact = [{"path": f"file:///landing/{n}", "timestamp": 0, "batchId": b}
               for b, names in batches.items() if b <= 1 for n in names]
    if compact:
        _write_log(os.path.join(src, "1.compact"), compact)
    for b, names in batches.items():
        if b > 1:
            _write_log(os.path.join(src, str(b)),
                       [{"path": f"file:///landing/{n}", "timestamp": 0, "batchId": b} for n in names])
    for b, t in commits.items():
        _write_log(os.path.join(root, "commits", str(b)), [{"nextBatchWatermarkMs": 0}], mtime=t)


def test_file_latency_is_last_sink_commit(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    _checkpoint(a, {0: ["f0"], 1: ["f1"], 2: ["f2", "f3"]}, {0: 100.0, 1: 101.0, 2: 103.0})
    _checkpoint(b, {0: ["f0", "f1"], 2: ["f2"]}, {0: 100.5, 2: 104.0})
    assert live.source_batches(a) == {"f0": 0, "f1": 1, "f2": 2, "f3": 2}
    assert live.commit_times(a) == {0: 100.0, 1: 101.0, 2: 103.0}
    assert live.file_commit_time([a, b], "f0") == 100.5
    assert live.file_commit_time([a, b], "f1") == 101.0
    assert live.file_commit_time([a, b], "f2") == 104.0
    assert live.file_commit_time([a, b], "f3") is None  # b has not read it yet


def test_uncommitted_batch_has_no_latency(tmp_path):
    a = str(tmp_path / "a")
    _checkpoint(a, {0: ["f0"], 2: ["f1"]}, {0: 10.0})  # batch 2 planned, not committed
    assert live.file_commit_time([a], "f0") == 10.0
    assert live.file_commit_time([a], "f1") is None


def test_sink_files_reads_committed_log(tmp_path):
    sink = tmp_path / "sink"
    meta = sink / "_spark_metadata"
    _write_log(str(meta / "0"), [{"path": f"file://{sink}/part-0.parquet", "action": "add"}])
    _write_log(str(meta / "1"), [{"path": f"file://{sink}/part-1.parquet", "action": "add"}])
    (sink / "part-2.parquet").write_text("written but never committed")
    assert live.sink_files(str(sink)) == [f"{sink}/part-0.parquet", f"{sink}/part-1.parquet"]


def test_backlog_counts_files_landed_but_not_done():
    files = {"f0": {"landed": 0.0}, "f1": {"landed": 1.0}, "f2": {"landed": 2.0}, "f3": {"landed": 3.0}}
    done = {"f0": 0.5, "f1": 2.5, "f2": 2.5, "f3": None}
    # at t=2.0: f1 and f2 wait; at t=3.0 only f3
    assert live.backlog_max(files, done) == 2


def test_generated_events_are_seeded_and_in_range():
    t1 = live.make_events(np.random.default_rng(7), 100, 500, 10.0, 10.25)
    t2 = live.make_events(np.random.default_rng(7), 100, 500, 10.0, 10.25)
    assert t1.equals(t2)
    assert t1.schema == live.EVENTS_SCHEMA
    ids = t1["event_id"].to_pylist()
    assert ids == list(range(100, 600))
    ts = [t.timestamp() for t in t1["ts"].to_pylist()]
    assert min(ts) >= 10.0 - 1e-6 and max(ts) <= 10.25
    assert set(t1["event_type"].to_pylist()) <= set(live.EVENT_TYPES)


@pytest.mark.parametrize("window_s,watermark_s", [(2, 1)])
def test_expected_gold_closes_windows_at_watermark(tmp_path, window_s, watermark_s):
    duckdb = pytest.importorskip("duckdb")
    import pyarrow as pa
    import pyarrow.parquet as pq

    def ev(i, t, typ, v):
        return {"event_id": i, "ts": int(t * 1e6), "user_id": 1, "event_type": typ,
                "value": v, "props": "{}"}

    rows = [ev(0, 0.5, "click", 1.0), ev(1, 0.7, "view", 2.0), ev(2, 1.0, "error", 3.0),
            ev(3, 2.5, "click", 5.0), ev(4, 2.6, "view", 1.0), ev(5, 2.7, "error", 9.0),
            ev(6, 4.1, "click", 1.0), ev(7, 4.2, "view", 1.0), ev(8, 3.9, "error", 1.0)]
    cols = {k: [r[k] for r in rows] for k in rows[0]}
    cols["ts"] = pa.array(cols["ts"], type=pa.timestamp("us"))
    path = str(tmp_path / "events_0.parquet")
    pq.write_table(pa.table(cols, schema=live.EVENTS_SCHEMA), path)
    con = duckdb.connect()
    got = live.expected_gold(con, [path], window_s, watermark_s)
    # watermark = min(max click 4.1, view 4.2, error 3.9) - 1 = 2.9: only [0,2) is closed
    assert got == [(0, 2_000_000, 1.0, 2.0, 3.0)]
