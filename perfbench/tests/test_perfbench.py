"""Tests of the benchmark's own code: seeded generators and the event-log
reader. Run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402
import gen  # noqa: E402

RECORDED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog")


def _write_all(seed: int, out: str) -> dict[str, bytes]:
    """Every generator once, in run order, from one seeded stream."""
    rng = np.random.default_rng(seed)
    log = gen.message_log(rng, os.path.join(out, "log"), 3_000, 45, 512)
    gen.proto_log(log, os.path.join(out, "proto"), 512)
    gen.curation_tables(rng, os.path.join(out, "cur"), 60, 40, 0.1)
    os.makedirs(os.path.join(out, "stream"))
    for i in range(3):
        gen.stream_chunk(rng, os.path.join(out, "stream"), i, 200, 20, 1_700_000_000_000_000)
    files = {}
    for d, _, names in os.walk(out):
        for n in names:
            with open(os.path.join(d, n), "rb") as fh:
                files[os.path.relpath(os.path.join(d, n), out)] = fh.read()
    return files


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(7, str(tmp_path / "b"))
    assert sorted(a) == sorted(b) and len(a) == 7
    assert a == b
    c = _write_all(8, str(tmp_path / "c"))
    assert a["log/events.parquet"] != c["log/events.parquet"]


def test_message_log_shape(tmp_path):
    t = gen.message_log(np.random.default_rng(1), str(tmp_path), 5_000, 75, 1_000)
    meta = pq.ParquetFile(tmp_path / "events.parquet").metadata
    assert meta.num_rows == 5_000 and meta.num_row_groups == 5
    ts = t["ts"].cast(pa.int64()).to_pylist()
    assert ts == sorted(ts)
    assert t["event_id"].to_pylist() == list(range(5_000))
    assert max(t["user_id"].to_pylist()) < 75
    assert set(t["event_type"].to_pylist()) == set(gen.EVENT_TYPES)


def test_proto_payload_decodes_to_json_k(tmp_path):
    from duckdb_nats_jetstream_spark.functions.proto import path_extractor

    log = gen.message_log(np.random.default_rng(2), str(tmp_path / "j"), 300, 10, 100)
    gen.proto_log(log, str(tmp_path / "p"), 100)
    payload = pq.read_table(tmp_path / "p" / "events.parquet")["props"].to_pylist()
    _, _, extract = path_extractor(gen.PROPS_PROTO, "Props", ["k"])
    ks = [int(p[6:-1]) for p in log["props"].to_pylist()]
    assert [extract(p)[0] for p in payload] == ks


def test_curation_near_duplicates(tmp_path):
    gen.curation_tables(np.random.default_rng(3), str(tmp_path), 200, 30, 0.2)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pylist()
    texts = {d["text"] for d in docs}
    dups = [d for d in docs if d["text"].endswith(" dup")]
    assert dups and all(d["text"][: -len(" dup")] in texts for d in dups)
    assert all(d["n_chars"] == len(d["text"]) for d in docs)
    emb = pq.read_table(tmp_path / "embeddings.parquet")["embedding"].to_pylist()
    assert all(abs(np.linalg.norm(v) - 1) < 1e-5 and len(v) == gen.EMBED_DIM for v in emb)


def test_recorded_event_log_counts():
    stats = eventlog.group_stats(eventlog.read_events(RECORDED))
    assert set(stats) == {"g_plain", "g_py"}
    plain, py = stats["g_plain"], stats["g_py"]
    # a 2-partition aggregate: 2 jobs, 3 stages of which one was skipped
    assert (plain.jobs, plain.stages, plain.tasks) == (2, 2, 3)
    assert plain.records_read == 1_000 and plain.shuffle_write_bytes == 364
    assert not plain.python
    # one mapInPandas job over 2 partitions; totals equal the accumulators'
    # final values in the last task
    assert (py.jobs, py.stages, py.tasks) == (1, 1, 2)
    assert dict(py.python) == {"bytes_sent": 4480, "bytes_returned": 4352,
                               "start_ms": 3099, "init_ms": 707, "run_ms": 4472}
    assert py.task_run_ms == 5254
    assert py.skew() == pytest.approx(2762 / 2669)


def test_uncompressed_event_log_reads_the_same(tmp_path):
    src_dir = os.path.join(RECORDED, "eventlog_v2_local-0001")
    (src,) = os.listdir(src_dir)
    with pa.OSFile(os.path.join(src_dir, src)) as raw:
        data = pa.CompressedInputStream(raw, "zstd").read()
    plain = tmp_path / "eventlog_v2_local-0001"
    plain.mkdir()
    (plain / "events_1_local-0001").write_bytes(data)
    assert eventlog.read_events(str(tmp_path)) == eventlog.read_events(RECORDED)


def test_tree_usage_counts_child_cpu():
    import subprocess
    import time

    import procstat

    before = procstat.tree_usage()
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt = time.process_time()\n"
                              "while time.process_time() - t < 0.5: pass\n"
                              "time.sleep(30)"])
    try:
        deadline = time.monotonic() + 20
        while procstat.tree_usage().cpu_s - before.cpu_s < 0.4:
            assert time.monotonic() < deadline, "child CPU never showed up"
            time.sleep(0.05)
    finally:
        child.kill()
        child.wait(timeout=10)
    after = procstat.tree_usage()
    # the reaped child's time moves to this process's cutime: still counted
    assert after.cpu_s - before.cpu_s >= 0.4
    assert after.jit_s == 0 and after.work_s == after.cpu_s


def test_per_pass_sums_each_operations_median():
    import run

    ops = [dict(name="a", cpu=1.0), dict(name="a", cpu=5.0), dict(name="a", cpu=2.0),
           dict(name="b", cpu=0.5), dict(name="b", cpu=0.7)]
    assert run.per_pass(ops, "cpu") == pytest.approx(2.0 + 0.6)


def test_stage_ids_restart_per_application():
    def app(group: str) -> list[dict]:
        return [
            {"Event": "SparkListenerApplicationStart"},
            {"Event": "SparkListenerJobStart", "Stage IDs": [0],
             "Properties": {"spark.jobGroup.id": group}},
            {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
             "Task Info": {"Launch Time": 0, "Finish Time": 5}},
        ]

    stats = eventlog.group_stats(app("first") + app("second"))
    assert [(s.jobs, s.stages, s.tasks) for s in stats.values()] == [(1, 1, 1)] * 2
