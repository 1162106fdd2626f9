"""The two benchmark workloads.

Each is one client in a closed loop on ``local[<cores>]``. ``batch`` runs
passes over a list of registered queries; ``stream_rollup`` lands a fixed
number of seeded chunks and folds them with one streaming-rollup invocation.
A workload exposes:

- ``prepare(run)``: generate the seeded inputs (not part of set-up time);
- ``warm_up(run, i)``: the workload's share of set-up ``i``;
- ``measure(run, seconds)``: the timed loop, which fills ``run.ops``;
- ``check(run)``: output checks that need the whole run;
- ``probe(run)``: traced-run-only direct calls into single layers.

Traffic dimensions are the module constants below; BENCHMARK.json repeats
them in each workload's ``why``.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from procstat import reference_s, tree_usage

# batch: the message log
LOG_ROWS = 20_000
LOG_ROW_GROUP = 2_048
LOG_MSGS_PER_USER = 67
# batch: documents / embeddings for the curation queries
DOCS = 500
VECTORS = 500
DUP_SHARE = 0.05
# stream_rollup: chunks of messages stamped 0.5 s apart (2,000 msg/s of
# message time), two folded per sink invocation
STREAM_CHUNK_MSGS = 1_000
STREAM_PERIOD_US = 500_000
STREAM_CHUNKS_PER_INVOCATION = 2
STREAM_SUBJECTS = 100  # 5 event types x 20 users
STREAM_USERS = STREAM_SUBJECTS // len(gen.EVENT_TYPES)
STREAM_T0_US = gen.JAN_2024_US
#: batch: passes run before measuring (pass 0 is the first execution of
#: every operator in the JVM)
WARM_PASSES = 1
#: a run stops measuring after ``LATE_S`` seconds, whatever ``--seconds`` and
#: a workload's ``min_passes`` are
LATE_S = 110

#: Seven of the 22 ``queries/stream.py`` queries, each over the message log:
#: seq and time pushdown, the payload functions (JSON, typed, proto codec
#: through Python workers), one window and one join operator. The
#: ``nats_jetstream`` DataSource (``nats_source_scan``) is left to the traced
#: probe: its first call in a JVM costs ~10 s, a sixth of the run.
LOG_SCAN_QUERIES = [
    "scan_seq_range", "scan_json_extract", "scan_json_cast_agg", "scan_typed_extract",
    "scan_proto_roundtrip", "scan_windowed_rollup", "scan_asof_join",
]
#: One LLM-curation query over ``documents`` whose build persists and
#: eagerly checkpoints a vocabulary (the materialization layer).
CURATION_QUERIES = ["text_unigram_bits"]


def noop_write(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def median_or_0(xs) -> float:
    """The median; 0 when a layer recorded nothing."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Batch:
    """A closed loop of passes over registered queries; one pass runs every
    query once, in a seeded order, as ``fn(spark, data_dir)`` (build) then a
    noop write (exec). The first ``WARM_PASSES`` passes are not measured;
    pass 0 is reported apart (``first_pass_s``)."""

    name = "batch"
    queries = LOG_SCAN_QUERIES + CURATION_QUERIES
    #: measured passes, whatever ``--seconds`` is
    min_passes = 2

    def data_dir(self, run) -> str:
        return run.data_dir

    def records(self, query: str) -> int:
        """Input rows a query reads: the log, or the documents."""
        return DOCS if query in CURATION_QUERIES else LOG_ROWS

    def prepare(self, run) -> None:
        log = gen.message_log(
            run.rng, self.data_dir(run), LOG_ROWS, LOG_ROWS // LOG_MSGS_PER_USER,
            LOG_ROW_GROUP,
        )
        gen.proto_log(log, os.path.join(run.work, "proto"), LOG_ROW_GROUP)
        gen.curation_tables(run.rng, self.data_dir(run), DOCS, VECTORS, DUP_SHARE)

    def pre_setup(self, run, i: int) -> None:
        pass

    def warm_up(self, run, i: int) -> None:
        """Read every input table and run one shuffle."""
        from pyspark.sql import functions as F

        spark = run.spark
        for fname in sorted(os.listdir(self.data_dir(run))):
            if fname.endswith(".parquet"):
                spark.read.parquet(os.path.join(self.data_dir(run), fname)).count()
        noop_write(spark.range(20_000).groupBy((F.col("id") % 10).alias("k")).count())

    def _pass(self, run, p: int, order: list[str]) -> None:
        for q in order:
            run.timed_query(p, q, run.registry[q][0], self.data_dir(run), self.records(q))

    def measure(self, run, seconds: float) -> None:
        """Pass 0 (cold), then measured passes until ``seconds`` have passed
        and at least ``min_passes`` ran. The query order is drawn once per
        run from the seed."""
        order = [str(q) for q in run.rng.permutation(self.queries)]
        for p in range(WARM_PASSES):
            self._pass(run, p, order)
        end = time.perf_counter() + seconds
        p = WARM_PASSES
        while p < WARM_PASSES + self.min_passes or time.perf_counter() < end:
            self._pass(run, p, order)
            p += 1
            if run.elapsed() > LATE_S:
                break  # a slowed host: keep the run inside its deadline

    def check(self, run) -> None:
        pass

    def probe(self, run) -> dict:
        """Direct calls into ``sources`` and ``functions`` on the log; each is
        the median of three noop-write walls."""
        from pyspark.sql import types as T

        from duckdb_nats_jetstream_spark.functions.proto import proto_extract
        from duckdb_nats_jetstream_spark.functions.typed_extract import (
            parse_json_payload,
            typed_extract,
        )
        from duckdb_nats_jetstream_spark.sources.message_scan import message_scan
        from duckdb_nats_jetstream_spark.sources.nats_source import register

        spark, data, proto = run.spark, self.data_dir(run), os.path.join(run.work, "proto")
        register(spark)
        lo = LOG_ROWS // 2
        hi = lo + LOG_ROWS // 100 - 1
        k_schema = T.StructType([T.StructField("k", T.LongType())])
        cases = {
            "scan": lambda: message_scan(spark, data),
            "pushdown": lambda: message_scan(spark, data, start_seq=lo, end_seq=hi),
            "datasource": lambda: spark.read.format("nats_jetstream")
            .option("stream", "events")
            .option("replay_path", os.path.join(data, "events.parquet"))
            .option("partitions", str(run.cores))
            .load(),
            "json": lambda: message_scan(spark, data, json_fields=["k"]),
            "typed": lambda: typed_extract(
                parse_json_payload(message_scan(spark, data, payload_binary=False), k_schema),
                ["k"],
            ),
            "proto_scan": lambda: message_scan(spark, proto),
            "proto": lambda: proto_extract(
                message_scan(spark, proto), gen.PROPS_PROTO, "Props", ["k"]
            ),
        }
        walls = {name: statistics.median(run.timed_probe(name, make) for _ in range(3))
                 for name, make in cases.items()}
        return {
            "sources.scan_msgs_per_s": LOG_ROWS / walls["scan"],
            "sources.pushdown_s": walls["pushdown"],
            "sources.datasource_msgs_per_s": LOG_ROWS / walls["datasource"],
            "functions.json_extract_s": walls["json"] - walls["scan"],
            "functions.typed_extract_s": walls["typed"] - walls["scan"],
            "functions.proto_s": walls["proto"] - walls["proto_scan"],
        }


def _folded_files(checkpoint: str) -> set[str]:
    """Names of the files the file-stream source has committed, from its
    checkpoint log (``sources/0/<batch>`` and compacted ``<batch>.compact``)."""
    import json

    src = os.path.join(checkpoint, "sources", "0")
    out: set[str] = set()
    if not os.path.isdir(src):
        return out
    for fname in os.listdir(src):
        if fname.startswith("."):
            continue
        with open(os.path.join(src, fname)) as fh:
            for line in fh:
                if line.startswith("{"):
                    out.add(os.path.basename(json.loads(line)["path"]))
    return out


def _listing(path: str) -> dict[str, tuple[int, int]]:
    """``file -> (size, mtime)`` of every parquet file under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _read_rollup(out_dir: str) -> dict[tuple[int, str], tuple[int, int]]:
    """``(__p, subject) -> (n_msgs, max_seq)`` from the rollup's files, with
    the two hive partition values taken from each file's path."""
    got = {}
    for path in _listing(out_dir):
        parts = dict(seg.split("=", 1) for seg in
                     os.path.relpath(os.path.dirname(path), out_dir).split(os.sep))
        t = pq.read_table(path, columns=["n_msgs", "max_seq"])
        for n, m in zip(t["n_msgs"].to_pylist(), t["max_seq"].to_pylist()):
            got[(int(parts["__p"]), parts["subject"])] = (n, m)
    return got


class StreamRollup:
    """``message_stream(json_fields=["k"])`` → ``windowed_message_counts`` →
    ``continuous_rollup_sink`` on one checkpoint. Each operation lands
    ``STREAM_CHUNKS_PER_INVOCATION`` new seeded chunks (untimed, atomic
    renames) and then makes one sink invocation, which must fold exactly
    those chunks. A fixed batch per invocation keeps the work per operation
    the same however fast the host runs."""

    name = "stream_rollup"
    #: measured sink invocations, whatever ``--seconds`` is
    min_passes = 3

    def prepare(self, run) -> None:
        self.chunk_msgs = STREAM_CHUNK_MSGS
        self.next_chunk = 0
        self.folded: set[str] = set()
        self.progress: list[dict] = []
        self.sink_files: list[int] = []
        self.sink_bytes: list[int] = []
        self.start_stop: list[float] = []

    def _dirs(self, run, i: int) -> tuple[str, str, str]:
        base = os.path.join(run.work, f"stream{i}")
        return (os.path.join(base, "log"), os.path.join(base, "rollup"),
                os.path.join(base, "checkpoint"))

    def _land(self, run, log_dir: str) -> set[str]:
        """Write the next chunks; chunk ``i`` is stamped ``i`` periods after
        ``STREAM_T0_US``."""
        names = set()
        for _ in range(STREAM_CHUNKS_PER_INVOCATION):
            i = self.next_chunk
            path = gen.stream_chunk(run.rng, log_dir, i, self.chunk_msgs, STREAM_USERS,
                                    STREAM_T0_US + i * STREAM_PERIOD_US)
            names.add(os.path.basename(path))
            self.next_chunk += 1
        return names

    def pre_setup(self, run, i: int) -> None:
        """Input for set-up ``i`` (outside set-up time): the first chunks in
        a fresh log directory."""
        log_dir = self._dirs(run, i)[0]
        os.makedirs(log_dir)
        self.next_chunk = 0
        self._land(run, log_dir)

    def warm_up(self, run, i: int) -> None:
        """Set-up ``i`` ends with the first sink invocation on a fresh
        checkpoint, which folds the chunks ``pre_setup`` wrote."""
        self._invoke(run, *self._dirs(run, i))

    def _invoke(self, run, log_dir, out_dir, checkpoint):
        from duckdb_nats_jetstream_spark.streaming.stream_scan import (
            continuous_rollup_sink,
            message_stream,
            windowed_message_counts,
        )

        u0 = tree_usage()
        t0 = time.perf_counter()
        df = windowed_message_counts(message_stream(run.spark, log_dir, json_fields=["k"]))
        t1 = time.perf_counter()
        q = continuous_rollup_sink(df, out_dir, checkpoint)
        try:
            if not q.awaitTermination(run.op_timeout_s):
                raise TimeoutError(f"sink invocation still running after {run.op_timeout_s}s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        finally:
            if q.isActive:
                q.stop()
        t2 = time.perf_counter()
        u2 = tree_usage()
        return t0, t1, t2, u2, u0, q

    def measure(self, run, seconds: float) -> None:
        log_dir, out_dir, checkpoint = self._dirs(run, run.setups - 1)
        self.folded = _folded_files(checkpoint)
        end = time.perf_counter() + seconds
        n = 0
        while n < self.min_passes or time.perf_counter() < end:
            n += 1
            landed = self._land(run, log_dir)
            before = _listing(out_dir) if run.trace else {}
            ref = statistics.median(reference_s() for _ in range(7))
            run.attempted += 1
            try:
                t0, t1, t2, u2, u0, q = self._invoke(run, log_dir, out_dir, checkpoint)
            except Exception as exc:  # noqa: BLE001 — counted; the loop goes on
                run.record_failure("sink invocation", exc)
                continue
            now_folded = _folded_files(checkpoint)
            new = now_folded - self.folded
            self.folded = now_folded
            if new != landed:
                run.record_failure("sink invocation", ValueError(
                    f"folded {sorted(new)}, landed {sorted(landed)}"))
            run.ops.append(dict(name="invocation", wall=t2 - t0, build=t1 - t0,
                                exec=t2 - t1, cpu=u2.work_s - u0.work_s,
                                jit=u2.jit_s - u0.jit_s, ref=ref,
                                records=len(new) * self.chunk_msgs,
                                group=str(q.runId)))
            if run.trace:
                progress = q.recentProgress
                self.progress.extend(progress)
                self.start_stop.append(t2 - t1 - sum(
                    p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000)
                after = _listing(out_dir)
                changed = [f for f, v in after.items() if before.get(f) != v]
                self.sink_files.append(len(changed))
                self.sink_bytes.append(sum(after[f][0] for f in changed))
            if run.elapsed() > LATE_S:
                break  # a slowed host: keep the run inside its deadline

    def check(self, run) -> None:
        """The rollup of the measured checkpoint must equal per-(hour window,
        subject) message counts and max seq over exactly the folded chunks."""
        import pyarrow as pa

        log_dir, out_dir, _ = self._dirs(run, run.setups - 1)
        t = pa.concat_tables(pq.read_table(os.path.join(log_dir, name))
                             for name in sorted(self.folded))
        subject = pc.binary_join_element_wise(
            "events.", t["event_type"], ".u", pc.cast(t["user_id"], pa.string()), "")
        hour = pc.divide(pc.cast(t["ts"], pa.int64()), 3_600_000_000)
        exp = (pa.table({"h": hour, "subject": subject, "seq": pc.add(t["event_id"], 1)})
               .group_by(["h", "subject"]).aggregate([("seq", "count"), ("seq", "max")]))
        expected = {(h * 3600, s): (n, m) for h, s, n, m in zip(
            exp["h"].to_pylist(), exp["subject"].to_pylist(),
            exp["seq_count"].to_pylist(), exp["seq_max"].to_pylist())}
        got = _read_rollup(out_dir)
        if got != expected:
            run.record_failure("rollup check", ValueError(
                f"rollup has {len(got)} groups, expected {len(expected)}; "
                f"{sum(got.get(k) != v for k, v in expected.items())} differ"))
            run.failed = run.attempted

    def probe(self, run) -> dict:
        return {}

    def layer_metrics(self) -> dict[str, float]:
        """``streaming.*`` from ``recentProgress`` of the data-carrying
        micro-batches, ``sinks.*`` from listings between invocations."""
        data = [p for p in self.progress if p.get("numInputRows", 0) > 0] or self.progress
        dur = [p["durationMs"] for p in data]
        state = [p["stateOperators"][0] for p in self.progress if p.get("stateOperators")]

        return {
            "streaming.trigger_ms_p50": median_or_0(d.get("triggerExecution", 0) for d in dur),
            "streaming.add_batch_ms": median_or_0(d.get("addBatch", 0) for d in dur),
            "streaming.get_batch_ms": median_or_0(
                d.get("getBatch", 0) + d.get("latestOffset", 0) for d in dur),
            "streaming.planning_ms": median_or_0(d.get("queryPlanning", 0) for d in dur),
            "streaming.commit_ms": median_or_0(
                d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur),
            "streaming.start_stop_s": median_or_0(self.start_stop),
            "streaming.state_rows": float(state[-1]["numRowsTotal"]) if state else 0.0,
            "streaming.state_mem_bytes": float(state[-1]["memoryUsedBytes"]) if state else 0.0,
            "sinks.files_per_batch": median_or_0(self.sink_files),
            "sinks.bytes_per_batch": median_or_0(self.sink_bytes),
        }


WORKLOADS = {w.name: w for w in (Batch, StreamRollup)}
