#!/usr/bin/env python3
"""Benchmark of the duckdb_nats_jetstream_spark package.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, sets the engine up three
times (median reported as ``setup_s``), runs the workload for ``--seconds``,
checks every output, and prints one JSON object as the last line of stdout:
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1`` (Spark's event log on). The pinned environment is
printed on the line before. All files go under ``.perfbench/`` in the
checkout. See ``perfbench/README.md`` for every metric's definition.
"""

from __future__ import annotations

import time

T_PROC0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

from procstat import REFERENCE_NOMINAL_S, RssSampler, reference_s, tree_usage  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
DRIVER_MEM = "2g"
RUN_DEADLINE_S = 170
OP_TIMEOUT_S = 120
PACKAGE = "duckdb_nats_jetstream_spark"


def pin_env(work: str, trace: bool) -> dict[str, str]:
    """Fix everything the engine reads from the environment, before the
    JVM starts. Python workers inherit it, so they import the package from
    this checkout whatever the cwd."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [
        "--driver-java-options",
        # C1 only: in a one-minute JVM, C2 takes about half of all CPU
        # compiling and never settles; a fixed set of compiler threads keeps
        # their CPU countable (procstat.tree_usage)
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
        " -XX:-UseDynamicNumberOfCompilerThreads",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{log_dir}"]
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        # oracles that train a codebook at registry import read this dir
        "SPARK_GRAFT_ORACLE_SF_DIR": os.path.join(work, "data"),
    }
    os.environ.update(env)
    return env


class Run:
    """State of one benchmark run: the session, the operations timed, and
    the checks made on their outputs."""

    def __init__(self, args, work: str):
        import numpy as np

        self.work = work
        self.data_dir = os.path.join(work, "data")
        self.trace = bool(args.trace)
        self.rng = np.random.default_rng(args.seed)
        self.cores = len(os.sched_getaffinity(0))
        self.op_timeout_s = OP_TIMEOUT_S
        self.setups = SETUPS
        self.spark = None
        self.registry: dict = {}
        self.oracle: dict[str, int | None] = {}
        self.reference: dict[str, tuple] = {}
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.persisted_after = 0
        self.probe_no = 0

    def elapsed(self) -> float:
        """Seconds since the process started."""
        return time.perf_counter() - T_PROC0

    def record_failure(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        print(f"FAILED {what}: {type(exc).__name__}: {exc}"[:2000], file=sys.stderr)

    def _group(self, group: str) -> None:
        """Attribute the next jobs to ``group`` in the event log."""
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, group)

    def timed_query(self, p: int, name: str, fn, data_dir: str, records: int) -> None:
        """Build (``fn``) then execute (noop write) one query; its output is
        checked outside the timed region against the oracle row count and
        the digest of its first execution."""
        from pyspark.sql import Observation

        from workloads import noop_write

        self.attempted += 1
        try:
            self._group(f"p{p}:{name}:build")
            ref = reference_s()
            u0 = tree_usage()
            t0 = time.perf_counter()
            df = fn(self.spark, data_dir)
            t1 = time.perf_counter()
            self._group(f"p{p}:{name}:exec")
            obs = Observation()
            noop_write(df.observe(obs, *_digest_exprs(df)))
            t2 = time.perf_counter()
            u2 = tree_usage()
            got = obs.get
        except Exception as exc:  # noqa: BLE001 — counted; the loop goes on
            self.record_failure(name, exc)
            return
        n, digest = got["n"], got["d"]
        expect_n = self.oracle.get(name)
        expect = self.reference.setdefault(name, (n if expect_n is None else expect_n, digest))
        if (n, digest) != expect:
            self.record_failure(name, ValueError(
                f"output (rows={n}, digest={digest}) != {expect}"))
        self.ops.append(dict(name=name, pass_=p, wall=t2 - t0, build=t1 - t0,
                             exec=t2 - t1, cpu=u2.work_s - u0.work_s,
                             jit=u2.jit_s - u0.jit_s, ref=ref, records=records))
        if self.trace:
            persisted = self.spark.sparkContext._jsc.getPersistentRDDs().size()
            self.persisted_after = max(self.persisted_after, persisted)

    def timed_probe(self, name: str, make) -> float:
        from workloads import noop_write

        self.probe_no += 1
        self._group(f"probe:{name}:{self.probe_no}")
        t0 = time.perf_counter()
        noop_write(make())
        return time.perf_counter() - t0


def _digest_exprs(df):
    """Row count plus an order-independent hash of every column whose
    values are exact (no floating point, no nested types)."""
    from pyspark.sql import functions as F, types as T

    exact = (T.IntegralType, T.StringType, T.BooleanType, T.DateType,
             T.TimestampType, T.TimestampNTZType, T.DecimalType, T.BinaryType)
    cols = [F.col(f"`{f.name}`") for f in df.schema.fields if isinstance(f.dataType, exact)]
    digest = (F.sum(F.pmod(F.xxhash64(*cols), F.lit(1_000_000_007))) if cols
              else F.lit(0).cast("long"))
    return F.count(F.lit(1)).alias("n"), digest.alias("d")


def _purge_package() -> None:
    for mod in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[mod]


def setup(run: Run, wl, i: int, gen_s: float, gen_cpu_s: float) -> dict[str, float]:
    """Set-up ``i``: session, registry import, warm-up (and the first sink
    invocation on ``stream_rollup``). Set-up 0 counts from process start,
    minus input generation; later ones restart the SparkContext in the
    running JVM and re-import the package. ``cpu`` is its CPU seconds less
    JIT compiling, like an operation's."""
    if i:
        run.spark.stop()
        _purge_package()
    c0 = tree_usage().work_s
    t0 = time.perf_counter()
    from duckdb_nats_jetstream_spark.session import get_spark

    run.spark = get_spark("perfbench")
    run.spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from duckdb_nats_jetstream_spark.queries import full_registry

    run.registry = full_registry()
    t2 = time.perf_counter()
    wl.warm_up(run, i)
    t3 = time.perf_counter()
    c3 = tree_usage().work_s
    return {"get_spark_s": t1 - t0, "registry_import_s": t2 - t1, "warmup_s": t3 - t2,
            "total": t3 - (T_PROC0 + gen_s if i == 0 else t0),
            "cpu": c3 - (gen_cpu_s if i == 0 else c0)}


def _median(xs) -> float:
    from workloads import median_or_0

    return median_or_0(xs)


def measured_ops(run: Run) -> list[dict]:
    """The operations the metrics describe: every sink invocation, or every
    query of the measured batch passes."""
    from workloads import WARM_PASSES

    return [op for op in run.ops if op.get("pass_", WARM_PASSES) >= WARM_PASSES]


def per_pass(ops: list[dict], key: str) -> float:
    """One pass's ``key`` (``cpu``, ``jit``, ``wall`` or ``records``): the
    sum over the pass's operations of each one's median over the measured
    passes. A stream pass is one sink invocation, so there it is the median
    invocation."""
    by_name: dict[str, list[float]] = {}
    for op in ops:
        by_name.setdefault(op["name"], []).append(op[key])
    return sum(statistics.median(v) for v in by_name.values())


def host_scale(ops: list[dict]) -> float:
    """Factor that scales CPU seconds measured in this run to the host speed
    ``REFERENCE_NOMINAL_S`` stands for: nominal ÷ the median reference time
    taken before each operation."""
    return REFERENCE_NOMINAL_S / statistics.median(op["ref"] for op in ops)


def end_to_end(run: Run, wl, setups: list[dict]) -> dict[str, float]:
    ops = measured_ops(run)
    scale = host_scale(ops)
    cpu = per_pass(ops, "cpu") * scale
    return {
        "setup_s": _median(s["cpu"] for s in setups) * scale,
        "pass_cpu_s": cpu,
        "msgs_per_cpu_s": per_pass(ops, "records") / cpu,
    }


def per_layer(run: Run, wl, setups: list[dict], probes: dict,
              rss_peak: int) -> dict[str, float]:
    import eventlog

    stats = eventlog.group_stats(eventlog.read_events(os.path.join(run.work, "eventlog")))
    empty = eventlog.GroupStats()
    # one unit per pass (batch) or per sink invocation (stream)
    units: list[dict] = []
    ops = measured_ops(run)
    if wl.name == "stream_rollup":
        for op in ops:
            units.append(dict(build=op["build"], exec=op["exec"], wall=op["wall"],
                              build_groups=[], exec_groups=[op["group"]]))
    else:
        for p in sorted({op["pass_"] for op in ops}):
            in_pass = [op for op in ops if op["pass_"] == p]
            units.append(dict(
                build=sum(op["build"] for op in in_pass),
                exec=sum(op["exec"] for op in in_pass),
                wall=sum(op["wall"] for op in in_pass),
                build_groups=[f"p{p}:{op['name']}:build" for op in in_pass],
                exec_groups=[f"p{p}:{op['name']}:exec" for op in in_pass]))

    def merged(groups: list[str]) -> eventlog.GroupStats:
        return eventlog.GroupStats.merge([stats.get(g, empty) for g in groups])

    ex = [merged(u["exec_groups"]) for u in units]
    built = [merged(u["build_groups"]) for u in units]
    every = [merged(u["build_groups"] + u["exec_groups"]) for u in units]
    m = {
        "session.get_spark_s": _median(s["get_spark_s"] for s in setups),
        "queries.registry_import_s": _median(s["registry_import_s"] for s in setups),
        "warmup_s": _median(s["warmup_s"] for s in setups),
        "queries.build_s": _median(u["build"] for u in units),
        "queries.build_jobs": _median(b.jobs for b in built),
        "exec.s": _median(u["exec"] for u in units),
        "exec.jobs": _median(e.jobs for e in ex),
        "exec.stages": _median(e.stages for e in ex),
        "exec.tasks": _median(e.tasks for e in ex),
        "exec.task_run_s": _median(e.task_run_ms / 1000 for e in every),
        "exec.gc_s": _median(e.gc_ms / 1000 for e in every),
        "exec.shuffle_write_bytes": _median(e.shuffle_write_bytes for e in every),
        "exec.spill_bytes": _median(e.spill_bytes for e in every),
        "exec.task_skew": _median(e.skew() for e in every),
        "python.bytes_sent": _median(e.python["bytes_sent"] for e in every),
        "python.bytes_returned": _median(e.python["bytes_returned"] for e in every),
        "python.run_s": _median(e.python["run_ms"] / 1000 for e in every),
        "python.start_s": _median(
            (e.python["start_ms"] + e.python["init_ms"]) / 1000 for e in every),
        "materialize.persisted_after": float(run.persisted_after),
        "trace.pass_s": per_pass(ops, "wall"),
        "trace.pass_cpu_s": per_pass(ops, "cpu") * host_scale(ops),
        "host.reference_ms": 1000 * statistics.median(op["ref"] for op in ops),
        "jvm.jit_s": per_pass(ops, "jit"),
        "first_pass_s": sum(op["wall"] for op in run.ops if op.get("pass_") == 0),
        "peak_rss_mb": rss_peak / 2**20,
    }
    pushdown = merged([g for g in stats if g.startswith("probe:pushdown:")])
    if pushdown.tasks:
        from workloads import LOG_ROWS

        rows = LOG_ROWS // 100
        n_probes = sum(1 for g in stats if g.startswith("probe:pushdown:"))
        m["sources.rows_read_per_row"] = pushdown.records_read / n_probes / rows
    m.update(probes)
    m.update(getattr(wl, "layer_metrics", lambda: {})())
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics_spec = spec["per_layer" if args.trace else "end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    sys.path.insert(0, ROOT)
    __import__(PACKAGE)  # fails fast in a directory without the package
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_env(work, bool(args.trace))
    watchdog = threading.Timer(RUN_DEADLINE_S, _abort)
    watchdog.daemon = True
    watchdog.start()

    run = Run(args, work)
    wl = WORKLOADS[args.workload]()
    rss = RssSampler()
    if run.trace:
        rss.start()
    try:
        g0, u0 = time.perf_counter(), tree_usage()
        wl.prepare(run)
        gen_s = time.perf_counter() - g0
        gen_cpu_s = tree_usage().work_s - u0.work_s
        setups = []
        for i in range(SETUPS):
            g0, u0 = time.perf_counter(), tree_usage()
            wl.pre_setup(run, i)
            gen_s += time.perf_counter() - g0
            gen_cpu_s += tree_usage().work_s - u0.work_s
            setups.append(setup(run, wl, i, gen_s, gen_cpu_s))
        phases = {"setup": time.perf_counter() - T_PROC0}
        if hasattr(wl, "queries"):
            from oracle import oracle_counts

            run.oracle = oracle_counts(wl.data_dir(run), run.registry, wl.queries)
        phases["oracle"] = time.perf_counter() - T_PROC0
        wl.measure(run, args.seconds)
        phases["measure"] = time.perf_counter() - T_PROC0
        probes = wl.probe(run) if run.trace else {}
        wl.check(run)
        phases["check"] = time.perf_counter() - T_PROC0
    finally:
        if run.spark is not None:
            run.spark.stop()
        _stop_jvm()
        rss.stop_event.set()
        if rss.is_alive():
            rss.join()
    phases["stop"] = time.perf_counter() - T_PROC0
    print("ops: " + json.dumps([[op.get("pass_"), op["name"], round(op["build"], 3),
                                  round(op["exec"], 3), round(op["cpu"], 2),
                                  round(op["jit"], 2), round(op["ref"] * 1000, 1)]
                                 for op in run.ops]), file=sys.stderr)
    print("phases (s since start): " + json.dumps(
        {"gen": round(gen_s, 2),
         "setups": [{k: round(v, 2) for k, v in s.items()} for s in setups],
         **{k: round(v, 2) for k, v in phases.items()}}), file=sys.stderr)
    if not run.ops:
        raise RuntimeError("no operation completed")
    if run.trace:
        values = per_layer(run, wl, setups, probes, rss.peak)
    else:
        values = end_to_end(run, wl, setups)
    missing = [m["name"] for m in metrics_spec if m["name"] not in values]
    # a layer the workload does not exercise reads 0
    values.update({name: 0.0 for name in missing})
    shutil.rmtree(work, ignore_errors=True)
    watchdog.cancel()
    print("env: " + json.dumps({**env, "cores": run.cores, "workload": wl.name,
                                "setups": SETUPS, "seconds": args.seconds}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in metrics_spec},
    }))
    return 0


def _stop_jvm() -> None:
    """Close the gateway JVM's stdin (it exits on EOF, taking its Python
    workers with it) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 — escalate to a kill, then wait again
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _abort() -> None:
    print(f"run exceeded {RUN_DEADLINE_S}s; aborting", file=sys.stderr)
    try:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(timeout=30)
    finally:
        os._exit(3)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
