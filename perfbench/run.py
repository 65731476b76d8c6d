#!/usr/bin/env python3
"""The repository benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 10 --trace 0

Run from the repository root. The run builds its fixture tables under
``perfbench/.data`` (once per checkout), starts one Spark session with
the engine's defaults (``gpdb_spark.session.get_spark``), warms it the
way ``bench.py`` does, then runs passes over the workload's ops until
``--seconds`` have elapsed. The seed sets the query order and the
pg_session statement stream. Every op's output is checked; the last
line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` passes alternate untraced and traced and the metrics are
the per-layer ones (see ``layers.py``) plus the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import check  # noqa: E402
import fixtures  # noqa: E402
import workloads as W  # noqa: E402
from layers import SELF_LAYERS, Tracer  # noqa: E402

MB = 1 << 20
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
# untimed passes in set-up: the first compiles every query's generated
# code and starts the Python workers; it takes 3-8 times a warm pass.
# Two more registry warm-up passes did not make runs steadier: how much
# the host slows a run matters more than how far the JIT has got.
WARM_PASSES = 1
# timed passes run for --seconds and at least this many (a traced run
# needs its untraced, traced, traced, untraced cycle); passes still get
# 5-30% faster over these as the JIT settles
MIN_PASSES = 4


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(samples: list[float]) -> tuple[str, float]:
    """The highest percentile with at least 10 samples beyond it (p50
    when there are too few samples for any higher one)."""
    xs = sorted(samples)
    name = "p50"
    for p in PERCENTILES:
        if len(xs) * (1 - p / 100) >= 10:
            name = f"p{p:g}"
    q = float(name[1:]) / 100
    return name, xs[min(len(xs) - 1, math.ceil(q * len(xs)) - 1)]


def cpu_ticks() -> tuple[int, int]:
    """Busy and stolen clock ticks summed over this machine's CPUs (the
    user, nice, system, irq, softirq and steal columns of /proc/stat;
    steal reads 0 where the kernel does not report it)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]] + [0] * 8
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


class Stopwatch:
    """Wall time with the hypervisor's steal taken out. On a shared
    virtual machine the host takes CPUs away for seconds at a time (up to
    30% of the busy time over a run on a 4-core VM), which slows every op
    measured then. The wall time of a span is scaled by the share of the CPU time
    this machine wanted that it got: busy / (busy + steal) over the span.
    ``share`` is the stolen share."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.busy0, self.steal0 = cpu_ticks()
        self.share = 0.0

    def stop(self) -> float:
        wall = time.perf_counter() - self.t0
        busy, steal = cpu_ticks()
        busy, steal = busy - self.busy0, steal - self.steal0
        if busy + steal == 0:
            return wall
        self.share = steal / (busy + steal)
        return wall * (1 - self.share)


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class RssSampler:
    """Peak resident set of the Python driver plus its JVM, sampled from
    /proc while the timed passes run."""

    def __init__(self, pids: list[int]):
        self.pids = pids
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _rss_kb(self) -> int:
        total = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
        return total

    def _run(self):
        while True:
            self.peak_kb = max(self.peak_kb, self._rss_kb())
            if self._stop.wait(0.1):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def residue(spark) -> tuple[int, float]:
    """Persisted RDDs and cached block bytes (MB) held by the session."""
    jsc = spark.sparkContext._jsc
    cached = sum(r.memSize() + r.diskSize() for r in jsc.sc().getRDDStorageInfo())
    return jsc.getPersistentRDDs().size(), cached / MB


class Runner:
    """One workload run: set-up, timed passes, output checks."""

    def __init__(self, args, work_dir: str):
        self.args = args
        self.wl = W.WORKLOADS[args.workload]
        self.work_dir = work_dir
        self.fx = fixtures.ensure(os.path.join(HERE, ".data"), self.wl.scale)
        self.rng = random.Random(args.seed)
        self.stream: W.PgStream | None = None
        self.samples: list[tuple[str, str, float]] = []   # key, kind, seconds
        self.passes: list[tuple[float, bool]] = []        # pass seconds, traced
        self.failed: list[str] = []
        self.attempted = 0
        self.log: list[tuple] = []    # pg_session: (op, output) in run order
        self.live_rows: int | None = None  # pg_session table size
        self.steal_share = 0.0

    # -- set-up --------------------------------------------------------------

    def setup(self) -> float:
        """Start the session and warm it up; return the seconds taken.
        The warm-up runs one untimed pass of the workload at the timed
        scale, which compiles the generated code of every query as
        bench.py's warm-up does."""
        from gpdb_spark.session import get_spark

        sw = Stopwatch()
        self.spark = get_spark(
            app_name=f"perfbench-{self.wl.name}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work_dir}/tmp",
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.wl.name == "pg_session":
            from gpdb_spark.catalog import load_table
            from gpdb_spark.engine import Engine

            self.engine = Engine(self.spark)
            orders = load_table(self.spark, self.fx, "orders")
            self.engine.create_table(W.TABLE, orders, os.path.join(self.work_dir, W.TABLE),
                                     distributed_by=("o_orderkey",))
            self.live_rows = orders.count()
            self.stream = W.PgStream(self.rng, self.live_rows)
        else:
            from gpdb_spark.registry import QUERIES
            import gpdb_spark.queries  # noqa: F401 — populate the registry

            self.queries = QUERIES
        for _ in range(WARM_PASSES):
            for op in self.next_pass():
                out = self._execute(op, None)
                if self.stream:
                    self._pg_record(op, out)
        return sw.stop()

    def next_pass(self) -> list:
        if self.stream:
            return self.stream.next_pass()
        return W.registry_pass(self.wl, self.rng)

    def expected(self) -> dict[str, str]:
        """Expected result hash of every registry query, from its DuckDB
        oracle over the same fixture files."""
        from gpdb_spark.registry import ORACLE

        con = check.duckdb_con(self.fx)
        try:
            return {q: check.duckdb_hash(con, ORACLE[q]) for q in self.wl.queries}
        finally:
            con.close()

    # -- timed passes --------------------------------------------------------

    def _execute(self, op, tracer):
        if self.stream:
            if op.kind == "write":
                return self.engine.execute_dml(op.text)
            return self.engine.run(op.text)
        fn = self.queries[op.key]
        df = (tracer.plan_build(fn) if tracer else fn)(self.spark, self.fx)
        return df.collect(), df.columns

    def _pg_record(self, op, out) -> None:
        """Log a pg_session statement's output for the mirror replay."""
        if op.kind == "write":
            self.live_rows += {"insert": out, "delete": -out}.get(op.key, 0)
            self.log.append((op, out))
        else:
            self.log.append((op, check.rows_hash(out)))

    def _run_op(self, op, tracer, expect):
        """Run one op and return its latency, or None if it raised. The
        output is hashed after the clock stops."""
        self.attempted += 1
        rows_before = self.live_rows
        if tracer:
            tracer.begin_op(op.key)
        out = None
        sw = Stopwatch()
        try:
            out = self._execute(op, tracer)
        except Exception:
            traceback.print_exc(file=sys.stderr)
        dt = sw.stop()
        if tracer:
            tracer.end_op(out if op.kind == "write" else None, rows_before)
        if out is None:
            self.failed.append(op.key)
            if self.stream:
                self.log.append((op, None))
            return None
        if self.stream:
            self._pg_record(op, out)
        elif check.result_hash(*out) != expect[op.key]:
            print(f"wrong output: {op.key}", file=sys.stderr)
            self.failed.append(op.key)
        self.samples.append((op.key, op.kind, dt))
        return dt

    def timed(self, expect) -> None:
        tracer = None
        if self.args.trace:
            tracer = Tracer(self.spark)
        window = Stopwatch()
        while True:
            ops = self.next_pass()
            # traced runs alternate untraced, traced, traced, untraced
            # passes, so a drift over the run cancels out of the overhead
            traced = tracer is not None and len(self.passes) % 4 in (1, 2)
            if traced:
                tracer.install()
            try:
                lat = [self._run_op(op, tracer if traced else None, expect) for op in ops]
            finally:
                if traced:
                    tracer.uninstall()
            if None not in lat:
                self.passes.append((sum(lat), traced))
            if (time.perf_counter() - window.t0 >= self.args.seconds
                    and len(self.passes) >= MIN_PASSES):
                break
            if len(self.failed) > 3 * len(ops):
                break
        self.tracer = tracer
        window.stop()
        self.steal_share = window.share

    # -- checks --------------------------------------------------------------

    def verify_pg(self) -> bool:
        """Replay the executed statement stream on a DuckDB mirror and
        compare every output, then the final table contents."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"CREATE TABLE {W.TABLE} AS SELECT * FROM "
                        f"read_parquet('{self.fx}/orders.parquet')")
            ok = True
            for op, got in self.log:
                if got is None:
                    continue
                res = con.execute(op.mirror).fetchall()
                want = res[0][0] if op.kind == "write" else check.rows_hash(res)
                if got != want:
                    print(f"wrong output: {op.key}: {op.text}", file=sys.stderr)
                    self.failed.append(op.key)
                    ok = False
            final = self.engine.table(W.TABLE).collect()
            mirror = con.execute(f"SELECT * FROM {W.TABLE}").fetchall()
            if check.rows_hash(final) != check.rows_hash(mirror):
                print("wrong output: final table contents", file=sys.stderr)
                ok = False
            return ok
        finally:
            con.close()

    # -- report --------------------------------------------------------------

    def _per_query(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for key, _kind, dt in self.samples:
            out.setdefault(key, []).append(dt)
        return out

    def end_to_end(self, setup_s: float) -> dict:
        """Best-of-passes figures, as bench.py takes its best of 2: passes
        still speed up over the run as the JIT settles, and the host
        slows some of them, so the fastest is the least-disturbed estimate
        of the warm state. Over five seeds its spread across runs was
        about half that of the median pass."""
        return {
            "setup_s": (setup_s, "s"),
            "pass_s": (min(p for p, traced in self.passes if not traced), "s"),
            "query_geomean_s": (geomean([min(v) for v in self._per_query().values()]), "s"),
        }

    def session_detail(self, res_before, res_after, rss_mb: float) -> dict:
        out = {}
        for kind in ("read", "write"):
            xs = [dt * 1e3 for _k, n, dt in self.samples if n == kind]
            if xs:
                name, value = tail(xs)
                out[f"{kind}_p50_ms"] = statistics.median(xs)
                out[f"{kind}_tail_ms"] = value
                out[f"{kind}_tail"] = f"{name} of {len(xs)}"
        out["query_s"] = self._per_query()
        out["ops_failed_frac"] = len(self.failed) / max(1, self.attempted)
        out["steal_share"] = self.steal_share
        out["residue_rdds"] = res_after[0] - res_before[0]
        out["residue_cached_mb"] = res_after[1] - res_before[1]
        out["peak_rss_mb"] = rss_mb
        return out

    def per_layer(self, session: dict) -> dict:
        tr = self.tracer
        traced = [p for p, t in self.passes if t]
        untraced = [p for p, t in self.passes if not t]
        n = len(traced)
        m = {}
        names = [
            ("queries.plan_build_ms", "ms"), ("queries.plan_build_jobs", "count"),
            ("dialect.translate_ms", "ms"), ("dialect.translate_calls", "count"),
            ("engine.self_ms", "ms"),
            ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
            ("catalyst.planning_ms", "ms"),
            ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
            ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
            ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
            ("exec.spill_mb", "MB"), ("exec.input_mb", "MB"),
            ("driver.result_ms", "ms"),
            ("pyworker.nodes", "count"), ("pyworker.rows_out", "count"),
            ("pyworker.sent_mb", "MB"), ("pyworker.recv_mb", "MB"),
            ("pyworker.time_s", "s"),
            ("storage.bytes_written_mb", "MB"), ("storage.files_written", "count"),
        ]
        for name, unit in names:
            m[name] = (tr.totals.get(name, 0.0) / n, unit)
        m["storage.write_amp"] = (
            statistics.median(tr.write_amps) if tr.write_amps else 0.0, "ratio")
        m["operators.jobs_per_query"] = (tr.totals.get("exec.jobs", 0.0) / max(1, tr.ops), "count")
        m["operators.persisted_peak"] = (tr.totals.get("operators.persisted_peak", 0.0), "count")
        for layer in SELF_LAYERS:
            m[f"self.{layer}_ms"] = (tr.selftime.get(layer, 0.0) / n, "ms")
        m["trace.pass_s"] = (statistics.median(traced), "s")
        m["trace.overhead_s"] = (statistics.median(traced) - statistics.median(untraced), "s")
        m["trace.selftime_residual_ms"] = (tr.max_residual_ms, "ms")
        for key in ("read_p50_ms", "read_tail_ms", "write_p50_ms", "write_tail_ms"):
            m[f"session.{key}"] = (session.get(key, 0.0), "ms")
        m["session.ops_failed_frac"] = (session["ops_failed_frac"], "ratio")
        m["session.residue_rdds"] = (session["residue_rdds"], "count")
        m["session.residue_cached_mb"] = (session["residue_cached_mb"], "MB")
        m["session.peak_rss_mb"] = (session["peak_rss_mb"], "MB")
        return m

    def print_selftime(self) -> None:
        tr = self.tracer
        n = sum(1 for _p, t in self.passes if t)
        total = sum(tr.selftime.values()) / n
        print(f"self-time per traced pass, {self.wl.name} ({tr.ops} ops,"
              f" {n} passes, max residual {tr.max_residual_ms:.3f} ms):")
        for layer in SELF_LAYERS:
            ms = tr.selftime.get(layer, 0.0) / n
            print(f"  {layer:24s} {ms:10.1f} ms  {100 * ms / total:5.1f}%")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon it started) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import gpdb_spark  # noqa: F401 — fail fast outside a checkout

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".work"))
    # keep every file Spark, py4j and the Python workers write inside
    # the checkout
    os.makedirs(os.path.join(work_dir, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    runner = Runner(args, work_dir)
    try:
        setup_s = runner.setup()
        expect = runner.expected() if runner.wl.queries else {}
        from pyspark.version import __version__ as spark_version

        jvm_pid = int(runner.spark._jvm.java.lang.ProcessHandle.current().pid())
        res_before = residue(runner.spark)
        with RssSampler([os.getpid(), jvm_pid]) as rss:
            runner.timed(expect)
        res_after = residue(runner.spark)
        correct = True
        if runner.wl.name == "pg_session":
            correct = runner.verify_pg()
        correct = correct and not runner.failed
        session = runner.session_detail(res_before, res_after, rss.peak_kb / 1024)
        print("env " + json.dumps({
            "nproc": len(os.sched_getaffinity(0)),
            "spark": spark_version,
            "default_parallelism": runner.spark.sparkContext.defaultParallelism,
            "fixtures": os.path.relpath(runner.fx, ROOT),
        }))
        print("detail " + json.dumps({
            "workload": runner.wl.name, "seed": args.seed,
            "passes_s": [p for p, _t in runner.passes], "failed_ops": runner.failed, **session,
        }))
        if args.trace:
            runner.print_selftime()
            metrics = runner.per_layer(session)
        else:
            metrics = runner.end_to_end(setup_s)
        result = {
            "correct": bool(correct),
            "attempted": runner.attempted,
            "failed": len(runner.failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if hasattr(runner, "spark"):
            stop_spark(runner.spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
