"""Traced mode: spans around each layer's public entry points.

Python-side spans come from wrappers the tracer installs for the length
of one traced pass and removes afterwards:

- ``queries``: the registry callable (plan construction, including any
  jobs it fires before the action);
- ``dialect``: ``gpdb_spark.dialect.translate``;
- ``engine``: ``Engine.run`` and ``Engine.execute_dml``;
- ``storage``: ``GpTable.insert_into``, ``delete_where`` and
  ``update_set``, with the table directory listed before and after.

JVM-side child spans are read from Spark's public state after the op:
Catalyst phases from ``queryExecution().tracker().phases()`` of every
DataFrame the op built with ``SparkSession.sql`` or acted on with
``collect``/``count``; jobs and stage metrics from the status store,
found through a job group named after the op id; ``driver`` is the time
from the last job's end to the action's return.

Every instant of an op is attributed to exactly one layer, the innermost
span covering it (JVM spans are leaves), so an op's layer self-times add
up to its traced wall time.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1 << 20
PY_NODES = {"ArrowEvalPython", "MapInPandas", "MapInArrow",
            "FlatMapGroupsInPandas", "BatchEvalPython"}
SELF_LAYERS = ("other", "queries", "dialect", "engine", "storage",
               "catalyst.analysis", "catalyst.optimization",
               "catalyst.planning", "exec", "driver")
# JVM spans are leaves; among them a running job outranks a phase
_JVM_RANK = {"driver": 1, "catalyst.analysis": 2, "catalyst.optimization": 2,
             "catalyst.planning": 2, "exec": 3}


@dataclass
class Span:
    layer: str
    start: float            # epoch seconds
    end: float
    depth: int
    info: dict = field(default_factory=dict)


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    """Collects spans for the op in flight and folds each finished op
    into per-layer totals."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.op_id = 0
        self.t0 = 0.0
        self.active = False
        self.depth = 0
        self.spans: list[Span] = []
        self.qes: list[tuple[object, bool, float]] = []
        self._patches: list[tuple[object, str, object]] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.selftime: dict[str, float] = defaultdict(float)
        self.write_amps: list[float] = []
        self.ops = 0
        self.max_residual_ms = 0.0
        self._persist_base = 0
        self._persist_peak = 0
        self._sampler: threading.Thread | None = None
        self._stop = threading.Event()

    # -- wrappers ------------------------------------------------------------

    def _wrap(self, fn, layer, storage=False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            tracer.depth += 1
            depth = tracer.depth
            info = {}
            if storage:
                info["before"] = _dir_files(args[0].path)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                tracer.depth -= 1
                if storage:
                    after = _dir_files(args[0].path)
                    new = {k: v for k, v in after.items()
                           if info["before"].get(k) != v}
                    info = {"bytes_before": sum(info["before"].values()),
                            "written": sum(new.values()), "files": len(new)}
                tracer.spans.append(Span(layer, t0, t1, depth, info))
        return wrapper

    def _capture(self, fn, is_collect, returns_df=False):
        """Wrap a DataFrame action (or ``SparkSession.sql``, which returns
        the DataFrame) to keep its query execution for the Catalyst
        phases and, after a collect, the final plan's Python nodes."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(obj, *args, **kwargs):
            out = fn(obj, *args, **kwargs)
            if tracer.active:
                df = out if returns_df else obj
                tracer.qes.append((df._jdf.queryExecution(), is_collect, time.time()))
            return out
        return wrapper

    def _patch(self, owner, name, new):
        self._patches.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def install(self) -> None:
        from pyspark.sql import SparkSession
        from pyspark.sql.classic.dataframe import DataFrame

        import gpdb_spark.dialect as dialect
        from gpdb_spark.engine import Engine
        from gpdb_spark.storage import GpTable

        self._patch(dialect, "translate", self._wrap(dialect.translate, "dialect"))
        for m in ("run", "execute_dml"):
            self._patch(Engine, m, self._wrap(getattr(Engine, m), "engine"))
        for m in ("insert_into", "delete_where", "update_set"):
            self._patch(GpTable, m, self._wrap(getattr(GpTable, m), "storage",
                                               storage=True))
        self._patch(DataFrame, "collect", self._capture(DataFrame.collect, True))
        self._patch(DataFrame, "count", self._capture(DataFrame.count, False))
        self._patch(SparkSession, "sql", self._capture(SparkSession.sql, False, True))

    def uninstall(self) -> None:
        while self._patches:
            owner, name, orig = self._patches.pop()
            setattr(owner, name, orig)

    def plan_build(self, fn):
        """The registry callable, wrapped as the ``queries`` span."""
        return self._wrap(fn, "queries")

    # -- per op --------------------------------------------------------------

    def _persisted(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def _sample_persisted(self) -> None:
        while not self._stop.wait(0.02):
            self._persist_peak = max(self._persist_peak, self._persisted())

    def begin_op(self, key: str) -> None:
        self.op_id += 1
        self.spans, self.qes = [], []
        self.active = True
        self._persist_base = self._persist_peak = self._persisted()
        self._stop.clear()
        self._sampler = threading.Thread(target=self._sample_persisted, daemon=True)
        self._sampler.start()
        self.sc.setJobGroup(f"perfbench-{self.op_id}", key)
        self.t0 = time.time()

    def end_op(self, affected: int | None = None, rows_before: int | None = None) -> None:
        """Close the op in flight and fold its spans into the totals;
        ``affected`` and ``rows_before`` give a write's amplification."""
        t1 = time.time()
        self.active = False
        self._stop.set()
        self._sampler.join()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.jsc.listenerBus().waitUntilEmpty()
        spans = [Span("other", self.t0, t1, 0)] + self.spans
        spans += self._job_spans(self.t0, t1)
        spans += self._catalyst_spans(self.t0, t1)
        last_job = max((s.end for s in spans if s.layer == "exec"), default=None)
        last_collect = max((t for _qe, c, t in self.qes if c), default=None)
        if last_job is not None and last_collect is not None and last_collect > last_job:
            spans.append(Span("driver", last_job, last_collect, 99))
        self._pyworker()
        self._fold(spans, t1 - self.t0, affected, rows_before)

    def _job_spans(self, t0: float, t1: float) -> list[Span]:
        store = self.jsc.statusStore()
        ids = self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{self.op_id}")
        out = []
        tot = self.totals
        builds = [s for s in self.spans if s.layer == "queries"]
        for jid in ids:
            job = store.job(jid)
            start = job.submissionTime().get().getTime() / 1000.0
            end = job.completionTime().get().getTime() / 1000.0
            out.append(Span("exec", max(start, t0), min(max(end, start), t1), 99))
            tot["exec.jobs"] += 1
            if any(b.start <= start <= b.end for b in builds):
                tot["queries.plan_build_jobs"] += 1
            for sid in _scala_iter(job.stageIds()):
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                tot["exec.stages"] += 1
                tot["exec.tasks"] += st.numCompleteTasks()
                tot["exec.run_s"] += st.executorRunTime() / 1e3
                tot["exec.cpu_s"] += st.executorCpuTime() / 1e9
                tot["exec.gc_s"] += st.jvmGcTime() / 1e3
                tot["exec.shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                tot["exec.shuffle_read_mb"] += st.shuffleReadBytes() / MB
                tot["exec.spill_mb"] += (st.memoryBytesSpilled()
                                         + st.diskBytesSpilled()) / MB
                tot["exec.input_mb"] += st.inputBytes() / MB
        return out

    def _catalyst_spans(self, t0: float, t1: float) -> list[Span]:
        seen, out = set(), []
        for qe, _c, _t in self.qes:
            for kv in _scala_iter(qe.tracker().phases()):
                name, ph = kv._1(), kv._2()
                layer = "catalyst." + ("analysis" if name == "parsing" else name)
                key = (name, ph.startTimeMs(), ph.endTimeMs())
                if layer not in _JVM_RANK or key in seen:
                    continue
                seen.add(key)
                self.totals[layer + "_ms"] += ph.durationMs()
                start = max(ph.startTimeMs() / 1000.0, t0)
                out.append(Span(layer, start, max(start, min(ph.endTimeMs() / 1000.0, t1)), 99))
        return out

    def _pyworker(self) -> None:
        tot = self.totals
        for qe, is_collect, _t in self.qes:
            if not is_collect:
                continue
            stack = [qe.executedPlan()]
            while stack:
                node = stack.pop()
                cls = node.getClass().getSimpleName()
                if cls == "AdaptiveSparkPlanExec":
                    stack.append(node.executedPlan())
                    continue
                if cls.endswith("QueryStageExec"):
                    stack.append(node.plan())
                    continue
                if cls == "ReusedExchangeExec":
                    stack.append(node.child())
                    continue
                if node.nodeName() in PY_NODES:
                    tot["pyworker.nodes"] += 1
                    metrics = {kv._1(): kv._2() for kv in _scala_iter(node.metrics())}

                    def value(name):
                        m = metrics.get(name)
                        return 0 if m is None else m.value()

                    tot["pyworker.rows_out"] += value("pythonNumRowsReceived")
                    tot["pyworker.sent_mb"] += value("pythonDataSent") / MB
                    tot["pyworker.recv_mb"] += value("pythonDataReceived") / MB
                    total = metrics.get("pythonTotalTime")
                    if total is not None:
                        scale = 1e9 if total.metricType() == "nsTiming" else 1e3
                        tot["pyworker.time_s"] += total.value() / scale
                stack.extend(_scala_iter(node.children()))

    def _fold(self, spans, wall, affected, rows_before) -> None:
        tot = self.totals
        self.ops += 1
        tot["operators.persisted_peak"] = max(
            tot["operators.persisted_peak"], self._persist_peak - self._persist_base)
        for s in spans:
            d = (s.end - s.start) * 1e3
            if s.layer == "queries":
                tot["queries.plan_build_ms"] += d
            elif s.layer == "dialect":
                tot["dialect.translate_ms"] += d
                tot["dialect.translate_calls"] += 1
            elif s.layer == "driver":
                tot["driver.result_ms"] += d
            elif s.layer == "storage":
                tot["storage.bytes_written_mb"] += s.info["written"] / MB
                tot["storage.files_written"] += s.info["files"]
                if affected and rows_before:
                    row_bytes = s.info["bytes_before"] / rows_before
                    self.write_amps.append(s.info["written"] / (affected * row_bytes))
        # attribute every instant of the op to the innermost covering span
        t0, t1 = spans[0].start, spans[0].end
        cuts = sorted({min(max(x, t0), t1) for s in spans for x in (s.start, s.end)})
        own: dict[str, float] = defaultdict(float)
        for a, b in zip(cuts, cuts[1:]):
            mid = (a + b) / 2
            cover = [s for s in spans if s.start <= mid < s.end]
            best = max(cover, key=lambda s: (_JVM_RANK.get(s.layer, 0), s.depth, s.start))
            own[best.layer] += (b - a) * 1e3
        for layer, ms in own.items():
            self.selftime[layer] += ms
        tot["engine.self_ms"] += own.get("engine", 0.0)
        self.max_residual_ms = max(self.max_residual_ms,
                                   abs(sum(own.values()) - wall * 1e3))
