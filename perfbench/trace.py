"""Tracing for the traced run: in-memory spans plus Spark/JVM counters.

Spans are recorded from the benchmark's side, at the calls into each layer's
public functions (``queries`` build, ``tables.load_table``,
``BoundFeatureGroup.read/write``, ``io.writer.write_feature_group``, the
action). Counters are read from the JVM (MXBeans, Spark's codegen metrics)
and from Spark's status store per job group. Nothing here runs in an
untraced run: the untraced run uses :class:`NullTracer`.
"""

from __future__ import annotations

import functools
import re
import time
from collections import defaultdict

# Plan shapes counted in the final adaptive plan of each traced op.
PLAN_SHAPES = {
    "plan.exchanges": re.compile(r"(?<!Broadcast)Exchange "),
    "plan.smj": re.compile(r"\bSortMergeJoin\b"),
    "plan.bhj": re.compile(r"\bBroadcastHashJoin\b"),
    "plan.scans": re.compile(r"\b(?:FileScan|Scan) (?:parquet|csv|json|ExistingRDD|OneRowRelation)"),
    "plan.python_evals": re.compile(
        r"\b(?:ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas|"
        r"FlatMapGroupsInArrow|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas)\b"),
}


class Spans:
    """Spans kept in memory: ``(id, parent, name, start_s, end_s, attrs)``."""

    def __init__(self) -> None:
        self.items: list[dict] = []
        self._stack: list[int] = []

    def open(self, span: str, **attrs) -> int:
        sid = len(self.items)
        self.items.append({"id": sid, "parent": self._stack[-1] if self._stack else None,
                           "name": span, "start": time.perf_counter(), "end": None,
                           "attrs": attrs})
        self._stack.append(sid)
        return sid

    def close(self, sid: int, **attrs) -> float:
        span = self.items[sid]
        span["end"] = time.perf_counter()
        span["attrs"].update(attrs)
        while self._stack and self._stack[-1] != sid:
            self._stack.pop()
        if self._stack:
            self._stack.pop()
        return span["end"] - span["start"]


class JvmProbe:
    """Reads cumulative JVM and Spark counters through py4j."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jvm = spark._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._codegen_ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._sc = spark.sparkContext._jsc.sc()

    def snapshot(self) -> dict[str, float]:
        gcs = self._mf.getGarbageCollectorMXBeans()
        return {
            "jvm.jit_ms": float(self._mf.getCompilationMXBean().getTotalCompilationTime()),
            "jvm.gc_ms": float(sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))),
            "jvm.gc_count": float(sum(gcs.get(i).getCollectionCount() for i in range(gcs.size()))),
            "codegen.compiles": float(self._codegen.METRIC_COMPILATION_TIME().getCount()),
            # cumulative Janino compile time, in nanoseconds
            "codegen.compile_ms": self._codegen_ns.compileTime() / 1e6,
        }

    def drain_listeners(self) -> None:
        """Wait until Spark's listener bus has delivered every event, so the
        status store holds the finished jobs' stage metrics."""
        self._sc.listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def job_metrics(self, job_ids: list[int]) -> dict[str, float]:
        tracker = self._sc.statusTracker()
        store = self._sc.statusStore()
        out = defaultdict(float)
        out["exec.jobs"] = float(len(job_ids))
        seen = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info.isEmpty():
                continue
            for sid in info.get().stageIds():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # py4j error: stage evicted or skipped
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += st.numCompleteTasks()
                out["exec.task_ms"] += st.executorRunTime()
                out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return dict(out)


def catalyst_phases(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for key, name in (("analysis", "catalyst.analysis_ms"),
                      ("optimization", "catalyst.optimization_ms"),
                      ("planning", "catalyst.planning_ms")):
        ph = phases.get(key)
        out[name] = float(ph.get().durationMs()) if ph.isDefined() else 0.0
    return out


def plan_shape(df) -> dict[str, float]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {k: float(len(rx.findall(plan))) for k, rx in PLAN_SHAPES.items()}


def scanned_rows(df) -> float:
    """Rows output by the file scans of an executed plan (SQL metric
    ``numOutputRows``), walking into adaptive query stages."""
    total = 0.0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls in ("FileSourceScanExec", "BatchScanExec"):
            total += float(node.metrics().apply("numOutputRows").value())
            continue
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return total


class NullTracer:
    """The untraced run's tracer: every hook is a no-op."""

    enabled = False
    timed = False
    pass_no = 0

    def install(self) -> None:
        pass

    def begin_op(self, kind: str, name: str) -> None:
        pass

    def begin_action(self) -> None:
        pass

    def end_op(self, df=None, rows: int | None = None, scan: bool = False) -> None:
        pass

    def report(self) -> dict:
        return {}


class Tracer(NullTracer):
    """Per-op spans and counter deltas for the traced run."""

    enabled = True

    def __init__(self, spark) -> None:
        self.spark = spark
        self.probe = JvmProbe(spark)
        self.spans = Spans()
        self.ops: list[dict] = []
        self._op = None
        self._n = 0
        self._patched: list[tuple] = []
        self.timed = False
        self.pass_no = 0
        # tracer bookkeeping time outside the ops' spans (counter reads)
        self.overhead_s = 0.0

    # -- wrappers around the layers' public functions ------------------------

    def _wrap(self, owner, attr: str, span: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            sid = tracer.spans.open(span)
            try:
                return orig(*args, **kwargs)
            finally:
                dt = tracer.spans.close(sid)
                if tracer._op is not None:
                    tracer._op["layers"][span + "_ms"] += dt * 1000.0
                    tracer._op["layers"][span + "_calls"] += 1

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        from raise_featurestore_spark import queries, tables
        from raise_featurestore_spark.catalog.store import BoundFeatureGroup
        from raise_featurestore_spark.io import cache, writer

        # one wrapper object shared by both bindings, so a call through
        # either name is counted once
        self._wrap(tables, "load_table", "tables.load")
        queries.load_table = tables.load_table
        self._patched.append((queries, "load_table", self._patched[-1][2]))
        self._wrap(BoundFeatureGroup, "read", "catalog.read")
        self._wrap(BoundFeatureGroup, "write", "catalog.write")
        self._wrap(writer, "write_feature_group", "io.write")
        self._wrap(cache, "cached_table", "io.cache.prime")
        self._wrap(cache, "cached_json", "io.cache.prime")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- op lifecycle ----------------------------------------------------------

    def begin_op(self, kind: str, name: str) -> None:
        if self._op is not None:  # the previous op raised: drop its record
            if "span" in self._op:
                self.spans.close(self._op["span"])
            self._op = None
        t_book = time.perf_counter()
        self._n += 1
        group = f"perfbench-{self._n}"
        self.spark.sparkContext.setJobGroup(group + "-build", name)
        self._op = {"kind": kind, "name": name, "group": group, "timed": self.timed,
                    "pass": self.pass_no,
                    "layers": defaultdict(float), "before": self.probe.snapshot()}
        self.overhead_s += time.perf_counter() - t_book
        self._op["span"] = self.spans.open("op", kind=kind, op=name)
        self._op["build"] = self.spans.open("build")

    def begin_action(self) -> None:
        op = self._op
        op["build_s"] = self.spans.close(op["build"])
        op["action"] = self.spans.open("action")
        self.spark.sparkContext.setJobGroup(op["group"] + "-action", op["name"])

    def end_op(self, df=None, rows: int | None = None, scan: bool = False) -> None:
        op = self._op
        planned = "action" in op
        if planned:
            op["action_s"] = self.spans.close(op["action"])
        else:
            # an op with no separate plan (a write, a refresh) is all action
            op["action_s"] = self.spans.close(op["build"])
            op["build_s"] = 0.0
        self.spans.close(op["span"])
        t_book = time.perf_counter()
        # counters are read after the op's spans are closed: their cost
        # is tracing overhead, not op time
        self.probe.drain_listeners()
        after = self.probe.snapshot()
        m = op["layers"]
        for k, v in after.items():
            m[k] = v - op["before"][k]
        m["queries.build_ms"] = op["build_s"] * 1000.0
        m["exec.action_ms"] = op["action_s"] * 1000.0
        build_jobs = self.probe.group_jobs(op["group"] + "-build")
        if planned:
            m["queries.build_jobs"] = float(len(build_jobs))
        action_jobs = self.probe.group_jobs(op["group"] + "-action") if planned else build_jobs
        for k, v in self.probe.job_metrics(action_jobs).items():
            m[k] = v
        if df is not None:
            try:
                m.update(catalyst_phases(df))
                m.update(plan_shape(df))
                if scan:
                    m["record_lookup.rows_scanned"] = scanned_rows(df)
            except Exception as ex:  # py4j: plan not executed or node API differs
                m["trace_errors"] += 1
                op["trace_error"] = f"{type(ex).__name__}: {ex}"[:200]
        if rows is not None:
            m["result.rows"] = float(rows)
        self.spark.sparkContext.setJobGroup("perfbench-idle", "between ops")
        op.pop("before")
        op["layers"] = dict(m)
        self.ops.append(op)
        self._op = None
        self.overhead_s += time.perf_counter() - t_book

    def report(self) -> dict:
        return {"spans": self.spans.items, "ops": [
            {k: v for k, v in op.items() if k in ("kind", "name", "timed", "pass", "layers",
                                                     "build_s", "action_s", "trace_error")}
            for op in self.ops]}


def summarize(ops: list[dict], per_pass: bool) -> dict[str, float]:
    """Per-layer values of the timed ops: the median over timed passes of
    each pass's sum (``per_pass``), or the mean per timed op."""
    import statistics

    timed = [op for op in ops if op["timed"]]
    keys = sorted({k for op in timed for k in op["layers"]})
    if per_pass:
        passes = sorted({op["pass"] for op in timed})
        return {k: statistics.median(
            sum(op["layers"].get(k, 0.0) for op in timed if op["pass"] == p) for p in passes)
            for k in keys}
    return {k: sum(op["layers"].get(k, 0.0) for op in timed) / len(timed) for k in keys}
