"""Span tracing for the traced benchmark run.

A span wraps one call into a layer. Each span gets its own Spark job
group, so the jobs a layer launches while it is the innermost open span
are attributed to it. After each traced operation (outside the timed
region) the spans' Spark work is read from the in-process status store:

- ``statusTracker().getJobIdsForGroup`` gives a span's jobs;
- ``statusStore().lastStageAttempt(stage)`` gives executor run and CPU
  time, GC time, shuffle read/write bytes and spill;
- the SQL status store (``sharedState().statusStore()``) gives the
  per-plan-node metrics: Python worker run time and bytes each way, and
  row counts for the rows-scanned ratios.

Spans stay in memory and are reduced once per traced operation; the
per-operation totals are reduced to per-layer medians at the end of the
run. No UI, listener jar or network is used (``spark.ui.enabled=false``).
"""

from __future__ import annotations

import contextlib
import functools
import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "wall_s",
    "self_s",
    "jobs",
    "task_cpu_s",
    "task_run_s",
    "gc_s",
    "shuffle_bytes",
    "spill_bytes",
    "python_run_s",
    "python_bytes",
)

# Every span the traced run records. Each wraps a public function of the
# named module (or, for ``registry.build``/``registry.exec``, a registry
# entry's ``fn()`` and the action that materializes its result).
SPANS = (
    "session.get_spark",
    "registry.build",
    "registry.exec",
    "registry.release_caches",
    "operators.ivf.ivf_build",
    "functions.kmeans.collect_train_sample",
    "functions.kmeans.lloyd_fit",
    "operators.ivf.ivf_write",
    "operators.ivf.ivf_search",
    "operators.topk.topk_multi",
    "operators.dedup.minhash_lsh_pairs",
    "functions.text.scored_docs",
)

RATIOS = (
    "operators.ivf.ivf_search.rows_scanned_per_result",
    "operators.ivf.ivf_search.clusters_probed_frac",
    "operators.topk.topk_multi.rows_scanned_per_result",
    "operators.dedup.minhash_lsh_pairs.verified_per_candidate",
)

# Lazily composed layers whose Python work runs later, inside some other
# span's action: their Python-node metrics are attributed by the UDF the
# plan node evaluates, wherever that node executes.
PYTHON_UDF_OWNER = {"_profile_arrow": "functions.text.scored_docs"}

_PY_RUN = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_ROWS = "number of output rows"
_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_NUM = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric value, in seconds for timings,
    bytes for sizes, or a plain count. Multi-task values carry a
    ``total (min, med, max ...)`` header line before the total."""
    lines = text.strip().splitlines()
    line = lines[-1] if lines[0].startswith("total") else lines[0]
    m = _NUM.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    name: str
    group: str
    parent: "Span | None"
    t0: float
    t1: float = 0.0
    children: list["Span"] = field(default_factory=list)


class Tracer:
    """Records spans for one traced operation at a time. ``begin_op``
    starts an operation, ``span`` nests calls, ``end_op`` reads the
    status store and returns per-span counter totals for the
    operation plus the plan-node row counts its SQL executions saw."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._stack: list[Span] = []
        self._spans: list[Span] = []
        self._n = 0
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._as_java = conv.asJava
        self._jstore = self.sc._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec = self._max_execution_id()

    # -- recording ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        sp = Span(name, f"perfbench-span-{self._n}", parent, time.perf_counter())
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children.append(sp)
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._spans.append(sp)

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a spanned wrapper; returns an undo
        callable. Callers that look the function up on the module at
        call time (``km.lloyd_fit(...)``) go through the span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, orig)

    # -- reading the status store -----------------------------------------

    def _max_execution_id(self) -> int:
        execs = self._as_java(self._sql_store.executionsList())
        return max((int(e.executionId()) for e in execs), default=-1)

    def _stage_counters(self, job_ids) -> dict[str, float]:
        out = dict.fromkeys(("task_cpu_s", "task_run_s", "gc_s", "shuffle_bytes", "spill_bytes"), 0.0)
        tracker = self.sc.statusTracker()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = self._jstore.lastStageAttempt(sid)
                except Py4JJavaError:  # never-attempted stage: no metrics
                    continue
                out["task_cpu_s"] += sd.executorCpuTime() * 1e-9
                out["task_run_s"] += sd.executorRunTime() * 1e-3
                out["gc_s"] += sd.jvmGcTime() * 1e-3
                out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def _new_executions(self) -> list[tuple[set[int], list[tuple[str, str, dict]]]]:
        """SQL executions started since the last call: (job ids, plan
        nodes as (name, description, {metric: value}))."""
        out = []
        newest = self._seen_exec
        for e in self._as_java(self._sql_store.executionsList()):
            eid = int(e.executionId())
            if eid <= self._seen_exec:
                continue
            newest = max(newest, eid)
            jobs = {int(j) for j in self._as_java(e.jobs()).keySet()}
            values = self._as_java(self._sql_store.executionMetrics(eid))
            nodes = []
            for n in self._as_java(self._sql_store.planGraph(eid).allNodes()):
                ms = {}
                for m in self._as_java(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v is not None:
                        ms[m.name()] = parse_metric(v)
                nodes.append((n.name(), n.desc(), ms))
            out.append((jobs, nodes))
        self._seen_exec = newest
        return out

    def begin_op(self) -> None:
        self._spans = []
        self._seen_exec = self._max_execution_id()

    def end_op(self) -> tuple[dict[str, dict[str, float]], list]:
        """Per-span-name counter totals of the operation just traced, and
        its SQL executions, each tagged with the names of the spans open
        when it ran.

        Counters are inclusive (a span counts the jobs of the spans
        nested in it) except ``self_s``, which is the span's wall time
        minus the part its children cover."""
        tracker = self.sc.statusTracker()
        job_span: dict[int, Span] = {}
        own: dict[int, dict[str, float]] = {}
        for sp in self._spans:
            jobs = list(tracker.getJobIdsForGroup(sp.group))
            job_span.update((j, sp) for j in jobs)
            own[id(sp)] = {"jobs": float(len(jobs)), "python_run_s": 0.0, "python_bytes": 0.0}
            own[id(sp)].update(self._stage_counters(jobs))
        udf_python: dict[str, dict[str, float]] = {}
        executions = []
        for jobs, nodes in self._new_executions():
            owner = next((job_span[j] for j in sorted(jobs) if j in job_span), None)
            executions.append((_chain(owner), nodes))
            for _name, desc, ms in nodes:
                if _PY_RUN not in ms:
                    continue
                py = {"python_run_s": ms[_PY_RUN], "python_bytes": sum(ms.get(k, 0.0) for k in _PY_BYTES)}
                if owner is not None:
                    for k, v in py.items():
                        own[id(owner)][k] += v
                for udf, layer in PYTHON_UDF_OWNER.items():
                    if f"{udf}(" in desc and layer not in _chain(owner):
                        acc = udf_python.setdefault(layer, {})
                        for k, v in py.items():
                            acc[k] = acc.get(k, 0.0) + v

        def inclusive(sp: Span) -> dict[str, float]:
            c = dict(own[id(sp)])
            for child in sp.children:
                for k, v in inclusive(child).items():
                    c[k] += v
            return c

        totals: dict[str, dict[str, float]] = {}
        for sp in self._spans:
            wall = sp.t1 - sp.t0
            c = inclusive(sp)
            c.update(wall_s=wall, self_s=wall - _covered(sp.children))
            acc = totals.setdefault(sp.name, dict.fromkeys(COUNTERS, 0.0))
            for k, v in c.items():
                acc[k] += v
        for layer, py in udf_python.items():
            acc = totals.setdefault(layer, dict.fromkeys(COUNTERS, 0.0))
            for k, v in py.items():
                acc[k] += v
        self._spans = []
        return totals, executions


def _chain(sp: Span | None) -> set[str]:
    """Names of ``sp`` and every span enclosing it."""
    out = set()
    while sp is not None:
        out.add(sp.name)
        sp = sp.parent
    return out


def _covered(children: list[Span]) -> float:
    """Length of the union of the children's intervals."""
    total, end = 0.0, float("-inf")
    for c in sorted(children, key=lambda s: s.t0):
        lo = max(c.t0, end)
        if c.t1 > lo:
            total += c.t1 - lo
        end = max(end, c.t1)
    return total


def rows_out(executions, span: str, node_prefix: str, desc_pattern: str = "") -> list[float]:
    """``number of output rows`` of every plan node whose name starts
    with ``node_prefix`` (and whose description matches
    ``desc_pattern``) in the executions run under ``span`` (any span
    when ``span`` is empty)."""
    pat = re.compile(desc_pattern) if desc_pattern else None
    return [
        ms[_ROWS]
        for spans, nodes in executions
        if not span or span in spans
        for name, desc, ms in nodes
        if _ROWS in ms and name.startswith(node_prefix) and (pat is None or pat.search(desc))
    ]
