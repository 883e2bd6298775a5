"""Per-layer tracing from outside the engine.

``Tracer`` swaps each layer's public function for a wrapper that runs the
layer under a Spark job group named after its span and materializes the
returned DataFrame once, at the boundary, with
``localCheckpoint(eager=True)``. The layer's DataFrame argument is
materialized first, so the work the caller did since the previous layer
is not charged to this one. For the job's first layer that is the
source, under the job's source span (``pipeline.scan`` for the flagship,
``imagecodec.decode_verify`` for ingest, whose first layer reads the
decoded images). For every later layer it is the caller's work between
layers (joins, projections, the pipeline's own persists), under
``pipeline.enrich``; an argument that is a previous layer's checkpoint
is passed on as it is. The next layer therefore reads a checkpoint and
no prefix is computed twice. Wrappers only act at the outermost level:
a layer called from inside another layer runs untouched, inside its
caller's span.

``harvest`` then reads, through py4j and with the UI off, the stages of
every job started since ``Tracer.start`` from ``AppStatusStore`` and the
Python worker bytes from ``SQLAppStatusStore``, and folds them per span.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame

from langtoolsosm_spark.operators import knn, pip_join, tiling
from langtoolsosm_spark.sources import snapshots

from catalog import ENRICH_SPAN

# (span, module, attribute) of every wrapped layer function
LAYERS = [
    ("tiling.assign_tiles", tiling, "assign_tiles"),
    ("pip_join.pip_join", pip_join, "pip_join"),
    ("knn.knn_join", knn, "knn_join"),
    ("tiling.salted_repartition", tiling, "salted_repartition"),
    ("snapshots.write_partitioned", snapshots, "write_partitioned"),
]

_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_MB = 2**20


def _seq(x) -> list:
    """A Scala Seq as a Python list."""
    return [x.apply(i) for i in range(x.size())]


def _size_total(formatted: str) -> int:
    """Bytes from a size metric string: '8.5 KiB' for one task, or
    'total (min, med, max ...)\\n8.5 KiB (...)' for several."""
    lines = formatted.strip().splitlines()
    m = re.match(r"([\d.]+) (B|KiB|MiB|GiB|TiB)", lines[-1]) if lines else None
    return int(float(m.group(1)) * _UNITS[m.group(2)]) if m else 0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.source_span = ""
        self.wall: dict[str, float] = defaultdict(float)
        self.commit_wall_s = 0.0
        self.commit_calls = 0
        self._depth = 0
        self._first = True
        self._outputs: list[DataFrame] = []
        self._saved: list = []
        self._job_floor = 0

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        """Run the body under job group ``name`` and add its wall time."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] += time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev)

    def begin(self, source_span: str) -> None:
        """A pipeline job starts: its first layer's input goes to ``source_span``."""
        self.source_span = source_span
        self._first = True
        self._outputs.clear()

    def _wrap(self, name: str, fn):
        def layer(*args, **kwargs):
            if self._depth:
                return fn(*args, **kwargs)
            self._depth += 1
            try:
                src = args[0] if args else None
                if isinstance(src, DataFrame) and not any(src is c for c in self._outputs):
                    with self.span(self.source_span if self._first else ENRICH_SPAN):
                        args = (src.localCheckpoint(eager=True),) + args[1:]
                self._first = False
                with self.span(name):
                    out = fn(*args, **kwargs)
                    if isinstance(out, DataFrame):
                        out = out.localCheckpoint(eager=True)
                        self._outputs.append(out)
                return out
            finally:
                self._depth -= 1

        return layer

    def _wrap_commit(self, fn):
        def commit(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.commit_wall_s += time.perf_counter() - t0
                self.commit_calls += 1

        return commit

    def start(self, wrap_layers: bool) -> None:
        """Mark the job-id floor and, for pipelines, install the wrappers."""
        self._job_floor = 1 + max(
            (j.jobId() for j in _seq(self._store().jobsList(self._jlist()))), default=-1
        )
        if not wrap_layers:
            return
        for name, mod, attr in LAYERS:
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(name, orig))
        orig = snapshots.SnapshotTable.commit
        self._saved.append((snapshots.SnapshotTable, "commit", orig))
        snapshots.SnapshotTable.commit = self._wrap_commit(orig)

    def stop(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()
        self._outputs.clear()

    # -- harvest -----------------------------------------------------------

    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def _jlist(self):
        return self.sc._jvm.java.util.ArrayList()

    def harvest(self) -> tuple[dict[str, dict], dict]:
        """Fold the traced jobs per span: ({span: fields}, totals)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = self._store()
        gw = self.sc._gateway

        group_of_stage: dict[int, str | None] = {}
        group_of_job: dict[int, str | None] = {}
        for j in _seq(store.jobsList(self._jlist())):
            if j.jobId() < self._job_floor:
                continue
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            group_of_job[j.jobId()] = group
            for sid in _seq(j.stageIds()):
                group_of_stage[sid] = group

        acc: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        totals = {"exec_run_s": 0.0, "unattributed_run_s": 0.0, "tasks_failed": 0}
        q_max = gw.new_array(gw.jvm.double, 1)
        q_max[0] = 1.0
        # pyspark 4.1: stageList(statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus)
        stages = store.stageList(
            self._jlist(), False, False, gw.new_array(gw.jvm.double, 0), self._jlist()
        )
        for s in _seq(stages):
            sid = s.stageId()
            if sid not in group_of_stage:
                continue
            group = group_of_stage[sid]
            run_s = s.executorRunTime() / 1000.0
            totals["exec_run_s"] += run_s
            totals["tasks_failed"] += s.numFailedTasks()
            if group not in self.wall:
                totals["unattributed_run_s"] += run_s
                continue
            a = acc[group]
            a["exec_run_s"] += run_s
            a["exec_cpu_s"] += s.executorCpuTime() / 1e9
            a["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            a["spill_mb"] += (s.diskBytesSpilled() + s.memoryBytesSpilled()) / _MB
            a["tasks"] += s.numCompleteTasks()
            if s.numCompleteTasks():
                summary = store.taskSummary(sid, s.attemptId(), q_max)
                if summary.isDefined():
                    dur = summary.get().duration().apply(0) / 1000.0
                    a["task_max_s"] = max(a["task_max_s"], dur)

        sql = self.spark._jsparkSession.sharedState().statusStore()
        for e in _seq(sql.executionsList()):
            job_ids = [int(x) for x in re.findall(r"(\d+) ->", e.jobs().toString())]
            groups = {group_of_job.get(j) for j in job_ids} & set(self.wall)
            if len(groups) != 1:
                continue
            group = groups.pop()
            values = sql.executionMetrics(e.executionId())
            # an adaptive plan lists a node's metrics once per re-plan
            seen = set()
            for m in _seq(e.metrics()):
                if m.name() in _PY_BYTES and m.accumulatorId() not in seen:
                    seen.add(m.accumulatorId())
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        acc[group]["py_io_mb"] += _size_total(v.get()) / _MB

        spans = {}
        for name, wall in self.wall.items():
            fields = dict(acc.get(name, {}))
            fields["wall_s"] = wall
            spans[name] = fields
        return spans, totals
