"""Outside-in per-layer trace of one query execution.

Everything here is measured from the benchmark's side of the engine's
public functions and from Spark's own status stores; nothing inside the
engine is changed:

* ``io`` and ``materialize`` spans come from wrappers bound over
  ``io.table``/``io.parallel_table`` and
  ``materialize.shared_intermediate``/``shared_partitioned`` (and every
  by-name import of them in the engine's modules, the rebinding
  ``tools/profile_query.py`` does). ``range_pid_frozen`` calls
  ``shared_intermediate`` and is counted through it. A depth guard keeps
  ``parallel_table -> table`` one span.
* Spark jobs are grouped with ``setJobGroup`` around the build and
  around the ``noop`` write; job, stage and task figures are read from
  the ``AppStatusStore`` after the listener bus drains. A stage is
  counted once per run and never when ``SKIPPED``.
* Catalyst analysis comes from the final DataFrame's
  ``QueryPlanningTracker``. Planning is the lag from the write call to
  the ``submissionTime`` of the first SQL execution the write starts.

Wrappers are installed only for a traced run and record only while a
traced execution is in flight, so untraced executions pay a plain
function call at most.
"""

from __future__ import annotations

import sys
import time
from dataclasses import dataclass, field

from nchu_bigdata_spark import io, materialize

MB = float(1 << 20)
# |latency - (build + exec)| may differ by this much: the gap holds only
# the one py4j setJobGroup call between the two spans
RECONCILE_ABS_S = 0.010
RECONCILE_REL = 0.01


@dataclass
class QueryTrace:
    name: str
    latency_s: float = 0.0
    build_s: float = 0.0
    exec_wall_s: float = 0.0
    io_calls: int = 0
    io_s: float = 0.0
    freeze_calls: int = 0
    freeze_s: float = 0.0
    analysis_s: float = 0.0
    plan_s: float = 0.0
    block_store_mb: float = 0.0
    build_jobs: dict = field(default_factory=dict)
    exec_jobs: dict = field(default_factory=dict)

    @property
    def build_self_s(self) -> float:
        return self.build_s - self.build_jobs["job_wall_s"]

    def reconcile(self) -> list[str]:
        """The trace's self-check: the two spans cover the latency, and
        the io and freeze spans nest inside the build span without
        overlapping each other."""
        errs = []
        tol = RECONCILE_ABS_S + RECONCILE_REL * self.latency_s
        gap = self.latency_s - self.build_s - self.exec_wall_s
        if abs(gap) > tol:
            errs.append(f"{self.name}: build+exec misses latency by {gap:.4f}s (tol {tol:.4f}s)")
        inner = self.io_s + self.freeze_s
        if inner > self.build_s + RECONCILE_ABS_S:
            errs.append(f"{self.name}: io+freeze {inner:.4f}s exceeds build {self.build_s:.4f}s")
        return errs


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self._scala_sc = self.sc._jsc.sc()
        self._store = self._scala_sc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._seen_stages: set[int] = set()
        self._cur: QueryTrace | None = None
        self._depth = {"io": 0, "freeze": 0}
        self._install()

    # -- wrappers ------------------------------------------------------
    def _span(self, layer: str, fn):
        def wrapped(*args, **kwargs):
            cur = self._cur
            if cur is None or self._depth[layer]:
                return fn(*args, **kwargs)
            self._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self._depth[layer] -= 1
                if layer == "io":
                    cur.io_calls += 1
                    cur.io_s += dt
                else:
                    cur.freeze_calls += 1
                    cur.freeze_s += dt

        return wrapped

    def _install(self) -> None:
        swaps = {}
        for mod, attr, layer in (
            (io, "table", "io"),
            (io, "parallel_table", "io"),
            (materialize, "shared_intermediate", "freeze"),
            (materialize, "shared_partitioned", "freeze"),
        ):
            orig = getattr(mod, attr)
            swaps[id(orig)] = self._span(layer, orig)
        # operators import the helpers by name; rebind every reference
        # in the engine's loaded modules, the modules themselves included
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("nchu_bigdata_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in swaps:
                    setattr(mod, attr, swaps[id(val)])

    # -- one traced execution -----------------------------------------
    def run(self, name: str, spec, sf_dir: str, idx: int) -> QueryTrace:
        sc, jsc = self.sc, self.sc._jsc
        qt = QueryTrace(name)
        gb, ge = f"perfbench-build-{idx}", f"perfbench-exec-{idx}"
        self._cur = qt
        try:
            sc.setJobGroup(gb, name, False)
            t0 = time.perf_counter()
            df = spec.fn(self.spark, sf_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(ge, name, False)
            t2 = time.perf_counter()
            w0_ms = int(time.time() * 1000)
            df.write.mode("overwrite").format("noop").save()
            t3 = time.perf_counter()
        finally:
            self._cur = None
            jsc.clearJobGroup()
        qt.latency_s, qt.build_s, qt.exec_wall_s = t3 - t0, t1 - t0, t3 - t2
        self._scala_sc.listenerBus().waitUntilEmpty()
        qt.build_jobs = self._jobs(gb)
        qt.exec_jobs = self._jobs(ge)
        phase = df._jdf.queryExecution().tracker().phases().get("analysis")
        qt.analysis_s = phase.get().durationMs() / 1000.0 if phase.isDefined() else 0.0
        qt.plan_s = self._plan_lag(w0_ms)
        qt.block_store_mb = sum(
            r.memSize() + r.diskSize() for r in self._scala_sc.getRDDStorageInfo()
        ) / MB
        return qt

    def _jobs(self, group: str) -> dict:
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "job_wall_s", "executor_run_s",
             "executor_cpu_s", "input_mb", "output_mb", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb"),
            0,
        )
        spans = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(jid)
            out["jobs"] += 1
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                spans.append(
                    (jd.submissionTime().get().getTime(), jd.completionTime().get().getTime())
                )
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in self._seen_stages:
                    continue
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["input_mb"] += sd.inputBytes() / MB
                out["output_mb"] += sd.outputBytes() / MB
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        out["job_wall_s"] = _union_ms(spans) / 1e3
        return out

    def _plan_lag(self, w0_ms: int) -> float:
        n = self._sql_store.executionsCount()
        it = self._sql_store.executionsList(max(0, n - 16), 16).iterator()
        starts = []
        while it.hasNext():
            sub = it.next().submissionTime()
            if sub >= w0_ms:
                starts.append(sub)
        return (min(starts) - w0_ms) / 1e3 if starts else 0.0


def _union_ms(spans: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def pass_metrics(traces: list[QueryTrace], cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass: sums over its queries,
    ``block_store_mb`` the peak after any query."""
    def s(get):
        return sum(get(t) for t in traces)

    m = {
        "registry.build_s": s(lambda t: t.build_s),
        "registry.build_self_s": s(lambda t: t.build_self_s),
        "io.table_calls": s(lambda t: t.io_calls),
        "io.table_s": s(lambda t: t.io_s),
        "io.input_mb": s(lambda t: t.build_jobs["input_mb"] + t.exec_jobs["input_mb"]),
        "io.output_mb": s(lambda t: t.build_jobs["output_mb"] + t.exec_jobs["output_mb"]),
        "materialize.freeze_calls": s(lambda t: t.freeze_calls),
        "materialize.freeze_s": s(lambda t: t.freeze_s),
        "materialize.block_store_mb": max(t.block_store_mb for t in traces),
        "catalyst.analysis_s": s(lambda t: t.analysis_s),
        "catalyst.plan_s": s(lambda t: t.plan_s),
        "exec.wall_s": s(lambda t: t.exec_wall_s),
    }
    for k in ("jobs", "tasks", "job_wall_s", "executor_run_s", "shuffle_write_mb"):
        m[f"build.{k}"] = s(lambda t, k=k: t.build_jobs[k])
    for k in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"exec.{k}"] = s(lambda t, k=k: t.exec_jobs[k])
    m["exec.core_util"] = m["exec.executor_run_s"] / (m["exec.wall_s"] * cores)
    return m
