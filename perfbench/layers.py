"""Per-layer tracing for the benchmark's traced runs.

Spans are taken from the benchmark's own files, around its calls into
each layer's public functions; nothing inside the engine is edited:

- ``operators.builder`` and ``sources.action`` wrap the registry
  builder call and the facade action or write;
- ``plans.extract.capture`` and ``plans.reporters.report`` come from a
  wrapper installed around ``plans.extract.extract_report`` and from the
  ``TapReporter`` the benchmark hands to ``LineageSession``;
- Spark jobs are attributed to an op by the status-store job ids that
  appear while it runs (ops run one at a time, so this also catches jobs
  started on a stream thread), and stage metrics are read from
  ``statusStore().lastStageAttempt(id)`` right after the op;
- Catalyst phase times come from ``queryExecution().tracker().phases()``
  after forcing ``executedPlan()`` on the op's DataFrame.

With tracing off every hook is a no-op, so the untraced run measures
the product path plus one list append per report.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Optional

from spark_lineage_spark.plans.model import LineageReport
from spark_lineage_spark.plans.reporters import JsonlReporter

# Layer metric -> the end-to-end metric (and workload) it should move.
LAYER_MOVES = {
    "operators.builder_ms": "op_p50_s on headline_sf0.1 (a third of its op time)",
    "operators.builder_jobs": "op_p50_s on headline_sf0.1",
    "catalyst.analysis_ms": "op_p50_s on headline_sf0.1 and catalog_etl_sf0.01",
    "catalyst.optimization_ms": "op_p50_s on headline_sf0.1 and catalog_etl_sf0.01",
    "catalyst.planning_ms": "op_p50_s on headline_sf0.1 and catalog_etl_sf0.01",
    "stages.jobs": "pass_s and op_tail_s on headline_sf0.1",
    "stages.tasks": "pass_s and op_tail_s on headline_sf0.1",
    "stages.job_wall_ms": "pass_s and op_tail_s on headline_sf0.1",
    "stages.task_ms": "pass_s and op_tail_s on headline_sf0.1",
    "stages.cpu_ms": "pass_s and op_tail_s on headline_sf0.1",
    "stages.shuffle_bytes": "pass_s and op_tail_s on headline_sf0.1",
    "stages.spill_bytes": "pass_s and op_tail_s on headline_sf0.1",
    "stages.max_task_ms": "op_tail_s on headline_sf0.1",
    "stages.parallel_eff": "pass_s on headline_sf0.1",
    "sources.action_ms": "op_p50_s on catalog_etl_sf0.01",
    "sources.driver_gap_ms": "op_p50_s on catalog_etl_sf0.01",
    "plans.extract.capture_ms": "op_p50_s on catalog_etl_sf0.01; little on headline_sf0.1",
    "plans.extract.capture_share": "op_p50_s on catalog_etl_sf0.01; little on headline_sf0.1",
    "plans.reporters.report_ms": "op_p50_s and catalog_query_p50_s on catalog_etl_sf0.01",
    "plans.reporters.report_bytes": "catalog_query_p50_s on catalog_etl_sf0.01",
    "plans.reporters.reports_per_op": "op_p50_s on catalog_etl_sf0.01",
    "streaming.listener.microbatches": "pass_s on catalog_etl_sf0.01",
    "streaming.listener.microbatch_ms": "pass_s on catalog_etl_sf0.01",
    "session.lineage_read_ms": "catalog_query_p50_s on catalog_etl_sf0.01",
    "session.log_reports": "catalog_query_p50_s on catalog_etl_sf0.01",
    "session.jvm_rss_peak_mb": "none end to end: memory, watched on headline_sf0.1",
    "session.heap_after_gc_mb": "none end to end: memory, watched on headline_sf0.1",
    "trace.overhead_s": "none: the traced pass_s minus the untraced pass_s",
    "trace.covered_min": "none: least share of an op's wall the layer spans cover",
}

# Spans whose union is an op's covered wall time (capture and report
# run nested inside sources.action, so they are not listed again).
TOP_SPANS = ("operators.builder", "sources.action", "session.lineage_read", "streaming.ingest")


class TapReporter(JsonlReporter):
    """The run's JSONL log reporter, tapped: it also keeps every report
    (tagged with the op that was running) for the output checks and,
    traced, times each serialize-and-append and counts its bytes. It
    stays a ``JsonlReporter`` so ``LineageSession.lineage()`` reads its
    log. List appends are atomic, so the listener thread may report
    concurrently."""

    def __init__(self, path: str, tracer: "Tracer"):
        super().__init__(path)
        self.tracer = tracer
        self.reports: list[tuple[int, LineageReport]] = []

    def report(self, report: LineageReport) -> None:
        size = os.path.getsize(self.path) if os.path.exists(self.path) else 0
        t0 = time.perf_counter()
        super().report(report)
        dt = time.perf_counter() - t0
        self.reports.append((self.tracer.op_seq, report))
        if self.tracer.on:
            self.tracer.add("plans.reporters.report", dt)
            self.tracer.count("reports", 1)
            self.tracer.count("report_bytes", os.path.getsize(self.path) - size)


class Tracer:
    """Collects spans and counts per op while ``on``; one record per op."""

    def __init__(self, spark):
        self.spark = spark
        self.on = False
        self.op_seq = 0
        self.cores = spark.sparkContext.defaultParallelism
        self.records: list[dict] = []
        self._cur: Optional[dict] = None
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self._gw = spark.sparkContext._gateway
        self._next_job = self._dag.nextJobId()

    # -- op boundaries --------------------------------------------------
    def begin(self, name: str) -> None:
        self.op_seq += 1
        if not self.on:
            return
        self._bus.waitUntilEmpty()
        self._next_job = self._dag.nextJobId()
        self._cur = {"op": name, "spans": defaultdict(float), "counts": defaultdict(float)}
        self._cur["t0"] = time.perf_counter()
        self._cur["own"] = 0.0  # tracer's own time inside the op

    def end(self) -> Optional[dict]:
        if not self.on or self._cur is None:
            return None
        rec = self._cur
        wall = time.perf_counter() - rec.pop("t0") - rec["own"]
        first_action_job = rec.pop("builder_end_job", self._next_job)
        jobs, self._next_job = self._scan_jobs(self._next_job)
        rec.update(self._stage_totals(jobs, first_action_job))
        rec["wall_s"] = wall
        self.records.append(rec)
        self._cur = None
        return rec

    # -- spans and counts -------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.on or self._cur is None:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.add(name, t1 - t0)
            if name == "operators.builder":
                # builder-time jobs stay in the op's stage totals too
                self._bus.waitUntilEmpty()
                self._cur["builder_end_job"] = self._dag.nextJobId()
                self.count("builder_jobs", self._cur["builder_end_job"] - self._next_job)
                self._own(time.perf_counter() - t1)

    def add(self, name: str, seconds: float) -> None:
        if self._cur is not None:
            self._cur["spans"][name] += seconds

    def count(self, name: str, n: float) -> None:
        if self._cur is not None:
            self._cur["counts"][name] += n

    def _own(self, seconds: float) -> None:
        if self._cur is not None:
            self._cur["own"] += seconds

    def catalyst(self, df) -> None:
        """Force the physical plan of ``df`` and record its Catalyst
        phase times (analysis ran when the builder made the DataFrame)."""
        if not self.on or self._cur is None or df is None:
            return
        t0 = time.perf_counter()
        try:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                opt = phases.get(phase)
                if opt.isDefined():
                    self.count(f"{phase}_ms", opt.get().durationMs())
        finally:
            self._own(time.perf_counter() - t0)

    # -- Spark status store ----------------------------------------------
    def _scan_jobs(self, start: int) -> tuple[list, int]:
        """Jobs submitted since job id ``start``, read from the status
        store after draining the listener bus; returns (jobs, next id)."""
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty()
        end = self._dag.nextJobId()
        jobs = []
        for jid in range(start, end):
            try:
                jobs.append(self._store.job(jid))
            except Py4JJavaError:
                pass  # evicted from the store
        return jobs, end

    def _stage_totals(self, jobs: list, first_action_job: int) -> dict:
        from py4j.protocol import Py4JJavaError

        t0 = time.perf_counter()
        out = defaultdict(float)
        q = self._gw.new_array(self._gw.jvm.double, 1)
        q[0] = 1.0
        for job in jobs:
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                wall = done.get().getTime() - sub.get().getTime()
                out["job_wall_ms"] += wall
                if job.jobId() >= first_action_job:
                    out["action_job_wall_ms"] += wall
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = self._store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:
                    continue  # evicted or never submitted
                if st.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["task_ms"] += st.executorRunTime()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                summary = self._store.taskSummary(st.stageId(), st.attemptId(), q)
                if summary.isDefined():
                    out["max_task_ms"] = max(
                        out["max_task_ms"], summary.get().executorRunTime().apply(0)
                    )
        self._own(time.perf_counter() - t0)
        return {"stage": dict(out)}

    # -- memory -----------------------------------------------------------
    def memory(self) -> dict:
        """JVM peak RSS (VmHWM) and heap in use after a full GC, in MB."""
        jvm = self.spark.sparkContext._jvm
        pid = jvm.java.lang.ProcessHandle.current().pid()
        rss = 0.0
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    rss = int(line.split()[1]) / 1024.0
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return {"rss_peak_mb": rss, "heap_after_gc_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20}


@contextmanager
def capture_timing(tracer: Tracer):
    """Time every ``extract_report`` call while installed: the facade
    imports it from ``plans.extract`` at call time, so rebinding the
    module attribute reaches every capture site."""
    from spark_lineage_spark.plans import extract

    original = extract.extract_report

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return original(*args, **kwargs)
        finally:
            tracer.add("plans.extract.capture", time.perf_counter() - t0)

    extract.extract_report = timed
    try:
        yield
    finally:
        extract.extract_report = original


def layer_metrics(records: list[dict], cores: int, listener_batches: list[float]) -> dict:
    """Per-layer metrics from the traced ops' records: per-op means of
    times and counts, plus the ratios named in ``LAYER_MOVES``. Records
    flagged ``probe`` (catalog queries between passes) feed only
    ``session.lineage_read_ms``."""
    ops = [r for r in records if not r["probe"]]
    n = max(1, len(ops))

    def total(key: str, where: str = "spans") -> float:
        return sum(r[where].get(key, 0.0) for r in ops)

    def stage_total(key: str) -> float:
        return sum(r["stage"].get(key, 0.0) for r in ops)

    wall_ms = 1000.0 * sum(r["wall_s"] for r in ops)
    capture_ms = 1000.0 * total("plans.extract.capture")
    report_ms = 1000.0 * total("plans.reporters.report")
    action_ms = 1000.0 * (total("sources.action") + total("streaming.ingest")) - capture_ms - report_ms
    opt_ms = total("optimization_ms", "counts")
    plan_ms = total("planning_ms", "counts")
    job_wall = stage_total("job_wall_ms")
    n_reports = total("reports", "counts")
    reads = [r["spans"]["session.lineage_read"] for r in records if "session.lineage_read" in r["spans"]]
    covered = [sum(r["spans"].get(s, 0.0) for s in TOP_SPANS) / r["wall_s"] for r in ops if r["wall_s"] > 0]
    return {
        "operators.builder_ms": 1000.0 * total("operators.builder") / n,
        "operators.builder_jobs": total("builder_jobs", "counts") / n,
        "catalyst.analysis_ms": total("analysis_ms", "counts") / n,
        "catalyst.optimization_ms": opt_ms / n,
        "catalyst.planning_ms": plan_ms / n,
        "stages.jobs": stage_total("jobs") / n,
        "stages.tasks": stage_total("tasks") / n,
        "stages.job_wall_ms": job_wall / n,
        "stages.task_ms": stage_total("task_ms") / n,
        "stages.cpu_ms": stage_total("cpu_ms") / n,
        "stages.shuffle_bytes": stage_total("shuffle_bytes") / n,
        "stages.spill_bytes": stage_total("spill_bytes") / n,
        "stages.max_task_ms": max((r["stage"].get("max_task_ms", 0.0) for r in ops), default=0.0),
        "stages.parallel_eff": stage_total("task_ms") / (job_wall * cores) if job_wall else 0.0,
        "sources.action_ms": action_ms / n,
        "sources.driver_gap_ms": (action_ms - opt_ms - plan_ms - stage_total("action_job_wall_ms")) / n,
        "plans.extract.capture_ms": capture_ms / n,
        "plans.extract.capture_share": capture_ms / wall_ms if wall_ms else 0.0,
        "plans.reporters.report_ms": report_ms / max(1.0, n_reports),
        "plans.reporters.report_bytes": total("report_bytes", "counts") / max(1.0, n_reports),
        "plans.reporters.reports_per_op": n_reports / n,
        "streaming.listener.microbatches": len(listener_batches) / n,
        "streaming.listener.microbatch_ms": (
            1000.0 * sum(listener_batches) / len(listener_batches) if listener_batches else 0.0
        ),
        "session.lineage_read_ms": 1000.0 * sum(reads) / len(reads) if reads else 0.0,
        "trace.covered_min": min(covered, default=0.0),
    }
