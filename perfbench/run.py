"""The repo benchmark: workloads run through the lineage facade.

    python3 perfbench/run.py --workload headline_sf0.1 --seed 1 --seconds 45 --trace 0
    python3 perfbench/run.py --workload all

One closed-loop client on ``local[<cpus>]``: a single driver process
issues each op after the previous one returns. A run generates its
tables (``datagen``), builds the session and makes one warm-up pass
(together ``setup_s``), then untimed settling passes, then a fixed
number of timed passes per workload (``WORKLOADS``), so the op count,
the catalog-query count and the length of the lineage log are the same
on every commit; ``--seconds`` only caps the timed phase. After the
passes it checks every op's reports and outputs, and collects each
registry query's result for its DuckDB oracle. Everything a run writes
lives in a fresh directory under ``.perfbench_tmp/`` in the checkout and
is removed at exit. ``--workload all`` runs each workload of
``BENCHMARK.json`` in turn.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of ``layers.LAYER_MOVES``: traced and untraced passes alternate,
and ``trace.overhead_s`` is the traced pass_s minus the untraced one.
The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines before it give the
configuration, host state, per-op seconds, sample counts and any check
failures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# workload -> (scale factor, settling passes, timed passes). A pass of
# headline_sf0.1 runs 15 ops in about 6 s, one of catalog_etl_sf0.01
# seven in about 1 s. The JVM keeps compiling for several passes after
# the warm-up: op times fell by a fifth over twelve catalog_etl passes
# that followed a single settling pass.
WORKLOADS = {"headline_sf0.1": (0.1, 2, 5), "catalog_etl_sf0.01": (0.01, 6, 12)}
DEFAULT_SEED = 1
DATA_SEED = 42  # the tables are fixed; --seed picks the op order and ETL constants
DRIVER_HEAP = "4g"
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
CATALOG_PROBE_ROUNDS = 3  # catalog query rounds after each headline pass
LISTENER_WAIT_S = 30.0


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ten of ``n`` samples
    beyond it (the median when even that has fewer)."""
    fits = [p for p in TAIL_LADDER if round(n * (100.0 - p) / 100.0, 6) >= 10.0]
    return max(fits, default=50.0)


def quantile(values: list[float], p: float) -> float:
    """The ``p`` percentile (``TAIL_LADDER`` steps) of ``values``."""
    return statistics.quantiles(values, n=1000)[round(10 * p) - 1]


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Point every writer the run starts at ``work``: Python and JVM temp
    files, Spark local dirs, the default lineage log and the worker path."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = os.environ
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["SLS_LINEAGE_PATH"] = os.path.join(work, "default_lineage.jsonl")
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    # the Python workers import operator modules (UDFs): they need the repo
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    tempfile.tempdir = None
    os.chdir(work)


def host_probe() -> dict:
    """``bench.calibrate()`` and the steal counter, read in a fresh
    interpreter before this one starts any thread."""
    code = "import json, bench; print(json.dumps({**bench.calibrate(), 'steal': bench._steal_ticks()}))"
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=120, check=True
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        sf, self.n_settle, self.n_passes = WORKLOADS[workload]
        self.sf_dir = os.path.join(work, f"sf{sf}")
        self.passes: list[tuple[bool, float]] = []  # (traced, seconds)
        self.setup_s = 0.0
        self.mem: dict = {}

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        """Imports, session build and the warm-up pass (``setup_s``),
        then the untimed settling passes."""
        t0 = time.perf_counter()
        from spark_lineage_spark import LineageSession, build_spark
        from spark_lineage_spark.registry import load_all

        from perfbench import layers, workloads as wl

        self.specs = load_all()
        spark = build_spark(
            f"perfbench_{self.workload}",
            extra_confs={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
                ),
            },
        )
        tracer = layers.Tracer(spark)
        tap = layers.TapReporter(os.path.join(self.work, "lineage.jsonl"), tracer)
        eng = LineageSession(spark, reporter=tap)
        self.ctx = wl.Ctx(spark, eng, tap, tracer, self.sf_dir, self.work, self.seed, uuid.uuid4().hex[:8])
        self.listener = None
        self.probes: list = []
        if self.workload == "catalog_etl_sf0.01":
            from spark_lineage_spark.streaming.listener import LineageStreamingListener

            self.listener = LineageStreamingListener(tap, eng.app_id, eng.app_name)
            spark.streams.addListener(self.listener)
            self.ops = wl.etl_ops(self.ctx)
        else:
            from bench import HEADLINE

            self.ops = [wl.query_op(self.ctx, self.specs[n]) for n in HEADLINE]
            self.probes = wl.catalog_ops(self.ctx)
        self.setup_s = time.perf_counter() - t0
        for op in wl.pass_order(self.ops, self.seed, self.workload, -1):
            self.setup_s += self.execute(op, -1, "warm")
        for k in range(-2, -2 - self.n_settle, -1):
            for op in wl.pass_order(self.ops, self.seed, self.workload, k):
                self.execute(op, k, "settle")

    # -- op executions ------------------------------------------------------
    def execute(self, op, k: int, phase: str, round_: int = 0) -> float:
        """Run ``op`` once in ``phase`` (warm, settle, timed, probe or
        check) and keep what its checks need; returns the op's wall
        seconds (the check itself runs later, untimed)."""
        tracer = self.ctx.tracer
        tracer.begin(op.name)
        seq = tracer.op_seq
        run = op.collect if phase == "check" else op.run
        result, error = None, None
        t0 = time.perf_counter()
        try:
            result = run()
        except Exception as e:  # a failed op is counted, and the run goes on
            error = f"{type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t0
        rec = tracer.end()
        if rec is not None:
            rec["probe"] = phase == "probe"
        self.ctx.execs.append(
            {"op": op, "k": k, "phase": phase, "round": round_, "seq": seq, "s": dt, "result": result, "error": error}
        )
        return dt

    def phase(self, *phases: str) -> list[dict]:
        return [ex for ex in self.ctx.execs if ex["phase"] in phases]

    def timed(self) -> None:
        """``n_passes`` timed passes, or fewer if they overrun
        ``--seconds``. Traced runs alternate untraced and traced passes,
        starting untraced; the first pass is left out of the overhead
        baseline."""
        from perfbench import layers, workloads as wl

        start = time.perf_counter()
        for k in range(self.n_passes):
            traced = self.trace and k % 2 == 1
            self.ctx.tracer.on = traced
            with layers.capture_timing(self.ctx.tracer) if traced else nullcontext():
                t0 = time.perf_counter()
                for op in wl.pass_order(self.ops, self.seed, self.workload, k):
                    self.execute(op, k, "timed")
                dt = time.perf_counter() - t0
                for r in range(CATALOG_PROBE_ROUNDS if self.probes else 0):
                    for op in self.probes:
                        self.execute(op, k, "probe", r)
            self.ctx.tracer.on = False
            self.passes.append((traced, dt))
            # three passes at least, so a traced run has an overhead baseline
            if k >= 2 and time.perf_counter() - start > self.seconds:
                break
        if self.trace:
            self.mem = self.ctx.tracer.memory()  # before the check phase adds its own

    # -- checks ---------------------------------------------------------------
    def check(self) -> dict[str, list[str]]:
        """Collect each op's result once more (untimed) for its result
        check, then return problems per op name, from every execution's
        reports and result."""
        from perfbench import workloads as wl

        for op in self.ops:
            if op.collect is not None:
                self.execute(op, -1, "check")
        tap = self.ctx.tap
        batches = lambda: sum(r.run.func_name.startswith("foreachBatch[") for _, r in tap.reports)
        heard = lambda: sum(wl.is_listener_report(r) for _, r in tap.reports)
        if self.listener is not None:
            # listener reports arrive on another thread: wait for one per micro-batch
            deadline = time.monotonic() + LISTENER_WAIT_S
            while heard() < batches() and time.monotonic() < deadline:
                time.sleep(0.1)
        by_seq: dict[int, list] = {}
        for seq, r in list(tap.reports):
            if not wl.is_listener_report(r):
                by_seq.setdefault(seq, []).append(r)
        problems: dict[str, list[str]] = {}
        for ex in self.ctx.execs:
            op, reps = ex["op"], by_seq.get(ex["seq"], [])
            if ex["error"]:
                found = [ex["error"]]
            elif ex["phase"] == "check":
                found = op.collect_verify(ex["result"], reps)
            else:
                found = op.verify(ex["result"], reps)
            if found:
                problems.setdefault(op.name, []).extend(f"pass {ex['k']}: {p}" for p in found)
        if self.listener is not None:
            for op, found in wl.etl_output_problems(self.ctx).items():
                problems.setdefault(op, []).extend(found)
            if heard() != batches():
                problems.setdefault("ingest_events_stream", []).append(
                    f"listener reported {heard()} micro-batches, foreachBatch ran {batches()}"
                )
        return problems

    # -- metrics ----------------------------------------------------------------
    def end_to_end(self) -> tuple[dict, list[str]]:
        lat = [ex["s"] for ex in self.phase("timed")]
        rounds: dict[tuple, list[float]] = {}
        for ex in self.phase("timed", "probe"):
            if ex["op"].catalog:
                rounds.setdefault((ex["k"], ex["round"]), []).append(ex["s"])
        catalog = [statistics.mean(r) for r in rounds.values()]
        passes = [dt for _, dt in self.passes]
        tail_p = tail_percentile(len(lat))
        metrics = {
            "setup_s": self.setup_s,
            "pass_s": statistics.median(passes),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": quantile(lat, tail_p),
            "catalog_query_p50_s": statistics.median(catalog),
        }
        cut = "" if len(passes) == self.n_passes else f", cut from {self.n_passes} by --seconds"
        notes = [
            f"setup_s {metrics['setup_s']:.4f} s (imports, session build, warm-up pass of {len(self.ops)} ops)",
            f"pass_s {metrics['pass_s']:.4f} s (median of {len(passes)} passes{cut})",
            f"op_p50_s {metrics['op_p50_s']:.4f} s (median of {len(lat)} ops)",
            f"op_tail_s {metrics['op_tail_s']:.4f} s (p{tail_p:g} of {len(lat)} ops)",
            f"catalog_query_p50_s {metrics['catalog_query_p50_s']:.4f} s "
            f"(median over {len(catalog)} rounds of the round's mean catalog query)",
        ]
        return metrics, notes

    def per_layer(self) -> tuple[dict, list[str]]:
        from perfbench import layers, workloads as wl

        tracer = self.ctx.tracer
        traced_seqs = {ex["seq"] for ex in self.phase("timed", "probe") if self.passes[ex["k"]][0]}
        batches = [
            r.run.duration_s for s, r in self.ctx.tap.reports if s in traced_seqs and wl.is_listener_report(r)
        ]
        metrics = layers.layer_metrics(tracer.records, tracer.cores, batches)
        with open(self.ctx.tap.path) as fh:
            metrics["session.log_reports"] = sum(1 for _ in fh)
        metrics["session.jvm_rss_peak_mb"] = self.mem["rss_peak_mb"]
        metrics["session.heap_after_gc_mb"] = self.mem["heap_after_gc_mb"]
        traced = [dt for t, dt in self.passes if t]
        plain = [dt for t, dt in self.passes[1:] if not t]
        metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
        notes = [f"passes {len(self.passes)} of {self.n_passes}"]
        notes += [f"{name} {metrics[name]:.4f} (moves {layers.LAYER_MOVES[name]})" for name in layers.LAYER_MOVES]
        return metrics, notes

    def config(self) -> dict:
        sc = self.ctx.spark.sparkContext
        return {
            "workload": self.workload,
            "seed": self.seed,
            "data_seed": DATA_SEED,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "driver_heap": self.ctx.spark.conf.get("spark.driver.memory"),
            "spark_version": self.ctx.spark.version,
            "ops_per_pass": [op.name for op in self.ops],
            **self.ctx.notes,
        }

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        ctx = getattr(self, "ctx", None)
        if ctx is None:
            return
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc if SparkContext._gateway else None
        try:
            if self.listener is not None:
                ctx.spark.streams.removeListener(self.listener)
        finally:
            ctx.spark.stop()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run_one(args) -> int:
    runs_dir = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(runs_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs_dir)
    cwd = os.getcwd()
    run = None
    wall: dict[str, float] = {}  # seconds per stage of the run, for the record
    mark = lambda name, t0: wall.__setitem__(name, round(time.perf_counter() - t0, 2))
    try:
        isolate(work)
        t0 = time.perf_counter()
        host = host_probe()
        mark("host_probe", t0)
        from perfbench import datagen

        t0 = time.perf_counter()
        run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        datagen.write(run.sf_dir, WORKLOADS[args.workload][0], DATA_SEED)
        mark("datagen", t0)
        t0 = time.perf_counter()
        run.setup()
        mark("setup", t0)
        t0 = time.perf_counter()
        run.timed()
        mark("timed", t0)
        t0 = time.perf_counter()
        problems = run.check()
        mark("check", t0)
        metrics, notes = run.per_layer() if args.trace else run.end_to_end()
        config = run.config()
    finally:
        t0 = time.perf_counter()
        if run is not None:
            run.stop()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(runs_dir):
            os.rmdir(runs_dir)
        mark("stop", t0)
    import bench

    host["run_stage_s"] = wall
    host["steal_delta"] = bench._steal_ticks() - host.pop("steal")
    spec = benchmark_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    attempted = run.phase("timed", "probe")
    failed = [ex for ex in attempted if ex["op"].name in problems]
    print("config " + json.dumps(config))
    print("host " + json.dumps(host))
    per_op: dict[str, list[float]] = {}
    for ex in run.phase("warm", "timed"):
        per_op.setdefault(ex["op"].name, []).append(round(ex["s"], 4))
    print("op_seconds " + json.dumps(per_op))  # warm-up first, then each timed pass
    for line in notes:
        print("metric " + line)
    print(f"metric fail_rate {len(failed) / len(attempted):.4f} ({len(failed)} of {len(attempted)} ops)")
    for name, found in sorted(problems.items()):
        for p in found[:5]:
            print(f"check FAILED {name}: {p}")
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": len(attempted),
                "failed": len(failed),
                "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
            }
        )
    )
    return 0


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_all(args) -> int:
    """Every workload of ``BENCHMARK.json`` in turn, each in its own process."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in (w["name"] for w in benchmark_spec()["workloads"]):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.stderr.write(out.stderr[-4000:])
            return out.returncode or 1
        for line in lines[:-1]:
            print(f"[{name}] {line}")
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{name}.{m}": v for m, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=45.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in ("spark_lineage_spark/__init__.py", "bench.py", "tools/check_oracle.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        sys.stderr.write(f"perfbench: the engine is not in {ROOT} (missing {', '.join(missing)})\n")
        return 2
    sys.path.insert(0, ROOT)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
