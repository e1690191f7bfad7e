"""Benchmark entry point: one seeded workload, one client, one run.

    python3 perfbench/run.py --workload contrib_upload --seed 1 --seconds 20 --trace 0

Run from the repository root. A child process generates the inputs from
the seed and computes the expected outputs with DuckDB (``prepare.py``).
Then the run starts Spark on ``local[<cores>]`` through
``session.get_spark``, runs the workload's warm-up jobs (together,
``setup_s``), then runs jobs back to back for ``--seconds``, and at least
three (a closed loop with one client; a job that has started finishes).
Every output is checked; the last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs half the
time untraced and half traced (spans at every layer boundary, Spark event
log, streaming listener) and reports the per-layer metrics, including
``trace.overhead_ratio`` (traced over untraced median job time).

Everything the run writes stays under ``.perfbench/`` in the working
directory; scratch space is cleared at the start and end of a run.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import traceback

from tracing import (JOB_PROPERTY, PHASE_PROPERTY, EventLog, NullTracer, RssSampler,
                     StreamingStats, Tracer, descendants)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Measured jobs per run at least: the median of three or more is not
#: moved by the slower first one.
MIN_JOBS = 3

#: A run that has not finished ``--seconds`` plus this long after it
#: started is killed with its processes and exits non-zero; the stacks of
#: its threads go to stderr first. It covers input generation, set-up,
#: the last job's overrun, the checks and the shutdown: on a 4-core host
#: about 50 to 80 s together.
MARGIN_S = 160



def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply every input size (scaling checks, self-test)")
    p.add_argument("--corrupt", action="store_true",
                   help="drop one row of each checked output (self-test)")
    return p.parse_args(argv)


def pin_environment(scratch: str) -> dict:
    """Make the run independent of the caller's environment: workers
    import the package from this checkout, Spark uses every core, the
    JVM heap fits the machine, and all temporary files stay under
    ``scratch``."""
    cores = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = {
        "PYTHONPATH": os.pathsep.join([ROOT] + [
            p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        # a quarter of physical memory: the package's default heap is
        # sized for a larger machine than a benchmark host may have
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, int(mem_gb // 4))}g",
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
        "TMPDIR": os.path.join(scratch, "tmp"),
        "PYTHONWARNINGS": "ignore",
    }
    os.environ.update(env)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    tempfile.tempdir = env["TMPDIR"]
    return {"cores": cores, "mem_gb": round(mem_gb, 1),
            "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"]}


def spark_conf(scratch: str, event_log: bool) -> dict:
    tmp = os.path.join(scratch, "tmp")
    conf = {
        "spark.local.dir": os.path.join(scratch, "local"),
        # initial heap = maximum: left to grow, G1 expanded the heap in
        # steps that put corpus_prep's peak memory at 2.3 or 3.2 GB from
        # one run of the same code to the next
        "spark.driver.extraJavaOptions": (f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                                          f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }
    if event_log:
        os.makedirs(os.path.join(scratch, "events"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(scratch, "events"),
            "spark.eventLog.compress": "false",
        })
    return conf


def arm_deadline(deadline_s: float) -> None:
    def expire():
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        print(f"run exceeded {deadline_s:.0f} s; killed", file=sys.stderr, flush=True)
        os._exit(3)

    faulthandler.dump_traceback_later(deadline_s - 5)
    timer = threading.Timer(deadline_s, expire)
    timer.daemon = True
    timer.start()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit: the gateway JVM exits when its stdin closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Run:
    def __init__(self, args, scratch: str, cores: int):
        import workloads

        self.args = args
        self.scratch = scratch
        self.cores = cores
        self.wl = workloads.WORKLOADS[args.workload]
        self.make_ctx = workloads.Ctx
        self.setup_session = workloads.setup_session
        self.sizes = self.wl.sized(args.scale)
        self.data = os.path.join(scratch, "data")
        self.jobs: list[dict] = []  # {"s", "phase", "errors", "counts"}
        self.start_s = self.warmup_s = 0.0
        self.warmup_jobs_s: list[float] = []  # each warm-up job's time

    def ctx(self, spark):
        return self.make_ctx(spark=spark, data=self.data, work=os.path.join(self.scratch, "work"),
                             expected=self.expected, corrupt=self.args.corrupt)

    # -- inputs and oracles -------------------------------------------------

    def prepare_inputs(self) -> None:
        """Generate the inputs and compute the expected outputs in a child
        process (``prepare.py``) that has exited before set-up starts."""
        out = os.path.join(self.scratch, "expected.pkl")
        subprocess.run([sys.executable, os.path.join(HERE, "prepare.py"), self.args.workload,
                        str(self.args.seed), str(self.args.scale), self.data, out], check=True)
        with open(out, "rb") as f:
            self.expected = pickle.load(f)

    # -- set-up ---------------------------------------------------------------

    def setup(self, event_log: bool):
        """Start the session and run the warm-up jobs on the measured input.
        ``setup_s`` is the session start plus the warm-up jobs."""
        from pac_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=spark_conf(self.scratch, event_log))
        self.setup_session(spark)
        self.start_s = time.perf_counter() - t0
        ctx = self.ctx(spark)
        ctx.corrupt = False  # the self-test corrupts measured jobs only
        for _ in range(self.wl.warmup_jobs):
            self.wl.clear_outputs(ctx)
            t1 = time.perf_counter()
            outs = self.wl.job(ctx, NullTracer())
            self.warmup_jobs_s.append(time.perf_counter() - t1)
            errors = self.wl.check(ctx, outs)
            if errors:
                raise RuntimeError(f"warm-up job failed its check: {errors}")
        self.warmup_s = sum(self.warmup_jobs_s)
        return spark

    # -- measurement ----------------------------------------------------------

    def measure(self, ctx, tr, rss, seconds: float, phase: str, min_jobs: int) -> None:
        """Jobs back to back until ``seconds`` have passed and at least
        ``min_jobs`` have run. Records each job's time, check errors,
        counters and peak memory."""
        start = time.perf_counter()
        n = 0
        while n < min_jobs or time.perf_counter() - start < seconds:
            sc = ctx.spark.sparkContext
            tr.start_job(len(self.jobs))
            sc.setLocalProperty(PHASE_PROPERTY, phase)
            sc.setLocalProperty(JOB_PROPERTY, str(len(self.jobs)))
            ctx.counts = {}
            self.wl.clear_outputs(ctx)
            rss.take_peak()
            t0 = time.perf_counter()
            try:
                outs = self.wl.job(ctx, tr)
                dt, peak = time.perf_counter() - t0, rss.take_peak()
                errors = self.wl.check(ctx, outs)
            except Exception:
                dt, peak = time.perf_counter() - t0, rss.take_peak()
                traceback.print_exc()
                errors = ["job raised; traceback on stderr"]
            for e in errors:
                print(f"[check] job {len(self.jobs)}: {e}", file=sys.stderr)
            self.jobs.append({"s": dt, "phase": phase, "errors": errors,
                              "counts": dict(ctx.counts), "rss": peak})
            n += 1

    def execute(self) -> dict:
        traced = bool(self.args.trace)
        self.prepare_inputs()
        with RssSampler() as rss:
            spark = self.setup(event_log=traced)
            stream_stats = StreamingStats()
            if traced:
                spark.streams.addListener(stream_stats.listener())
            ctx = self.ctx(spark)
            if not traced:
                self.measure(ctx, NullTracer(), rss, self.args.seconds, "untraced", MIN_JOBS)
            else:
                self.measure(ctx, NullTracer(), rss, self.args.seconds / 2, "untraced", 1)
                tracer = Tracer(spark.sparkContext)
                self.measure(ctx, tracer, rss, self.args.seconds / 2, "traced", 1)
            versions = {"spark": spark.version,
                        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                        "python": sys.version.split()[0]}
            stop_spark(spark)
        result = {"versions": versions}
        if traced:
            import metrics

            out_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"{self.args.workload}-seed{self.args.seed}-spans.json"))
            result["layers"] = metrics.per_layer(
                self, tracer, EventLog(os.path.join(self.scratch, "events")), stream_stats)
        return result


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    arm_deadline(args.seconds + MARGIN_S)
    import __spark_entry__  # noqa: F401  (the program under test must be present)
    import metrics
    import workloads

    if args.workload not in workloads.WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
    scratch = os.path.join(ROOT, ".perfbench", "scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        env = pin_environment(scratch)
        run = Run(args, scratch, env["cores"])
        result = run.execute()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    measured = [j for j in run.jobs if j["phase"] == "untraced" or args.trace]
    failed = sum(1 for j in measured if j["errors"])
    print(json.dumps({"env": {**env, **result["versions"], "workload": args.workload,
                              "seed": args.seed, "sizes": run.sizes,
                              "job_s": [round(j["s"], 3) for j in run.jobs],
                              "start_s": run.start_s, "warmup_s": run.warmup_jobs_s}}))
    if args.trace:
        values = result["layers"]
    else:
        values = metrics.end_to_end(run)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(measured),
        "failed": failed,
        "metrics": {name: {"value": v, "unit": metrics.UNITS[name]}
                    for name, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
