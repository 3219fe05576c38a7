#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the apollon_spark engine.

    python3 perfbench/run.py --workload features --seed 1 --seconds 10 --trace 0

One process, one client, closed loop: one job at a time on
``local[<cores>]``, cores = nproc - 1. Inputs are generated from
``--seed`` (perfbench/gen.py) under ``.perfbench_work/`` in the
checkout, once per seed.

A run: one session set-up from process start (``setup_s``), then timed
jobs until ``--seconds`` of job time and at least one job have run;
``job_s`` is their median. The first job pays the fresh JVM's warm-up
as every CLI run does; with the benchmark's one second, it is the only
timed job. Its output gets the workload's full check, every later job's
output must match its fingerprint; checks happen off the clock.

``--trace 0`` prints the end-to-end metrics (setup_s, job_s, rows_per_s,
peak_rss_mb). ``--trace 1`` starts the session with Spark's event log
on, times two untraced jobs, then traced jobs (one Spark job group per
span) plus the workload's layer runs, and prints the per-layer metrics
of perfbench/layers.json.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""
from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

ACCOUNT_TOL = 0.10    # layer walls should cover the traced job within this
TRACE_DEADLINE_S = 150  # process age by which a traced run's closing
                        # untraced job should have ended


def process_age_s() -> float:
    """Seconds since this process started (/proc start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env() -> dict:
    """Size Spark for this box and keep every file inside the checkout."""
    # one core of nproc's is left to the JVM's GC and JIT threads, the
    # Python driver and the memory sampler: on 4 cores with all four
    # running tasks, job_s varied twice as much from run to run
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    # the driver heap gets an eighth of RAM, at most 4g: a box without
    # swap must also hold one Python worker per core
    heap_gb = max(1, min(4, round(mem_kb / (8 * 1024 * 1024))))
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_gb}g"
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher too: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    return {"cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_mem": os.environ["SPARK_DRIVER_MEM"],
            "mem_total_gb": round(mem_kb / 1024 ** 2, 1)}


def spark_conf(event_log: str | None) -> dict:
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    return conf


def warm_workers(spark, cores):
    """One task per core that imports the engine in its Python worker."""
    def warm(batches):
        import apollon_spark.hmm  # noqa: F401
        import apollon_spark.spectral  # noqa: F401
        yield from batches
    spark.range(0, cores, 1, cores).mapInPandas(warm, "id long").collect()


def start_session(cores, event_log=None):
    """Session start plus the Python-worker warm pass; returns
    (spark, start_s, warm_s)."""
    from apollon_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(event_log))
    t1 = time.perf_counter()
    # a job group of its own, so a traced run finds the warm pass's
    # Python worker start-up in the event log
    spark.sparkContext.setJobGroup("session.warm", "session.warm")
    warm_workers(spark, cores)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm():
    """End the Spark JVM this process launched and wait for it; its
    Python workers exit with it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()          # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def scalars(d: dict) -> dict:
    """``d`` without its lists (the ground truth's id lists), nested
    dicts included."""
    return {k: scalars(v) if isinstance(v, dict) else v
            for k, v in d.items() if not isinstance(v, list)}


def percentile_record(samples: list[float]) -> dict:
    """Median, plus the highest percentile with >= 10 samples beyond."""
    xs = sorted(samples)
    rec = {"n": len(xs), "median": statistics.median(xs) if xs else None}
    for pct in (99.9, 99, 95, 90, 75, 50):
        if len(xs) * (1 - pct / 100) >= 10:
            rec[f"p{pct:g}"] = xs[min(len(xs) - 1, int(len(xs) * pct / 100))]
            break
    return rec


class Runner:
    def __init__(self, args, env):
        from gen import write_inputs
        from workloads import WORKLOADS
        self.args = args
        self.env = env
        self.wl = WORKLOADS[args.workload]
        self.cores = env["cores"]
        self.tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.outs = os.path.join(WORK, "out", self.tag)
        self.attempted = 0
        self.failed_jobs: dict[int, list[str]] = {}
        self.ref_sig = None
        self._n = 0
        t = time.perf_counter()
        self.inp = os.path.join(WORK, "inputs", f"{self.wl.name}-{args.seed}"
                                f"-{self.wl.size}")
        self.truth = write_inputs(self.inp, self.wl.name, args.seed,
                                  self.wl.size)
        self.prep_s = time.perf_counter() - t

    def run_job(self, spark, tr, rss=None):
        """One job into a fresh output directory, then (off the clock)
        its check: the full check for the first job of the run, the
        fingerprint of that job's output for the rest. Returns
        (wall_s, summary, out); wall_s is None when the job failed."""
        from tracing import NULL_TRACER
        tr = tr or NULL_TRACER
        inp, truth = self.inp, self.truth
        spark.catalog.clearCache()
        # every job starts from the same heap: drop the previous job's
        # Python-side references, then a full JVM GC, which also lets
        # Spark's ContextCleaner remove that job's shuffle files
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        self._n += 1
        out = os.path.join(self.outs, f"job{self._n:04d}")
        self.attempted += 1
        try:
            with rss.active() if rss else contextlib.nullcontext():
                t0 = time.perf_counter()
                with tr.span("job"):
                    summary = self.wl.job(spark, inp, out, truth, tr)
                wall = time.perf_counter() - t0
            sig = self.wl.signature(spark, out, summary)
            # persistent RDDs (caches, localCheckpoints) the job left
            summary["cached_left"] = (
                spark.sparkContext._jsc.getPersistentRDDs().size())
            if self.ref_sig is None:
                fails = self.wl.check(spark, inp, out, truth, summary)
                self.ref_sig = None if fails else sig
            elif sig != self.ref_sig:
                fails = ["output differs from the checked job's output"]
            else:
                fails = []
        except Exception:                      # noqa: BLE001
            fails = [traceback.format_exc(limit=6)]
        if fails:
            self.failed_jobs[self._n] = fails
            print(f"[perfbench] FAILED job {self._n}: {fails}",
                  file=sys.stderr)
            return None, None, out
        return wall, summary, out

    def timed_loop(self, spark, rss, seconds, min_jobs=1):
        """Timed jobs until ``seconds`` of job time and ``min_jobs`` jobs
        have run. The first one, which also pays the fresh JVM's warm-up
        as every CLI run does, is checked in full."""
        walls, cached = [], []
        while sum(walls) < seconds or len(walls) < min_jobs:
            wall, summary, out = self.run_job(spark, None, rss)
            shutil.rmtree(out, ignore_errors=True)
            if wall is None:
                if self.ref_sig is None or len(self.failed_jobs) > min_jobs:
                    break
                continue
            walls.append(wall)
            cached.append(summary["cached_left"])
        return walls, cached

    def main(self):
        from tracing import RssSampler
        args = self.args
        # a traced run's session writes Spark's event log from its start
        self.log_dir = (os.path.join(WORK, "eventlog", self.tag)
                        if args.trace else None)
        # set-up counts from process start, less the input preparation
        spark, start_s, warm_s = start_session(self.cores, self.log_dir)
        setup_s = process_age_s() - self.prep_s
        t_setup = time.perf_counter()
        steal0 = cpu_jiffies()
        record = {"workload": self.wl.name, "seed": args.seed,
                  "trace": args.trace, "env": self.env_record(spark),
                  "truth": scalars(self.truth),
                  "prep_s": self.prep_s, "setup_s": setup_s,
                  "session_start_s": start_s, "session_warm_s": warm_s}
        try:
            with RssSampler() as rss:
                if args.trace:
                    spark, metrics = self.traced(spark, rss, record)
                else:
                    walls, cached = self.timed_loop(spark, rss, args.seconds)
                    record.update(job_s=percentile_record(walls),
                                  jobs_s=walls, cached_left=cached,
                                  peak_rss_parts_kb=rss.peak_parts_kb)
                    metrics = self.e2e(setup_s, walls, rss)
        finally:
            if spark is not None:
                spark.stop()
            shutil.rmtree(self.outs, ignore_errors=True)
        record["after_setup_s"] = time.perf_counter() - t_setup
        # the share of CPU time the hypervisor gave to other guests while
        # the jobs ran: on a shared VM it explains most slow runs
        steal1 = cpu_jiffies()
        record["cpu_steal_share"] = ((steal1[0] - steal0[0])
                                     / max(steal1[1] - steal0[1], 1))
        record["failed_jobs"] = self.failed_jobs
        record["metrics"] = metrics
        self.write_record(record)
        return metrics

    def e2e(self, setup_s, walls, rss):
        # a run without one successful timed job reports 0 (and fails)
        job_s = statistics.median(walls) if walls else 0.0
        m = {"setup_s": (setup_s, "s"),
             "job_s": (job_s, "s"),
             "rows_per_s": (self.truth[self.wl.rows_key] / job_s
                            if job_s else 0.0, "1/s"),
             "peak_rss_mb": (rss.peak_kb / 1024, "MB")}
        rec = percentile_record(walls)
        tail = [k for k in rec if k.startswith("p")]
        print(f"[perfbench] {self.wl.name} seed={self.args.seed} "
              f"cores={self.cores} timed jobs n={len(walls)} "
              + (f"job_s {tail[0]}={rec[tail[0]]:.4f} " if tail else
                 "(too few jobs for a tail percentile) ")
              + f"error_rate={len(self.failed_jobs) / self.attempted:.4f} "
              f"({len(self.failed_jobs)} of {self.attempted} jobs)")
        for name, (v, unit) in m.items():
            print(f"[perfbench] {name} = {v:.6g} {unit}")
        return m

    def traced(self, spark, rss, record):
        """An untraced job that warms the session, then an untraced job,
        traced jobs (one Spark job group per span) each followed by the
        workload's layer runs for ``--seconds`` (at least one), and one
        more untraced job. Consecutive jobs still get faster after the
        first (JIT), so the untraced job_s is the mean of the jobs on
        either side of the traced ones. Returns (None, metrics): the
        session is stopped here so its event log is complete."""
        from tracing import Tracer, read_event_log
        walls, _ = self.timed_loop(spark, rss, 0, 2)
        untraced = walls[1:]
        tr = Tracer(spark, run_id=self.tag)
        iters = []
        t_end = time.perf_counter() + self.args.seconds
        try:
            while untraced and (not iters or time.perf_counter() < t_end):
                tr.run_id = f"{self.tag}/{len(iters)}"
                wall, summary, out = self.run_job(spark, tr)
                if wall is None:
                    break
                with tr.span("layers"):
                    layers = self.wl.trace(spark, self.inp, out,
                                           out + "-layers", self.truth,
                                           summary, tr)
                iters.append({"run_id": tr.run_id, "layers": layers,
                              "cached_left": summary["cached_left"]})
                shutil.rmtree(out, ignore_errors=True)
                shutil.rmtree(out + "-layers", ignore_errors=True)
            # the closing job is left out when it would end the run past
            # TRACE_DEADLINE_S, on a slow host
            if iters and process_age_s() + untraced[0] < TRACE_DEADLINE_S:
                untraced += self.timed_loop(spark, rss, 0)[0]
        finally:
            spark.stop()
        groups = read_event_log(self.log_dir)
        shutil.rmtree(self.log_dir, ignore_errors=True)
        record["spans"] = tr.spans
        record["untraced_jobs_s"] = untraced
        return None, self.layer_metrics(
            tr, groups, iters,
            statistics.mean(untraced) if untraced else 0.0, record)

    def layer_metrics(self, tr, groups, iters, untraced, record):
        """Fold each traced iteration's spans into layer metrics; report
        the median over iterations."""
        from tracing import span_metrics
        with open(os.path.join(HERE, "layers.json")) as fh:
            layers = json.load(fh)["layers"]
        per_iter = []
        for it in iters:
            spans = [s for s in tr.spans if s["run_id"] == it["run_id"]]
            by_name = {s["name"]: s for s in spans}

            def metrics_of(name):
                inner, todo = [], [by_name[name]["id"]]
                while todo:
                    pid = todo.pop()
                    kids = [s for s in spans if s["parent"] == pid]
                    inner += kids
                    todo += [s["id"] for s in kids]
                return span_metrics(groups, by_name[name], self.cores, inner)

            def total(names):
                out = {}
                for n in names:
                    for k, v in metrics_of(n).items():
                        out[k] = out.get(k, 0.0) + v
                return out

            job = metrics_of("job")
            vals = {"job.traced_job_s": job["wall_s"],
                    "cache.cached_left": it["cached_left"],
                    "storage.write_mb": job["write_mb"]}
            covered = 0.0
            for layer, spec in it["layers"].items():
                plus, minus = total(spec["spans"]), total(spec.get("minus",
                                                                  []))
                # additive metrics are differences; ratios come from the
                # layer's own run (a difference of two noisy walls can
                # be near zero or negative)
                own = metrics_of(spec["spans"][0])
                m = {k: plus[k] - minus.get(k, 0.0)
                     for k in ("wall_s", "jobs", "gc_s", "shuffle_mb",
                               "spill_mb", "py_run_s", "py_init_s", "py_mb")}
                m["busy"] = own["busy"]
                m["skew"] = own["skew"]
                m["hot_key_task_share"] = own["hot_task_share"]
                covered += m["wall_s"]
                m.update({k: v for k, v in spec.items()
                          if k not in ("spans", "minus")})
                vals.update({f"{layer}.{k}": v for k, v in m.items()})
            vals["job.accounted_share"] = covered / job["wall_s"]
            per_iter.append(vals)
        session = {
            "session.setup_s": record["setup_s"],
            "session.start_s": record["session_start_s"],
            "session.warm_s": record["session_warm_s"],
            "session.py_init_s": span_metrics(
                groups, {"id": "session.warm",
                         "wall_s": record["session_warm_s"]},
                self.cores, [])["py_init_s"]}
        traced = (statistics.median(x["job.traced_job_s"] for x in per_iter)
                  if per_iter else 0.0)
        job = {"job.untraced_job_s": untraced,
               "job.trace_overhead_s": traced - untraced}
        metrics = {}
        for layer, spec in layers.items():
            for metric, (unit, _) in spec["metrics"].items():
                name = f"{layer}.{metric}"
                if name in session:
                    v = session[name]
                elif name in job:
                    v = job[name]
                else:
                    xs = [x[name] for x in per_iter if name in x]
                    v = statistics.median(xs) if xs else 0.0
                metrics[name] = (v, unit)
        record["layers"] = per_iter
        acc = [round(x["job.accounted_share"], 4) for x in per_iter]
        ok = all(abs(a - 1) <= ACCOUNT_TOL for a in acc)
        print(f"[perfbench] traced {self.wl.name}: {len(per_iter)} "
              f"iterations; untraced job_s={untraced:.4f}, traced "
              f"job_s={traced:.4f}; layer walls cover {acc} of the traced "
              f"job: {'within' if ok else 'OUTSIDE'} the tolerance "
              f"{ACCOUNT_TOL}")
        return metrics

    def env_record(self, spark) -> dict:
        import numpy
        import pyspark
        return {**self.env, "seed": self.args.seed,
                "master": spark.sparkContext.master,
                "spark": pyspark.__version__, "numpy": numpy.__version__,
                "python": platform.python_version()}

    def write_record(self, record):
        d = os.path.join(WORK, "records")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{self.tag}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["features", "pit", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "apollon_spark")):
        print(f"[perfbench] no apollon_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception, so the JVM is still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    env = configure_env()
    sys.path[:0] = [HERE, ROOT]
    runner = Runner(args, env)
    try:
        metrics = runner.main()
    finally:
        stop_jvm()
    print(json.dumps({
        "correct": not runner.failed_jobs,
        "attempted": runner.attempted,
        "failed": len(runner.failed_jobs),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
