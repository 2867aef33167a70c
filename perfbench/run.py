#!/usr/bin/env python3
"""Run one workload of the KG-construction benchmark and print its metrics.

    python3 perfbench/run.py --workload facts --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the lines
before it name every metric with its unit and give the exact
counts (Spark jobs per repetition, triples, nodes, edges) with some context
(peak RSS, per-repetition times, the 1-minute load average, a host-speed
probe).
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ledger of a separate traced run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# ~92k triples per seed: the largest corpus whose run, set-up included,
# stays near a minute (README.md, "Why these choices")
SF = 0.03
CORES = 4
# seconds of --seconds per timed repetition: the count is fixed by the
# budget, not by the program's speed, so a faster program is timed on
# equally warm repetitions
REP_BUDGET_S = 15.0
E2E_UNITS = {
    "triples_per_s": "triples/s",
    "build_s": "s",
    "cpu_s_per_mtriple": "CPU-s/Mtriple",
    "setup_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("facts", "warehouse"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=REP_BUDGET_S,
                   help=f"one timed repetition per {REP_BUDGET_S:g} s of "
                        "this, at least one")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=SF,
                   help="corpus scale factor (the benchmark's own tests "
                        "use a tiny one)")
    return p.parse_args(argv)


def configure_env(run_dir: str, event_dir: str | None) -> None:
    """Keep Spark's and Python's scratch files inside the checkout and set
    the confs that only the benchmark needs; the session itself comes from
    the program's own ``session.get_spark``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("MEMEX_KG_CATALOG", None)
    # the JVM's own temp files (native libraries it unpacks) stay in the
    # run directory; -UsePerfData: no hsperfdata file in the system one
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    confs = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + event_dir,
                      "spark.eventLog.compress": "false"})
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args.append("pyspark-shell")
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def host_probe_s() -> float:
    """Wall of a fixed single-threaded Python loop. Printed as context for
    comparing runs made at different times on a shared host; not a
    metric."""
    t, x = time.perf_counter(), 0
    for i in range(3_000_000):
        x += i * i
    return time.perf_counter() - t


def last_job_id(sc) -> int:
    ids = sc.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


class Run:
    """One process's measurement: set up, repeat, check, report."""

    def __init__(self, args, spark, workload, meta: dict, corpus_s: float):
        self.args, self.spark, self.wl = args, spark, workload
        self.sc = spark.sparkContext
        self.expected = meta["expected"]
        self.meta = meta
        self.corpus_s = corpus_s
        self.attempted = self.failed = 0
        self.walls: list[float] = []
        self.cpu_s: list[float] = []
        self.jobs: list[int] = []
        self.setup_s = 0.0
        self.rss_mb = {"python": 0.0, "jvm": 0.0}
        self.host_probe_s = 0.0

    def set_up(self) -> None:
        """The session's dimension memos; they stay for the timed
        repetitions."""
        from perfbench.workloads import build_memos
        build_memos(self.spark, self.wl.corpus_dir)
        self.setup_s = time.monotonic() - START - self.corpus_s

    def checked(self, rep) -> None:
        """Run ``rep()``, then the workload's check; either raising counts
        as a failure. The check is skipped after a raise: it would read
        outputs that were never written, and ``Observation.get`` would
        wait for an action that never finished."""
        self.attempted += 1
        try:
            rep()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return
        try:
            ok = self.wl.check() == self.expected
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        self.failed += not ok

    def timed_rep(self) -> float:
        from perfbench.procstat import tree_cpu_s
        self.wl.prepare()
        j0, c0 = last_job_id(self.sc), tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        wall = cpu = 0.0
        jobs = 0

        def rep():
            nonlocal wall, cpu, jobs
            try:
                self.wl.rep()
            finally:
                wall = time.perf_counter() - t0
                cpu = tree_cpu_s(os.getpid()) - c0
                jobs = last_job_id(self.sc) - j0

        self.checked(rep)
        self.jobs.append(jobs)
        self.walls.append(wall)
        self.cpu_s.append(cpu)
        self.spark.catalog.clearCache()
        return wall

    def measure(self, seconds: float) -> None:
        for _ in range(max(1, int(seconds // REP_BUDGET_S))):
            self.timed_rep()

    def read_memory(self) -> None:
        """Peak RSS of this process and of the JVM; call before stopping."""
        from perfbench.procstat import child_named, hwm_mb
        jvm = child_named(os.getpid(), "java")
        self.rss_mb = {"python": hwm_mb(os.getpid()),
                       "jvm": hwm_mb(jvm) if jvm else 0.0}

    def end_to_end(self) -> dict:
        n = self.expected["triples"]["count"]
        build = statistics.median(self.walls)
        return {
            "triples_per_s": n / build,
            "build_s": build,
            "cpu_s_per_mtriple": statistics.median(self.cpu_s) / (n / 1e6),
            "setup_s": self.setup_s,
        }

    def peak_rss_mb(self) -> float:
        """Peak RSS of this process plus the JVM's: printed with the
        end-to-end metrics, not gated (README.md, "Why these choices")."""
        return self.rss_mb["python"] + self.rss_mb["jvm"]

    def counts(self) -> dict:
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "sf": self.args.sf, "n_turns": self.meta["n_turns"],
            "n_triples": self.expected["triples"]["count"],
            "n_nodes": self.expected["nodes"]["count"],
            "n_edges": self.expected["edges"]["count"],
            "jobs_per_rep": self.jobs, "build_s_reps": self.walls,
            "cpu_s_reps": self.cpu_s,
            "corpus_s": self.corpus_s,
            "peak_rss_mb_parts": self.rss_mb,
            "loadavg_1m": os.getloadavg()[0],
            "host_probe_s": self.host_probe_s,
        }


def traced(run: Run) -> dict:
    """An untimed warm-up, the traced repetition, then an untraced one: the
    overhead compares the two. The warm-up keeps the cold first execution
    out of the traced one, and the traced repetition is never the warmer
    of the pair. Returns the pieces of the ledger that need the live
    session."""
    from perfbench.spans import Tracer
    run.wl.warm_up()
    run.spark.catalog.clearCache()
    tracer = Tracer(run.sc)
    out = {}

    def rep():
        try:
            out["rows"], out["traced_s"] = run.wl.traced(tracer)
        finally:
            run.sc.setLocalProperty("spark.jobGroup.id", None)

    run.checked(rep)
    if "rows" not in out:
        raise RuntimeError("the traced repetition raised; no ledger")
    rows, traced_s = out["rows"], out["traced_s"]
    written = run.wl.written_bytes()
    run.spark.catalog.clearCache()
    untraced = run.timed_rep()
    return {"rows": rows, "spans": tracer.spans, "written_bytes": written,
            "untraced_build_s": untraced, "traced_build_s": traced_s}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import memex_kg_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine ({e}); run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    from perfbench import workloads
    from perfbench.corpus import cached_corpus, ensure_corpus

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    configure_env(run_dir, event_dir)
    t = time.monotonic()
    root = os.path.join(WORK, "corpus")
    corpus_dir, meta = cached_corpus(root, args.seed, args.sf)
    if meta is None:
        # generated in a child process, so the generator's and the
        # oracle's memory stays out of this process's peak RSS
        subprocess.run([sys.executable, "-m", "perfbench.corpus", root,
                        str(args.seed), str(args.sf)], cwd=ROOT, check=True)
        corpus_dir, meta = ensure_corpus(root, args.seed, args.sf)
    corpus_s = time.monotonic() - t

    from memex_kg_spark.session import get_spark
    spark = get_spark(cores=CORES)
    wl_cls = {"facts": workloads.Facts,
              "warehouse": workloads.Warehouse}[args.workload]
    try:
        run = Run(args, spark, wl_cls(spark, corpus_dir, run_dir), meta,
                  corpus_s)
        run.set_up()
        if args.trace:
            extra = traced(run)
        else:
            run.measure(args.seconds)
        run.read_memory()
        run.host_probe_s = host_probe_s()
    finally:
        stop_spark(spark)
    if args.trace:
        from perfbench.eventlog import read_events, summarize
        from perfbench.ledger import ledger, units
        metrics = ledger(
            extra["spans"], summarize(read_events(event_dir)),
            extra["rows"], n_triples=meta["expected"]["triples"]["count"],
            cores=CORES, transcript_bytes=meta["transcript_bytes"],
            written_bytes=extra["written_bytes"],
            untraced_build_s=extra["untraced_build_s"],
            traced_build_s=extra["traced_build_s"])
        metrics.update({f"{p}.peak_rss_mb": mb
                        for p, mb in run.rss_mb.items()})
        unit = units()
    else:
        metrics, unit = run.end_to_end(), E2E_UNITS
    shutil.rmtree(run_dir, ignore_errors=True)

    for name, value in metrics.items():
        print(f"{name} {value} {unit[name]}")
    if not args.trace:
        print(f"peak_rss_mb {run.peak_rss_mb()} MB")
    print("counts " + json.dumps(run.counts()))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
