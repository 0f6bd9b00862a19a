#!/usr/bin/env python3
"""Fixed-work, layer-attributed benchmark of the intake_spark engine.

Usage (from the repository root):

    python3 layerbench/run.py --workload tabular --seed 1 --seconds 15 --trace 0

One closed-loop client (this process) drives a ``local[<cores>]`` Spark
session with a fixed 3 GB heap through: input generation from the seed,
set-up, one cold pass, then a fixed number of steady passes over the
workload's op list (the seed permutes the order each pass). Every op's
output is checked. ``--seconds`` is accepted for the runner interface; the
work done never depends on the clock. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``; per-layer metrics with ``--trace 1``). The line
before it is the run's detail record; on a traced run it holds every span.
All scratch state lives under
``.layerbench_work/`` in the current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

HEAP = "3g"
CORES = len(os.sched_getaffinity(0))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def make_work(root: str, workload: str) -> str:
    """Private scratch tree; every path Spark, the JVM and Python temp
    files use is pointed inside it before the JVM starts."""
    work = os.path.join(root, ".layerbench_work", f"{workload}-{os.getpid()}")
    for sub in ("tmp", "local", "conf", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_CONF_DIR"] = os.path.join(work, "conf")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Xms{HEAP} -XX:+UseG1GC -XX:G1HeapRegionSize=32m "
        f"-XX:InitiatingHeapOccupancyPercent=30 "
        f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}"
    )
    return work


def write_spark_defaults(work: str, traced: bool) -> None:
    conf = {"spark.sql.warehouse.dir": f"{work}/spark-warehouse",
            "spark.local.dir": f"{work}/local"}
    if traced:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": f"file://{work}/eventlog"})
    with open(os.path.join(work, "conf", "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in conf.items())


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every
    descendant process to end."""
    import signal

    from pyspark import SparkContext

    import measure as tr

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    for pid in tr.tree_pids()[1:]:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            continue
    deadline = time.time() + 30
    while len(tr.tree_pids()) > 1 and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def q(values, p):
    """Nearest-rank percentile p (0-100): always one measured sample, so
    it never interpolates across the gap between two ops' times."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def run_passes(wl, ops, rng, tracer, job_group, traced: bool) -> dict:
    """The cold pass, the steady passes and, when traced, one untraced
    steady pass. Returns wall times, samples and failures."""
    import measure as tr

    res = {"attempted": 0, "failed": 0, "errors": {}, "wrong": {}, "cold": {},
           "samples": {op.name: [] for op in ops}, "pass_wall": []}
    groups = sorted({op.group for op in ops})
    with tr.RssSampler() as rss:
        for p in range(1 + wl.passes + traced):
            if p == 1 + wl.passes:
                # spans and job groups off: trace overhead = traced - untraced
                tracer.enabled = False
                tracer.undo()
            order = []
            for g in groups:
                members = [op for op in ops if op.group == g]
                order += [members[i] for i in rng.permutation(len(members))]
            wl.start_pass(p)
            if p == 1:
                cpu0 = tr.tree_cpu_s()
            t_pass = time.perf_counter()
            for op in order:
                res["attempted"] += 1
                with tracer.span("op", op=op.name, **{"pass": p}):
                    t0 = time.perf_counter()
                    try:
                        job_group(f"{op.name}:{p}:build")
                        with tracer.span(op.layer + ".build"):
                            obj = op.build()
                        job_group(f"{op.name}:{p}:exec")
                        with tracer.span(op.layer + ".exec"):
                            val = op.run(obj)
                    except Exception as exc:  # noqa: BLE001 - counted; the run goes on
                        res["failed"] += 1
                        res["errors"].setdefault(op.name, f"{type(exc).__name__}: {exc}"[:300])
                        continue
                    finally:
                        job_group("idle")
                    dt = time.perf_counter() - t0
                bad = op.check(val)
                if bad:
                    res["wrong"].setdefault(op.name, bad[:300])
                if p == 0:
                    res["cold"][op.name] = dt
                elif p <= wl.passes:
                    res["samples"][op.name].append(dt)
            res["pass_wall"].append(time.perf_counter() - t_pass)
            if p == wl.passes:
                res["steady_cpu"] = tr.tree_cpu_s() - cpu0
    res["peak_mb"] = rss.peak
    return res


def bench(args, work: str, out: dict) -> dict:
    import numpy as np

    import measure as tr
    import workloads

    wl = workloads.WORKLOADS[args.workload]()
    traced = bool(args.trace)
    rng = np.random.default_rng(args.seed)
    tracer = wl.tracer = tr.Tracer(traced)
    write_spark_defaults(work, traced)
    t0 = time.perf_counter()
    wl.prepare(work, args.seed, rng)
    prepare_s = time.perf_counter() - t0

    stat0 = tr.proc_stat()
    t_setup = time.perf_counter()
    from intake_spark import session

    with tracer.span("session.get_session"):
        spark = out["spark"] = session.get_session("layerbench", cpus=CORES)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    def job_group(label: str) -> None:
        if tracer.enabled:
            sc.setJobGroup(f"{wl.name}:{label}", label)

    if traced:
        tracer.wrap(session, "load_table", "session.load_table")
    wl.setup(spark, tracer, job_group)
    job_group("idle")
    setup_s = time.perf_counter() - t_setup
    t0 = time.perf_counter()
    wl.expect()  # reference outputs, computed outside every timed region
    expect_s = time.perf_counter() - t0
    ops = wl.ops(spark)

    res = run_passes(wl, ops, rng, tracer, job_group, traced)
    stat1 = tr.proc_stat()
    facts = wl.facts(spark) if traced else {}

    samples = res["samples"]
    steady = [s for s in samples.values() if s]
    pooled = [x for s in steady for x in s]
    wall = res["pass_wall"]
    host = tr.host_facts(stat0, stat1, sum(wall[1:1 + wl.passes]), res["steady_cpu"],
                         CORES, HEAP)
    out["detail"] = {
        "workload": wl.name, "seed": args.seed, "seconds_arg": args.seconds,
        "traced": traced, "steady_passes": wl.passes, "samples": len(pooled),
        "prepare_s": prepare_s, "expect_s": expect_s,
        "pass_wall_s": wall, "setup_s": setup_s, "host": host,
        "errors": res["errors"], "wrong": res["wrong"],
        "op_median_s": {k: statistics.median(v) for k, v in samples.items() if v},
        "op_samples_s": samples,
        "op_cold_s": res["cold"],
    }
    if traced:
        out["spark"] = None
        stop_spark(spark)  # flushes the event log
        import layers

        metrics = layers.per_layer(wl, ops, tracer, work, wall, host, facts)
        out["detail"]["spans"] = tracer.spans
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (wall[0], "s"),
            "ops_per_s": (len(steady) / sum(statistics.median(s) for s in steady), "1/s"),
            "op_p50_s": (q(pooled, 50), "s"),
            "op_p90_s": (q(pooled, 90), "s"),
            "cpu_s_per_op": (res["steady_cpu"] / len(pooled), "s"),
            "peak_rss_mb": (res["peak_mb"], "MB"),
        }
    return {
        "correct": not res["wrong"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    root = os.getcwd()
    # the engine is imported from the checkout being measured
    sys.path.insert(0, root)
    # Spark's JVM and workers inherit fd 1: point it at stderr so the
    # result lines are the only stdout this run produces
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    work = make_work(root, args.workload)
    out: dict = {"spark": None}
    code = 1
    try:
        import workloads

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}")
        result = bench(args, work, out)
        code = 0
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
    finally:
        try:
            if "pyspark" in sys.modules:
                stop_spark(out.get("spark"))
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass
    if code == 0:
        out["detail"]["run_s"] = time.perf_counter() - t_start
        lines = json.dumps({"detail": out["detail"]}) + "\n" + json.dumps(result) + "\n"
        os.write(real_stdout, lines.encode())
    return code


if __name__ == "__main__":
    sys.exit(main())
