#!/usr/bin/env python3
"""Seeded, single-client, closed-loop benchmark of the spatial-join +
tiling engine.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.perfbench_work/`` (removed at exit), computes every
oracle, sets up a session three times (new session, staged inputs,
one warm-up op; ``setup_s`` is the median, the first also launches the
JVM),
then runs whole cycles of operations for about ``--seconds`` (the
cycle end nearest to it),
checking each result against its oracle. The last stdout line is one
JSON object: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``. See perfbench/README.md for the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

SETUPS = 3  # set-up repetitions per run; setup_s is their median


def host_probe_s() -> float:
    """Median time of a fixed pure-Python loop: shows shared-host noise."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(400_000))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def session(work: str, cores: int, trace: bool):
    from htrc_ingester_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.sql.pyspark.udf.profiler"] = "perf"
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="row-count multiplier (0.01 = sf0.001)")
    args = ap.parse_args()

    import htrc_ingester_spark  # noqa: F401  (fails here when the engine is absent)
    import report
    from spans import NullTracer, Tracer

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        # every JVM the launcher starts keeps its temp files in the work dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_DRIVER_MEM="2g",
        PYTHONPATH=os.pathsep.join([ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    )
    print(f"host_probe_s={host_probe_s():.4f}", flush=True)

    spark = None
    try:
        t_start = time.perf_counter()
        wl = WORKLOADS[args.workload](args.seed, args.scale, work)
        t_gen = time.perf_counter()
        wl.oracle(tmp)
        print(f"generate_s={t_gen - t_start:.2f} oracle_s={time.perf_counter() - t_gen:.2f}", file=sys.stderr)

        setup, session_s = [], []
        for k in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = session(work, cores, bool(args.trace))
            session_s.append(time.perf_counter() - t0)
            wl.stage(spark)
            warm = wl.warmups()[k]
            if warm.prepare:
                warm.prepare()
            warm.check(warm.run(NullTracer()))
            setup.append(time.perf_counter() - t0)
        print("setup_s=" + " ".join(f"{x:.2f}" for x in setup), file=sys.stderr)

        sc = spark.sparkContext
        tracer = floor = None
        if args.trace:
            tracer = Tracer(spark, cores)
            sc.setJobGroup("perfbench.idle", "floor", False)
            spark.range(1).count()
            floor = max(tracer.job_ids("perfbench.idle"))
        plain = NullTracer(sc if args.trace else None)

        records, failed = [], 0
        t_loop = time.perf_counter()
        c = 0
        # whole cycles only (a fixed op mix), stopping at the cycle end
        # nearest to --seconds; a traced run needs a plain cycle as well
        while c < 1 + args.trace or (time.perf_counter() - t_loop) * (1 + 0.5 / c) < args.seconds:
            # a traced run alternates traced and plain cycles; the gap
            # between their medians is the tracing overhead
            tr = tracer if tracer is not None and c % 2 == 0 else plain
            for op in wl.cycle(c):
                spark.catalog.clearCache()
                if op.prepare:
                    op.prepare()
                tr.begin_op(len(records), op.name)
                t0 = time.perf_counter()
                err = None
                try:
                    res = op.run(tr)
                except Exception as e:  # a raised op is a failed op; the run goes on
                    err = e
                dt = time.perf_counter() - t0
                tr.end_op()
                if err is None:
                    try:
                        op.check(res)
                    except Exception as e:
                        err = e
                if err is not None:
                    failed += 1
                    print(f"op {op.name} (cycle {c}) failed: {err!r}", file=sys.stderr)
                records.append({"name": op.name, "dt": dt, "rows": op.rows, "traced": tr is tracer,
                                "notes": op.notes})
            c += 1

        if args.trace:
            if hasattr(wl, "probe"):
                tracer.begin_op(len(records), "probe")
                wl.probe(tracer)
                tracer.end_op()
                tracer.ops.pop()  # a probe is not an op
            metrics = report.per_layer(wl, tracer, records, session_s, floor)
            units = report.PER_LAYER
            if metrics["spark.unattributed_jobs"] != 0:
                print(f"unattributed jobs: {metrics['spark.unattributed_jobs']}", file=sys.stderr)
                failed += 1
        else:
            rss = peak_rss_mb(os.getpid()) + peak_rss_mb(sc._gateway.proc.pid)
            metrics = report.end_to_end(setup, records, rss)
            units = report.END_TO_END
        print(f"ops={len(records)} cycles={c} " + " ".join(f"{r['name']}={r['dt']:.3f}" for r in records),
              file=sys.stderr)
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass
        print(f"stop_s={time.perf_counter() - t_stop:.2f}", file=sys.stderr)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
