"""Benchmark of the tablecloth_time_spark engine: backfill, ingest and
dashboard workloads, end to end or traced layer by layer.

Run from the root of a checkout::

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 16 \\
        --trace 0 --master 'local[3]' --shuffle-partitions 3 \\
        --dashboard-master 'local[1]' --dashboard-shuffle-partitions 1

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the same
workload with spans and Spark counters on and prints the per-layer
metrics; it also writes the spans to ``.perfbench_out/``. Each metric is
printed on its own line with its unit and sample count, and the last line
of standard output is one JSON object::

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

Everything the run writes stays under the checkout: ``.perfbench_work/``
(removed at exit) and ``.perfbench_out/``. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SIZES = {
    "full": {
        "backfill": {"n_conv": 4000},
        "ingest": {"n_conv": 4000, "history_days": 16, "snapshots": 12},
        "dashboard": {"n_conv": 4000, "history_days": 12, "snapshots": 12, "queries": 3000,
                      "warmup_rounds": 2},
    },
    # tiny inputs for the self-tests
    "smoke": {
        "backfill": {"n_conv": 150},
        "ingest": {"n_conv": 300, "history_days": 8, "snapshots": 6},
        "dashboard": {"n_conv": 300, "history_days": 8, "snapshots": 6, "queries": 200,
                      "warmup_rounds": 1},
    },
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["backfill", "ingest", "dashboard"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--master", required=True, help="Spark master, e.g. local[3]")
    p.add_argument("--shuffle-partitions", type=int, required=True)
    p.add_argument("--dashboard-master", help="Spark master of the dashboard workload")
    p.add_argument("--dashboard-shuffle-partitions", type=int)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    args = p.parse_args(argv)
    if args.workload == "dashboard":
        # its queries are small: one task thread is as fast, and the other
        # CPUs are left to the JVM's compiler and GC (NOTES.md, Steadiness)
        args.master = args.dashboard_master or args.master
        args.shuffle_partitions = args.dashboard_shuffle_partitions or args.shuffle_partitions
    return args


def cpu_times() -> list[int]:
    """Host CPU counters (user, nice, system, idle, iowait, irq, softirq,
    steal), to report how busy the machine was while ops ran."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def timer(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def start_spark(args, work):
    from tablecloth_time_spark.session import get_session

    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    return get_session(
        "perfbench",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep JVM temp files and perf data out of /tmp; compile with
            # C1 only, so ops run at the same speed after one warm-up op
            # instead of speeding up for minutes as C2 compiles
            # (NOTES.md, Steadiness)
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={local} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of input
        proc.wait(timeout=60)


def run(args, work: str) -> dict:
    from tracing import SparkCounters, Tracer, TracingTierStore, op_breakdown, tree_files
    from workloads import WORKLOADS

    session_s, spark = timer(lambda: start_spark(args, work))
    try:
        tracer = Tracer(args.trace == 1)
        counters = SparkCounters(spark) if tracer.enabled else None
        w = WORKLOADS[args.workload](
            spark, work, args.seed, tracer, counters, SIZES[args.size][args.workload]
        )
        setup = w.setup(timer)
        setup_s = session_s + metrics.median(setup["gen_s"]) + setup["build_s"]

        warm_t, warm_ok = time.perf_counter(), True
        for i in range(w.warmup_ops):
            w.op(i)
            warm_ok &= w.after_op(i, False)
            w.cleanup(i)
        warm_s = time.perf_counter() - warm_t
        if counters is not None:
            counters.poll()
            if isinstance(getattr(w, "store", None), TracingTierStore):
                w.store.take()

        lat, failed = [], 0
        cpu0 = cpu_times()
        max_ops = w.max_ops()
        i = w.warmup_ops
        # whole rounds only, so every run times each query type equally often
        while (sum(lat) < args.seconds or (i - w.warmup_ops) % w.round_ops) and i < max_ops:
            gc0 = counters.gc_ms() if counters else 0
            with tracer.span("op", i=i):
                dt, _ = timer(lambda: w.op(i))
            lat.append(dt)
            if counters is not None:
                counters.note(i, gc_ms=counters.gc_ms() - gc0)
                counters.poll()
            failed += not w.after_op(i, True)
            w.cleanup(i)
            i += 1
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        if w.finish():
            failed = len(lat)
        attempted = len(lat)
        out = {
            "correct": bool(w.setup_ok and warm_ok and failed == 0),
            "attempted": attempted,
            "failed": failed,
            "lat": lat,
            "warm_s": warm_s,
            "cpu": cpu,
            "tier_bytes_by_op": w.tier_bytes_by_op,
            "setup": {"session_s": session_s, **setup},
        }
        if not tracer.enabled:
            out["metrics"] = metrics.e2e_metrics(w, lat, setup_s, failed, attempted)
            out["ungated"] = metrics.ungated_metrics(w, lat)
        else:
            counters.poll()
            ops = op_breakdown(tracer.spans, counters)
            totals = {}
            if args.workload == "dashboard":
                totals = {
                    "hour_files": len(tree_files(os.path.join(w.root, "tiers", "hour"))),
                    "blocks": w.blocks_total,
                }
            out["metrics"] = metrics.layer_metrics(
                args.workload, ops, counters.notes, lat, counters.peak_rss_mb(), totals
            )
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {"stages": counters.stages, "jobs": counters.jobs,
                 "executions": counters.executions, "notes": counters.notes,
                 "latencies_s": lat},
            )
        return out
    finally:
        stop_spark(spark)


def report(args, res: dict) -> None:
    """Human-readable lines, then the JSON result as the last line."""
    units = metrics.LAYER if args.trace else metrics.E2E
    lat = res["lat"]
    n = len(lat)
    k = max(1, n // 3)  # first third vs last third of the timed ops
    trend = (metrics.median(lat[-k:]) / metrics.median(lat[:k]) - 1) * 100
    print(
        f"# {args.workload} seed={args.seed} master={args.master} "
        f"shuffle_partitions={args.shuffle_partitions} trace={args.trace}"
    )
    print(
        f"# setup: session {res['setup']['session_s']:.2f} s, generation "
        + ", ".join(f"{t:.2f}" for t in res["setup"]["gen_s"])
        + f" s (median counted), build {res['setup']['build_s']:.2f} s; "
        f"warm-up {res['warm_s']:.2f} s (not in setup_s)"
    )
    print(f"# timed ops: {n}, trend (last third vs first third) {trend:+.1f}%")
    print("# op latencies (s): " + ", ".join(f"{t:.3f}" for t in lat))
    cpu = res["cpu"]
    print(
        f"# host cpu over the timed loop: busy {100 * (1 - (cpu[3] + cpu[4]) / sum(cpu)):.0f}%, "
        f"steal {100 * cpu[7] / sum(cpu):.1f}%"
    )
    if res["tier_bytes_by_op"]:
        print("# tier bytes on disk by op (warm-up first): " + ", ".join(map(str, res["tier_bytes_by_op"])))
    samples = {"latency_p50_ms": n, "latency_p90_ms": n}
    for name, value in res["metrics"].items():
        extra = f" (n={samples[name]})" if name in samples else ""
        print(f"{name} = {value:.6g} {units[name]}{extra}")
    for name, (value, unit) in res.get("ungated", {}).items():
        print(f"{name} = {value:.6g} {unit}, not gated")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()},
    }))


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    sys.path.insert(0, ROOT)
    import tablecloth_time_spark  # noqa: F401  (outside a checkout this fails)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # Spark's scratch space too: an inherited SPARK_LOCAL_DIRS would win
    # over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        res = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(args, res)
    return 0


if __name__ == "__main__":
    sys.exit(main())
