"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics untraced for ``--seconds``; ``--trace 1`` runs a fixed schedule
(``--seconds`` is ignored) once untraced and once with every layer
boundary wrapped in a span, and prints the per-layer metrics and the
tracing overhead (spans are written to ``.perfbench/spans/``).
Everything the run writes stays under ``.perfbench/`` in the checkout;
the scratch part is removed on exit. A wrong table, view or point read,
or a failed operation, prints ``"correct": false`` and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# fixed schedule of the traced pass (operations of replay_bulk, compaction
# cycles of serve_mor), so job counts compare exactly; each traced unit
# has an untraced twin, for the tracing overhead
TRACED_SCHEDULE = {"replay_bulk": 2, "serve_mor": 1}
TIMED = ("write", "trigger", "view", "point", "scan")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(TRACED_SCHEDULE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float,
                    help="measured time of an untraced run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[4]",
                    help="Spark master (reference runs use local[4])")
    args = ap.parse_args(argv)
    if not args.trace and args.seconds is None:
        ap.error("--seconds is required with --trace 0")
    return args


def percentile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def timing_summary(xs: list[float]) -> dict:
    """Median, sample count, and the highest of p90/p99/p999 that still
    has at least ten samples beyond it."""
    out = {"p50": statistics.median(xs), "n": len(xs),
           "min": min(xs), "max": max(xs)}
    for q, name in ((0.999, "p999"), (0.99, "p99"), (0.9, "p90")):
        if len(xs) * (1 - q) >= 10:
            out[name] = percentile(xs, q)
            break
    return out


def peak_rss_mb(jvm_pid: int | None) -> float:
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])  # kB
    return total / 1024


def session(args, work: str):
    from etl_spark.session import get_session

    par = int(args.master.strip("local[]*") or os.cpu_count())
    spark = get_session(
        f"perfbench-{args.workload}",
        master=args.master,
        shuffle_partitions=par,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap: G1's adaptive resizing otherwise makes
            # the JVM's peak RSS depend on GC timing, not on the work
            "spark.driver.extraJavaOptions":
                f"-Xms2g -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                " -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # keep every trigger of a write in recentProgress
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop Spark and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM since boot
    (``steal`` in ``/proc/stat``; USER_HZ is 100 on Linux)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / 100


def write_seconds(run) -> float:
    """Write seconds of the run, each write counted at the median time
    of its kind (plain, or compacting): the compaction spikes stay in,
    and one disturbed plain write does not move the total."""
    kinds: dict[bool, list[float]] = {}
    for dt, compacted in zip(run.samples["write"], run.compacting):
        kinds.setdefault(compacted, []).append(dt)
    return sum(len(xs) * statistics.median(xs) for xs in kinds.values())


def e2e_metrics(run, rss_mb: float) -> tuple[dict, dict]:
    s = run.samples
    write_s = write_seconds(run)
    metrics = {
        "setup_s": (statistics.median(s["setup"]), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "bytes_written_per_event": (run.bytes_written / run.events_applied, "B"),
        "events_per_s": (run.events_applied / write_s, "1/s"),
        "write_p50_s": (statistics.median(s["write"]), "s"),
        "trigger_p50_s": (statistics.median(s["trigger"]), "s"),
        "view_refresh_p50_s": (statistics.median(s["view"]), "s"),
        "point_read_p50_s": (statistics.median(s["point"]), "s"),
        "scan_p50_s": (statistics.median(s["scan"]), "s"),
    }
    detail = {k: timing_summary(s[k]) for k in (*TIMED, "setup")}
    return metrics, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # scratch files of Python, the JVM and Spark stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)
    spark = run = None
    crashed = False
    try:
        import etl_spark  # noqa: F401  (fails fast outside a checkout)

        import workloads

        steal0 = host_steal_s()
        t0 = time.perf_counter()
        spark = session(args, work)
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            import tracer as tracing

            tracer = tracing.Tracer(spark, f"{args.workload}-{args.seed}")
            tracing.install(tracer)
        run = workloads.Run(spark, work, args.seed, args.seconds, tracer)
        fixed = TRACED_SCHEDULE[args.workload] if args.trace else None
        workloads.WORKLOADS[args.workload](run, fixed)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        metrics, detail = e2e_metrics(
            run, peak_rss_mb(jvm.pid if jvm is not None else None)
        )
        if tracer is not None:
            layers = tracing.layer_metrics(tracer, run.triggers)
            # the same schedule ran untraced and traced in this process
            plain, traced = run.unit_s[False], run.unit_s[True]
            layers["trace.overhead_s"] = traced - plain
            layers["trace.overhead_frac"] = (traced - plain) / plain
            tracer.dump(os.path.join(
                base, "spans", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"
            ))
            out_metrics = {
                k: {"value": v, "unit": _layer_unit(k)} for k, v in layers.items()
            }
        else:
            out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    except Exception:
        traceback.print_exc()
        crashed = True
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)  # only when no spans were kept
        except OSError:
            pass
    if crashed:
        if run is not None and run.attempted:
            # an operation (counted in ``failed``) or a check raised
            print(json.dumps({"correct": False, "attempted": run.attempted,
                              "failed": run.failed, "metrics": {}}))
        return 1
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "master": args.master,
        "nproc": os.cpu_count(), "session_s": session_s, "phases": run.phases,
        # a run on a contended host reads slower on every timing
        "host_steal_s": host_steal_s() - steal0,
        "measured_s": run.measured_s, "events_applied": run.events_applied,
        "timings": detail, "samples": run.samples,
        "e2e": {k: v for k, (v, _) in metrics.items()},
        "failed_checks": run.checks,
    }), file=sys.stderr)
    correct = not run.checks and run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out_metrics,
    }))
    return 0 if correct else 1


def _layer_unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_frac") or "_per_" in name:
        return "ratio"
    if "bytes" in name:
        return "B"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
