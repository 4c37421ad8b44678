"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pip_countries --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository. The run pins its
environment, builds seeded inputs, starts one local Spark session,
warms up on inputs that share no value with the timed ones, then runs
a fixed number of timed passes, each over fresh inputs, and checks
every pass's output. Its last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the metrics are the
end-to-end ones with ``--trace 0`` and the per-layer ones with
``--trace 1``. Everything it writes goes under ``.perfbench_work/`` in
the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "duckdb_geography_spark"
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workloads import GATES, WORKLOADS  # noqa: E402

#: driver heap: a 16 GB default would exceed the 15 GB reference box;
#: 2 GB holds the largest broadcast (the level-5 country covering)
DRIVER_MEM = "2g"
#: a hung run is stopped, cleaned up and reported well before 3 minutes
DEADLINE_S = 170

END_TO_END = {
    "wall_s": "s", "items_per_s": "1/s", "cpu_s": "s", "peak_rss_mb": "MiB", "setup_s": "s",
}
GATE_LAYERS = {f"gate.{g}.{part}": "s" for g in GATES for part in ("build_s", "action_s")}
PER_LAYER = {
    "session.start_s": "s",
    "driver.build_s": "s", "driver.eager_jobs": "count", "driver.cpu_s": "s",
    "spark.action_s": "s", "spark.jobs": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MiB", "spark.spill_mb": "MiB", "spark.task_skew": "ratio",
    "jvm.cpu_s": "s",
    "python.worker_cpu_s": "s", "python.workers": "count",
    "s2.cellmath.lonlat_to_cellid_ns": "ns",
    "s2.coverer.dim_cover_s": "s", "s2.coverer.point_cover_us": "us",
    "s2.coverer.adaptive_cover_ms": "ms",
    "geo.geography.from_wkt_ms": "ms", "geo.geography.encode_ms": "ms",
    "geo.geography.decode_us": "us",
    "geo.ops.intersects_us": "us", "geo.ops.area_us": "us",
    "joins.build_s": "s", "joins.candidates": "count", "joins.matches": "count",
    "joins.precision": "ratio",
    "geoarrow.write_s": "s", "geoarrow.read_s": "s",
    "functions.cells.build_s": "s",
    **GATE_LAYERS,
    "trace.wall_s": "s", "trace.untraced_wall_s": "s", "trace.overhead_s": "s",
    "trace.layer_sum_s": "s", "trace.coverage": "ratio",
}


class Deadline(Exception):
    pass


def _on_signal(signum, frame):
    raise Deadline(f"stopped by signal {signum} (deadline {DEADLINE_S} s)")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            # heap committed and touched at start, so the JVM's resident
            # size does not follow the garbage collector's sizing choices
            # (no perf-data files: the JVM writes those under /tmp)
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} "
            "-XX:+AlwaysPreTouch -XX:-UsePerfData' "
            # peak memory metrics polled inside the JVM and reported with
            # every finished task, so the REST view holds them at once
            "--conf spark.executor.metrics.pollingInterval=100ms "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    }
    os.environ.update(env)
    return env


def run(args, work: str, env: dict, boot_start: float) -> dict:
    import tempfile

    tempfile.tempdir = env["TMPDIR"]
    from perfbench import procs
    from perfbench.trace import CpuWindow, Tracer, jvm_peak_bytes
    from perfbench.workloads import KERNEL_METRICS, kernel_rows

    from duckdb_geography_spark.session import get_spark

    tree = procs.Tree()
    mem = procs.PeakMem(tree)
    mem.start()
    jiffies0 = procs.cpu_jiffies()
    traced = bool(args.trace)
    # the pass count depends only on --seconds, so a run does the same
    # work on any machine
    passes = max(1, math.ceil(args.seconds / WORKLOADS[args.workload].PASS_S))
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(cpus=env["SPARK_GRAFT_CPUS"])
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, f"{args.workload}-{args.seed}")
        # a traced run adds one untraced pass (index ``passes``), for the
        # tracing overhead
        wl = WORKLOADS[args.workload](spark, work, args.seed, passes + traced, tracer)
        t = time.perf_counter()
        wl.setup()
        inputs_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        setup_s = time.clock_gettime(time.CLOCK_BOOTTIME) - boot_start

        walls, cpus, failed, attempted, layers = [], [], 0, 0, []
        # a traced run puts its untraced pass between traced ones, so the
        # overhead estimate does not carry the warm-up trend across passes
        order = list(range(passes))
        if traced:
            order.insert(1, passes)
        untraced_wall = None
        for i in order:
            tracer.enabled = traced and i < passes
            tracer.pass_no = i
            window = CpuWindow(tree) if tracer.enabled else None
            c0, t0 = tree.cpu_seconds(), time.perf_counter()
            try:
                out = wl.run(i)
            except Deadline:
                raise
            except Exception:  # a failed query is a counted failure, not a crash
                traceback.print_exc()
                failed += 1
                attempted += 1
                continue
            wall, cpu = time.perf_counter() - t0, tree.cpu_seconds() - c0
            attempted += 1
            problems = wl.check(i, out)
            for p in problems[:10]:
                print(f"check failed, pass {i}: {p}", file=sys.stderr)
            failed += bool(problems)
            if i == passes:
                untraced_wall = wall
                continue
            walls.append(wall)
            cpus.append(cpu)
            if tracer.enabled:
                layers.append(layer_row(tracer, i, wall, window.close()))
        tracer.enabled = False

        metrics = {}
        if walls:
            metrics = {
                "wall_s": median(walls),
                "items_per_s": wl.items / median(walls),
                "cpu_s": median(cpus),
                "setup_s": setup_s,
            }
        if traced and layers:
            per = {k: median([row[k] for row in layers]) for k in layers[0]}
            per["session.start_s"] = session_s
            per["trace.untraced_wall_s"] = untraced_wall or 0.0
            per["trace.overhead_s"] = per["trace.wall_s"] - per["trace.untraced_wall_s"]
            per.update(wl.join_counts())
            sample = wl.kernel_sample()
            per.update(kernel_rows(*sample, seed=args.seed) if sample
                       else dict.fromkeys(KERNEL_METRICS, 0.0))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
            metrics = per
        jvm_peak = jvm_peak_bytes(spark.sparkContext)
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "passes": passes, "items_per_pass": wl.items, "item": wl.item,
            "size": wl.size_note, "pass_walls_s": walls, "setup_s": setup_s,
            "session_s": session_s, "inputs_s": inputs_s, "warmup_s": warmup_s,
            "env": env,
            "loadavg": procs.loadavg(),
            "steal_pct": procs.steal_pct(jiffies0, procs.cpu_jiffies()),
        }
        return {"metrics": metrics, "attempted": attempted, "failed": failed,
                "record": record, "mem": mem, "jvm_peak": jvm_peak}
    finally:
        if spark is not None:
            stop_spark(spark)
        killed = tree.reap()
        if killed:
            print(f"killed leftover processes: {killed}", file=sys.stderr)
        mem.stop()


def layer_row(tracer, i: int, wall: float, cpu: dict) -> dict:
    st = tracer.spark_stats(i)
    spans = [s for s in tracer.pass_spans(i) if s.parent is None]
    build = [s for s in spans if s.kind == "build"]
    action = [s for s in spans if s.kind == "action"]

    def self_s(ss):
        return sum(s.wall - s.job_wall_s for s in ss)

    layer_sum = sum(s.wall for s in spans)
    gates = {}
    for g in GATES:
        mine = [s for s in spans if s.layer == f"gate.{g}"]
        gates[f"gate.{g}.build_s"] = sum(s.wall for s in mine if s.kind == "build")
        gates[f"gate.{g}.action_s"] = sum(s.wall for s in mine if s.kind == "action")
    return {
        "driver.build_s": self_s(build),
        "driver.eager_jobs": st["eager_jobs"],
        "driver.cpu_s": cpu["driver"],
        "spark.action_s": sum(s.wall for s in action) + sum(s.job_wall_s for s in build),
        "spark.jobs": st["jobs"], "spark.tasks": st["tasks"],
        "spark.executor_run_s": st["executor_run_s"],
        "spark.executor_cpu_s": st["executor_cpu_s"],
        "spark.gc_s": st["gc_s"],
        "spark.shuffle_write_mb": st["shuffle_write_mb"],
        "spark.spill_mb": st["spill_mb"],
        "spark.task_skew": st["task_skew"],
        "jvm.cpu_s": cpu["jvm"],
        "python.worker_cpu_s": cpu["workers"],
        "python.workers": cpu["n_workers"],
        "joins.build_s": self_s([s for s in build if s.layer == "joins"]),
        "geoarrow.write_s": sum(s.wall for s in spans if s.layer == "geoarrow.write"),
        "geoarrow.read_s": sum(s.wall for s in spans if s.layer == "geoarrow.read"),
        "functions.cells.build_s": self_s([s for s in build if s.layer == "functions.cells"]),
        **gates,
        "trace.wall_s": wall,
        "trace.layer_sum_s": layer_sum,
        "trace.coverage": layer_sum / wall,
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def main() -> int:
    args = parse(sys.argv[1:])
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"error: {PKG}/ not found under {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    from perfbench import procs

    boot_start = procs.start_seconds(os.getpid())
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    signal.signal(signal.SIGALRM, _on_signal)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.alarm(DEADLINE_S)
    try:
        res = run(args, work, env, boot_start)
    except Exception:
        traceback.print_exc()
        return 3
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    metrics = res["metrics"]
    # the JVM heap is a fixed, pre-touched DRIVER_MEM, so the JVM's own
    # RSS is a constant: count the memory the program asks of it instead
    res["record"]["peak_python_pss_mb"] = res["mem"].peak / 2**20
    res["record"]["peak_jvm_mb"] = res["jvm_peak"] / 2**20
    if not args.trace:
        metrics["peak_rss_mb"] = (res["mem"].peak + res["jvm_peak"]) / 2**20
    attempted, failed = res["attempted"], res["failed"]
    names = PER_LAYER if args.trace else END_TO_END
    print("record " + json.dumps(res["record"]))
    for name, unit in names.items():
        if name in metrics:
            print(f"{name:36s} {metrics[name]:.6g} {unit}")
    print(f"{'fail_frac':36s} {failed / attempted if attempted else 1.0:.6g} (failed/attempted)")
    missing = [n for n in names if n not in metrics]
    if missing:
        print(f"error: no value for {missing}", file=sys.stderr)
        return 3
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in names.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
