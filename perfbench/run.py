#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 20 --trace 0

Run from the repository root: the engine package is imported from the
current directory.  Everything the run writes goes under
``.perfbench_work/`` (removed at the end) and ``.perfbench_out/`` (the
detailed record: host fingerprint, every operation, spans when traced).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
batches traced and prints the per-layer metrics, including the tracing
overhead.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.getcwd())  # the engine package, from the repository root

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "latency_p50_s": "s", "peak_rss_mb": "MB"}
#: percentiles need this many samples beyond them to be reported
P90_MIN_OPS = 100


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("dashboard", "etl", "curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float,
                   help="scale factor of the inputs (expected.json has 0.1, 0.01 and 0.001); "
                        "default: dashboard 0.01, etl 0.025, curation 0.01")
    p.add_argument("--data-root", default=os.path.join(HERE, "data"),
                   help="directory holding the testdata tables as sf<scale>/<table>.parquet "
                        "(default: the copy of sf0.01 and sf0.001 in perfbench/data)")
    p.add_argument("--flip-expected", metavar="QUERY",
                   help="self-test: flip one bit of QUERY's expected checksum")
    p.add_argument("--corrupt-landing", action="store_true",
                   help="self-test (etl): change one landed doc after its expected state is made")
    return p.parse_args(argv)


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out: set[int] = set()
    todo = [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and every process under it,
    and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline and any(_alive(p) for p in started):
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for p in started:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def start_spark(work_dir: str):
    """The engine's own session factory, with every scratch location of
    Spark, the JVM and Python inside ``work_dir``.

    The driver gets 3g instead of the engine's default 8g, committed up
    front (-Xms) with a fixed 512 MB young generation: peak RSS then
    follows the data the driver keeps, not G1's timing-driven heap
    resizing, which made it bimodal (about 25% apart) from run to run."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Xmn512m"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.local.dir={local}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
        f"--conf spark.driver.extraJavaOptions='{java_opts}'",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from data_engineer_project_weather_analytics_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def percentile(xs: list[float], q: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1] if len(xs) > 1 else xs[0]


def _trace_overhead(out_dir, args, fp, batch_walls, harvest_s) -> tuple[float, str]:
    """Tracing overhead against the untraced ``wall_s`` of the same
    workload, seed and settings when that run's record is in
    ``out_dir``; otherwise an estimate that counts only the time spent
    reading statistics back (``harvest_s``), not the job-group calls."""
    import spans

    path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t0.json")
    try:
        with open(path) as fh:
            base = json.load(fh)
    except (OSError, ValueError):
        base = None
    if (base and (base["seconds"], base["scale"]) == (args.seconds, args.scale)
            and not spans.comparable(base["fingerprint"], fp)):
        wall = statistics.median(batch_walls)
        return wall / base["end_to_end"]["wall_s"] - 1, "measured: " + os.path.basename(path)
    return harvest_s / (sum(batch_walls) - harvest_s), "estimate: statistics read-back only"


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import data_engineer_project_weather_analytics_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {os.getcwd()}: {exc}",
              file=sys.stderr)
        return 2

    import spans
    import workloads

    if args.scale is None:
        args.scale = workloads.DEFAULT_SCALE[args.workload]

    root = os.getcwd()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work_dir = os.path.join(root, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(work_dir)
    os.makedirs(out_dir, exist_ok=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work_dir)
        session_s = time.perf_counter() - t0
        tracer = spans.Tracer(spark, enabled=False)
        warmup = workloads.WARMUP_BATCHES[args.workload]
        timed = max(1, round(args.seconds / workloads.NOMINAL_BATCH_S[args.workload]))
        ctx = workloads.Ctx(
            spark, tracer, work_dir, args.seed, warmup + timed, args.scale, args.data_root,
            flip_expected=args.flip_expected, corrupt_landing=args.corrupt_landing,
        )
        ctx.setup = {"setup.session_s": session_s, "setup.index_build_s": 0.0}
        wl = workloads.WORKLOADS[args.workload](ctx)
        # warm-up batches: checked like the timed ones, timed as set-up
        warm_ops: list = []
        t0 = time.perf_counter()
        for b in range(warmup):
            warm_ops += wl.batch(b)
        ctx.setup["setup.warmup_s"] = time.perf_counter() - t0
        setup_s = sum(ctx.setup.values())
        spans.log(f"{args.workload}: set-up {setup_s:.2f}s {ctx.setup}")
        floors = spans.job_floors(spark)

        ops: list = []
        batch_walls: list[float] = []
        tracer.enabled = bool(args.trace)
        cpu0 = spans.host_cpu_s()
        for b in range(warmup, ctx.batches):
            tb = time.perf_counter()
            ops += wl.batch(b)
            batch_walls.append(time.perf_counter() - tb)
        tracer.enabled = False
        cpu1 = spans.host_cpu_s()
        final_ok = wl.finish()
        if not final_ok and ops:
            ops[-1].ok = False
        peak = spans.peak_rss_mb(spark)
        fp = spans.fingerprint(spark, work_dir)

        lat = [o.latency_s for o in ops]  # traced: span walls exclude tracing
        failed = sum(not o.ok for o in warm_ops + ops)
        end_to_end = {
            "setup_s": setup_s,
            "wall_s": statistics.median(batch_walls),
            "latency_p50_s": statistics.median(lat),
            "peak_rss_mb": peak,
        }
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "fingerprint": fp,
            "end_to_end": end_to_end,
            "failed_ops_frac": failed / max(1, len(warm_ops) + len(ops)),
            "latency_p90_s": percentile(lat, 90) if len(lat) >= P90_MIN_OPS else None,
            "latency_samples": len(lat),
            "batch_walls_s": batch_walls,
            "batch_cpu_s": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "setup": ctx.setup,
            "warmup_ops": [o.__dict__ for o in warm_ops],
            "ops": [o.__dict__ for o in ops],
        }
        if args.trace:
            layers = dict.fromkeys(workloads.LAYER_UNITS, 0.0)
            layers.update(ctx.setup)
            layers.update(floors)
            layers.update(wl.layers(spark.sparkContext.defaultParallelism))
            layers["trace.overhead_frac"], detail["trace_overhead_from"] = _trace_overhead(
                out_dir, args, fp, batch_walls, tracer.harvest_s
            )
            metrics = {k: {"value": layers[k], "unit": u} for k, u in workloads.LAYER_UNITS.items()}
            detail["per_layer"] = layers
            # per query operation: plans.construct + exec against its wall
            kids: dict = {}
            for sp in tracer.spans:
                kids.setdefault(sp.parent, []).append(sp)
            covers = [
                sum(c.s for c in kids[sp.id] if c.name in ("plans.construct", "exec")) / sp.s
                for sp in tracer.spans
                if sp.name.startswith("op:") and any(c.name == "exec" for c in kids.get(sp.id, []))
            ]
            detail["cover_per_query_op"] = [min(covers), max(covers)] if covers else None
            detail["spans"] = [s.record() for s in tracer.spans]
        else:
            detail["per_layer"] = {**ctx.setup, **floors}
            metrics = {k: {"value": end_to_end[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
            json.dump(detail, fh, indent=1, default=str)
        spans.log(
            f"{args.workload}: {len(ops)} ops, {failed} failed, "
            f"p50 {end_to_end['latency_p50_s']:.3f}s over {len(lat)} samples, "
            f"p90 {'n/a (<%d samples)' % P90_MIN_OPS if detail['latency_p90_s'] is None else '%.3fs' % detail['latency_p90_s']}, "
            f"wall {end_to_end['wall_s']:.2f}s, floors {floors}"
        )
        result = {
            "correct": failed == 0,
            "attempted": len(warm_ops) + len(ops),
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
