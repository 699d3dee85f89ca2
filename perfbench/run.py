"""Lake-operations benchmark: one workload, one run.

    python3 perfbench/run.py --workload lake_mixed --seed 1 --seconds 14 --trace 0

Run from the repository root. The run starts a ``local[nproc]`` Spark
session, builds the workload's fixture from the seed under a scratch
root inside the working directory, warms up, then runs the workload's
closed loop for ``--seconds``. Every result is checked against a DuckDB
oracle. Human-readable metric lines go to standard output first; the
last line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

# One BLAS/OpenMP thread per process: Spark's task slots own the cores.
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
             "NUMEXPR_NUM_THREADS"):
    os.environ[_var] = "1"

sys.path.insert(0, HERE)

DRIVER_HEAP = "2g"
DRIVER_HEAP_FLOOR = "1g"


def _children(pid: int) -> list[int]:
    """Process ids of every descendant of ``pid``."""
    parents = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                parents[int(entry)] = int(fields[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it started, and wait for both the
    JVM and every process under it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    pids = _children(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def main(argv: list[str]) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "bergloom_spark")):
        print("bergloom_spark not found: run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import gen
    from workloads import Ctx

    gen.self_check(args.seed)
    # BENCHMARK.json names the metrics each mode prints.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers (deletion-vector writes) import the package too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable

    spark = None
    try:
        from bergloom_spark.session import get_spark

        cpus = os.cpu_count() or 1
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            cpus=cpus,
            driver_memory=DRIVER_HEAP,
            extra_conf={
                # -XX:-UsePerfData: no hsperfdata file under /tmp.
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_HEAP_FLOOR} -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        tracer = probe = None
        if args.trace:
            from spans import SparkProbe, Tracer

            tracer = Tracer()
            tracer.install()
            probe = SparkProbe(spark)
        ctx = Ctx(spark, work, args.seed, args.seconds, tracer, probe)
        try:
            WORKLOADS[args.workload](ctx)
        except Exception:
            # The program failed: report the run as incorrect rather
            # than dropping it.
            traceback.print_exc()
            ctx.failed = max(ctx.failed, 1)
            ctx.attempted = max(ctx.attempted, 1)
            for name, unit in end_to_end.items():
                ctx.report.setdefault(name, (0.0, unit, 0))
        jvm_hwm = _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    driver_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    value, unit, n = ctx.report["setup_s"]
    ctx.report["setup_s"] = (value + session_s, unit, n)
    ctx.report["peak_rss_mb"] = (jvm_hwm + driver_mb, "MB", 1)

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"cpus {os.cpu_count()} trace {args.trace}")
    for name, (v, u, k) in ctx.report.items():
        print(f"  {name:24s} {v:14.6g} {u:8s} n={k}")
    for name, (v, u, k) in ctx.extra.items():
        print(f"  {name:24s} {v:14.6g} {u:8s} n={k}")
    for kind, walls in ctx.walls.items():
        print(f"  samples {kind}: " + " ".join(f"{w:.3f}" for w in walls))
    error_rate = ctx.failed / max(1, ctx.attempted)
    print(f"  {'error_rate':24s} {error_rate:14.6g} {'ratio':8s} n={ctx.attempted}")

    if args.trace:
        from spans import layer_metrics

        layers = layer_metrics(tracer, ctx.untraced)
        layers["session.start_s"] = session_s
        _print_trace(tracer, layers)
        tracer.dump(os.path.join(
            ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json"))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": ctx.report[k][0], "unit": u} for k, u in end_to_end.items()}

    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


def _print_trace(tracer, layers: dict) -> None:
    ops = tracer.ops
    wall = sum(op["wall"] for op in ops)
    print(f"trace: {len(ops)} traced ops, {wall:.3f} s op wall")
    selfs = tracer.self_times()
    for layer, s in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"  self {layer:14s} {s:10.4f} s  {s / wall if wall else 0:7.1%}")
    for name, v in layers.items():
        print(f"  {name:32s} {v:14.6g}")
    sizes = tracer.metadata_sizes
    if sizes:
        print(f"  metadata bytes per commit: first {sizes[0]} last {sizes[-1]} "
              f"max {max(sizes)} over {len(sizes)} traced commits")
    reg = [sum(op["exec"]["registry"][i] for op in ops) for i in (0, 1)]
    print(f"  cross-check vs lake.metrics.GLOBAL_REGISTRY: compaction "
          f"spans {tracer.span_total('compaction.compact'):.4f} s, registry "
          f"{reg[0]:.4f} s; commits under Compaction spans "
          f"{tracer.nested_total('commit.rewrite_files', 'compaction.compact'):.4f} s, "
          f"registry {reg[1]:.4f} s (registry times base and binpack "
          f"compactions, but commits of the base Compaction only)")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
