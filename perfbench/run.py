"""kineo-spark benchmark: one seeded workload, closed loop, one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: sparql_interactive, sparql_analytic, graph_update, llm_dedup
(see perfbench/README.md for why each exists). The run generates its
inputs from the seed under ``.perfbench_work/`` in the checkout (deleted
at exit), sets the engine up (timed), then runs whole rounds of
operations for at least ``--seconds``, checking every answer outside the
timed interval.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
untraced phase, then as many rounds again with spans recorded around
every layer boundary, prints the per-layer metrics and the tracing
overhead, and writes the spans to ``.perfbench_out/``.

The last line of stdout is one JSON object:
{"correct": bool, "attempted": int, "failed": int, "metrics": {...}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time
from pathlib import Path

import measure
from tracer import Tracer, install_wrappers, spark_jobs

WORKLOADS = ("sparql_interactive", "sparql_analytic", "graph_update", "llm_dedup")


class Ctx:
    def __init__(self, work: Path, seed: int, trace: bool):
        self.work, self.seed, self.trace = str(work), seed, trace
        self.tracer = Tracer(active=trace)
        self.spark = None


def make_workload(name: str):
    if name in ("sparql_interactive", "sparql_analytic"):
        from wl_sparql import SparqlWorkload
        return SparqlWorkload(name)
    if name == "graph_update":
        from wl_update import GraphUpdateWorkload
        return GraphUpdateWorkload()
    from wl_dedup import DedupWorkload
    return DedupWorkload()


def pin_environment(root: Path, work: Path) -> dict:
    """Cores, memory, module path, scratch dirs and console output of
    the Spark driver, set before pyspark starts its JVM."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    # session.py defaults to 24g, more than many hosts have; the largest
    # workload runs comfortably in 4g
    driver_mem = f"{max(1024, min(4096, mem_mb * 3 // 10))}m"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "KINEO_DRIVER_MEM": driver_mem,
        # pandas-UDF workers import kineo_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"),
            "pyspark-shell"]),
    }
    os.environ.update(env)
    os.environ.pop("KINEO_UI", None)
    return {"cpus": cpus, "host_mem_mb": mem_mb, "driver_mem": driver_mem,
            "master": f"local[{cpus}]", "clients": 1, "loop": "closed"}


def stop_spark(ctx: Ctx) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def traced_op(ctx: Ctx, wl, op, rid: int):
    """Run one operation with its Spark jobs tagged, then attach the
    jobs to its spans (outside the operation's timing)."""
    sc, tr = ctx.spark.sparkContext, ctx.tracer
    tr.request = rid
    group = f"perfbench-{rid}"
    sc.setJobGroup(group, op.kind)
    try:
        return wl.run_op(ctx, op)
    finally:
        tr.add_jobs(spark_jobs(sc, group))
        sc.setLocalProperty("spark.jobGroup.id", None)
        tr.request = None


def run(args, root: Path) -> dict:
    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    env = pin_environment(root, work)
    sys.path.insert(0, str(root))
    ctx = Ctx(work, args.seed, bool(args.trace))
    tr = ctx.tracer
    wl = make_workload(args.workload)
    info: dict = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace, **env}
    try:
        t0 = time.perf_counter()
        wl.generate(ctx)
        info["input_gen_s"] = time.perf_counter() - t0

        import pyspark
        from pyspark import SparkContext
        from kineo_spark import get_spark

        info["pyspark"] = pyspark.__version__
        # set-up: JVM and session start, store open (ID-view build or
        # N-Quads load) and warm-up rounds
        tr.request = -1
        t0 = time.perf_counter()
        with tr.span("setup"):
            with tr.span("session.start"):
                ctx.spark = get_spark("perfbench")
            jvm_pid = SparkContext._gateway.proc.pid
            if tr.active:
                install_wrappers(tr, SparkContext._gateway._gateway_client)
                ctx.spark.sparkContext.setJobGroup("perfbench-setup", "setup")
            wl.setup(ctx, ctx.spark)
            # the first rounds of the stream warm every operation kind up;
            # their answers are checked and counted like the measured ones
            warm = measure.closed_loop(wl.rounds[:wl.warmup_rounds],
                                       lambda op: wl.run_op(ctx, op), float("inf"),
                                       measure.OpLog())
        setup_s = time.perf_counter() - t0
        if tr.active:
            tr.add_jobs(spark_jobs(ctx.spark.sparkContext, "perfbench-setup"))
        tr.request = None
        tr.active = False
        rounds = wl.rounds[wl.warmup_rounds:]
        plain = measure.closed_loop(rounds, lambda op: wl.run_op(ctx, op),
                                    args.seconds, measure.OpLog())
        traced = None
        if args.trace:
            # as many rounds again, continuing the stream, with spans on
            tr.active = True
            ids = iter(range(1, 1 << 30))
            traced = measure.closed_loop(
                rounds[plain.rounds:plain.rounds * 2],
                lambda op: traced_op(ctx, wl, op, next(ids)), float("inf"),
                measure.OpLog())
        rss = measure.peak_rss_mb(jvm_pid)
    finally:
        if "pyspark" in sys.modules:
            stop_spark(ctx)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    return {"ctx": ctx, "wl": wl, "info": info, "warm": warm, "plain": plain,
            "traced": traced, "setup_s": setup_s, "rss": rss}


def e2e(res) -> dict:
    """The end-to-end metrics of BENCHMARK.json: set-up time and
    throughput (1 / mean latency) are steady enough run to run to gate on."""
    lat = res["plain"].latencies()
    return {"setup_s": (res["setup_s"], "s"), "ops_per_s": (len(lat) / sum(lat), "1/s")}


def printed(res, failed: int, attempted: int) -> dict:
    """Metrics printed but not gated: percentiles over 20-50 operations
    and peak memory move by 15-30% between identical runs."""
    lat = res["plain"].latencies()
    return {"op_p50_ms": (measure.percentile(lat, 50) * 1e3, "ms"),
            "op_p90_ms": (measure.percentile(lat, 90) * 1e3, "ms"),
            **res["wl"].summary(res["plain"]),
            "peak_rss_mb": (res["rss"], "MB"),
            "failed_ops_frac": (failed / attempted if attempted else 0.0, "ratio")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    root = Path(__file__).resolve().parent.parent
    if not (root / "kineo_spark" / "__init__.py").is_file():
        print(f"perfbench: no kineo_spark package under {root}; nothing to measure",
              file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    res = run(args, root)
    wl, plain, traced = res["wl"], res["plain"], res["traced"]
    logs = [res["warm"], plain] + ([traced] if traced else [])
    attempted = sum(len(lg.ops) for lg in logs)
    failed = sum(lg.failed for lg in logs)
    info = res["info"]
    info.update(rounds=plain.rounds, ops=len(plain.ops), measured_wall_s=plain.wall,
                round_mean_ms=[m * 1e3 for m in plain.round_means()],
                p50_ms_by_kind={k: measure.median(plain.latencies({k})) * 1e3
                                for k in sorted({k for k, _, _ in plain.ops})})
    print("env " + json.dumps(info))
    for lg in logs:
        for e in lg.errors[:5]:
            print("error " + e)
    if args.trace:
        import layers
        metrics = layers.per_layer(res["ctx"], wl, plain, traced)
        out_dir = root / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        spans = out_dir / f"spans-{args.workload}-seed{args.seed}.jsonl"
        res["ctx"].tracer.write(str(spans))
        print(f"spans {spans}")
    else:
        metrics = e2e(res)
        for k, (v, u) in {**metrics, **printed(res, failed, attempted)}.items():
            print(f"metric {k} = {v:.6g} {u}")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
