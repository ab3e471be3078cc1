"""Repository benchmark: ingest, search and analytics workloads.

Run from the repository root:

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are BENCHMARK.json's ``end_to_end`` list
(tracing off); with ``--trace 1`` they are its ``per_layer`` list, from
a run with the layers' entry points wrapped (see layers.py), followed by
an untraced rerun of the timed loop for ``trace.overhead_pct``.

Everything the run writes goes under ``.perfbench_work/`` (removed at
exit) and, for traced runs, the span log under ``.perfbench_out/``.
Progress and a human-readable summary go to standard error.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def bytes_per_posting(index_dir: str) -> float:
    from logsentinelai_spark.index.lineage import committed_waves, resolve_index_dir

    live = resolve_index_dir(index_dir)
    postings = sum(p["postings"] for m in committed_waves(str(live)).values()
                   for p in m["partitions"])
    nbytes = sum(f.stat().st_size for f in (live / "postings").rglob("*.parquet"))
    return nbytes / postings


class Ctx:
    """What a workload needs from the run: session, seed, scratch dir,
    core count, and the tracer of a traced run (else None)."""

    def __init__(self, spark, seed: int, work: Path, cpus: int):
        self.spark, self.seed, self.work, self.cpus = spark, seed, work, cpus
        self.tracer = None
        self.probe = None


def run_loop(wl, st, seconds: float, first: int) -> list:
    """Whole passes until ``seconds`` have elapsed, and at least the
    workload's ``min_passes``."""
    passes, t0 = [], time.perf_counter()
    while len(passes) < wl.min_passes or time.perf_counter() - t0 < seconds:
        passes.append(wl.run_pass(st, first + len(passes)))
    return passes


def session(work: Path, cpus: int):
    from logsentinelai_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms1536m",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    return get_spark("perfbench", cpus=cpus, extra_conf=conf)


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        # the launcher JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(workload: str, seed: int, seconds: float, trace: bool, sizes: dict,
            work: Path, cpus: int) -> dict:
    from perfbench import layers
    from perfbench.spans import RssSampler, SpeedProbe, Tracer
    from perfbench.workloads import WORKLOADS

    rss = RssSampler()
    rss.start()
    spark = session(work, cpus)
    try:
        ctx = Ctx(spark, seed, work, cpus)
        ctx.probe = SpeedProbe()
        wl = WORKLOADS[workload](ctx, sizes)
        if trace:
            ctx.tracer = Tracer(spark)
            layers.install(ctx.tracer)
        t0 = time.perf_counter()
        wl.warmup()
        log(f"{workload} warm-up: {time.perf_counter() - t0:.2f} s")
        setups, st = [], None
        for i in range(wl.n_setups):
            st, wall, cpu_s, kernel = wl.measured(lambda: wl.setup(i))
            setups.append(cpu_s * SpeedProbe.REF_S / statistics.median(kernel))
            log(f"{workload} set-up {i}: {wall:.2f} s wall, {cpu_s:.2f} s CPU, "
                f"{setups[-1]:.2f} s CPU at reference host speed")
        t0 = time.perf_counter()
        warm = [wl.run_pass(st, -2 - i) for i in range(wl.warm_passes)]
        log(f"{workload} {len(warm)} warm pass(es): {time.perf_counter() - t0:.2f} s")
        if ctx.tracer:
            ctx.tracer.phase = "timed"
        passes = run_loop(wl, st, seconds, 0)
        log(f"{workload}: {len(passes)} pass(es), "
            + ", ".join(f"{p.wall_s:.2f}" for p in passes) + " s wall")
        attempted, failed = wl.check(st, warm + passes)
        attempted += wl.setup_attempted
        failed += wl.setup_failed
        pass_wall = statistics.median(p.wall_s for p in passes)
        if trace:
            tracer = ctx.tracer
            tracer.uninstall()
            ctx.tracer = None
            plain = run_loop(wl, st, seconds, len(passes))
            a, f = wl.check(st, plain)
            attempted, failed = attempted + a, failed + f
            untraced = statistics.median(p.wall_s for p in plain)
            metrics = layers.layer_metrics(tracer, wl.read_kinds, len(passes))
            metrics.update(layers.functions_rates(seed))
            metrics["trace.overhead_pct"] = (pass_wall / untraced - 1.0) * 100.0
            # raw walls of the untraced passes, as this host ran them
            metrics["wall.pass_s"] = untraced
            metrics["wall.query_p50_ms"] = statistics.median(
                op.wall_s * 1000 for p in plain for op in p.ops if op.kind in wl.read_kinds)
            metrics["host.kernel_ms"] = statistics.median(ctx.probe.samples) * 1000
            out = Path(".perfbench_out") / f"trace-{workload}-seed{seed}.jsonl"
            tracer.write(out)
            log(f"spans written to {out}")
        else:
            reads = [op.wall_s * 1000 for p in passes for op in p.ops
                     if op.kind in wl.read_kinds]
            q, tail = layers.tail_ms(reads)
            log(f"{len(reads)} read ops; p50 {statistics.median(reads):.2f} ms, "
                f"p{q * 100:.1f} {tail:.2f} ms")
            probe_ms = statistics.median(ctx.probe.samples) * 1000
            log("pass CPU " + ", ".join(
                f"{sum(op.cpu_s for op in p.ops):.2f}" for p in passes)
                + " s; at reference host speed: pass CPU "
                + ", ".join(f"{p.ref_cpu_s:.2f}" for p in passes)
                + f" s, query CPU {wl.query_cpu_ms(passes):.3f} ms; "
                f"kernel median {probe_ms:.4f} ms (n={len(ctx.probe.samples)})")
            by_cls: dict[str, list[float]] = {}
            for p in passes:
                for op in p.ops:
                    by_cls.setdefault(f"{op.kind}:{op.cls}", []).append(op.wall_s * 1000)
            log("median ms by operation: " + ", ".join(
                f"{k}={statistics.median(v):.1f}(n={len(v)})" for k, v in sorted(by_cls.items())))
            metrics = {
                "setup_s": statistics.median(setups),
                "pass_cpu_s": statistics.median(p.ref_cpu_s for p in passes),
                "query_cpu_ms": wl.query_cpu_ms(passes),
                "index_bytes_per_posting": bytes_per_posting(
                    str(wl.index_dir(st, passes))),
            }
    finally:
        stop_session(spark)
        peak = rss.stop()
    if not trace:
        metrics["peak_rss_mb"] = peak
    return dict(attempted=attempted, failed=failed, metrics=metrics)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "analytics"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (the self-check's size)")
    args = ap.parse_args(argv)

    spec_path = Path("BENCHMARK.json")
    if not (Path("logsentinelai_spark").is_dir() and spec_path.is_file()):
        log("run from the repository root: logsentinelai_spark/ or "
            "BENCHMARK.json not found")
        return 2
    spec = json.loads(spec_path.read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cpus = len(os.sched_getaffinity(0))
    work = Path(".perfbench_work").resolve() / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # every temporary file of the engine, Spark and DuckDB stays in the
    # checkout, and no fixture directory outside it is read (the
    # token_count oracle scans SPARK_GRAFT_TESTDATA at import)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_TESTDATA"] = str(work)
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    # the short-lived JVM spark-submit starts to build the driver's
    # command line (the driver JVM gets the same via session())
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    # a heap that the workloads fill keeps the JVM's resident size, and
    # so peak_rss_mb, from following the collector's sizing choices
    os.environ["SPARK_DRIVER_MEM"] = "1536m"
    sys.path[0] = str(ROOT)  # the package root, not perfbench/ itself

    from perfbench.workloads import SIZES, SMOKE

    sizes = (SMOKE if args.smoke else SIZES)[args.workload]
    try:
        res = measure(args.workload, args.seed, args.seconds, bool(args.trace),
                      sizes, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()

    got = res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        log(f"metrics not produced: {missing}")
        return 3
    metrics = {m["name"]: {"value": float(got[m["name"]]), "unit": m["unit"]}
               for m in wanted}
    bad = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    for k, v in metrics.items():
        log(f"{k:36s} {v['value']:14.4f} {v['unit']}")
    failed_frac = res["failed"] / res["attempted"]
    log(f"failed_frac = {res['failed']}/{res['attempted']} = {failed_frac:.4f}")
    print(json.dumps({
        "correct": res["failed"] == 0 and not bad,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
