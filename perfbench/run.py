#!/usr/bin/env python3
"""clann_spark benchmark: seeded workloads driven through the public API.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a source checkout (the directory holding
`clann_spark/`). One closed-loop client process drives a Spark session
on local[<usable cores>]; `--seed` fixes every generated input. The
last stdout line is one JSON object:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

`--trace 0` reports the end-to-end metrics (BENCHMARK.json
`end_to_end`); `--trace 1` runs the traced ops instead and reports the
per-layer metrics (`per_layer`). A line starting with `#` before it
records the host (cores, THP mode, code id) and the sample counts.
Every file the run writes lives under `.perfbench_work/` in the
checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import hashlib
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
MB = 1 << 20
#: input materializations per run; setup_s takes their median
MATERIALIZE_REPS = 3
DRIVER_MEM = "2g"

LAYERS = (
    "signatures", "candidates", "verify", "cc", "summary",
    "stream.bootstrap", "stream.batch",
)
LAYER_METRICS = (
    ("wall_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_s", "s"), ("util", "ratio"), ("task_skew", "ratio"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("rows_out", "count"),
)
EXTRA_METRICS = (
    ("candidates.useful_ratio", "ratio"), ("verify.rehash_ratio", "ratio"),
    ("stream.commit_share", "ratio"), ("cc.driver_path", "bool"),
    ("trace.op_s", "s"), ("trace.overhead_s", "s"), ("trace.layer_share", "ratio"),
)


def per_layer_names() -> list[tuple[str, str]]:
    return [(f"{l}.{m}", u) for l in LAYERS for m, u in LAYER_METRICS] + list(EXTRA_METRICS)


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def code_id() -> str:
    """The git commit of the checkout, else a hash of its engine sources
    (the checkout a benchmark runs in need not be a repository)."""
    head = _read(os.path.join(ROOT, ".git", "HEAD"))
    if head and head.startswith("ref: "):
        head = _read(os.path.join(ROOT, ".git", head[5:]))
    if head and len(head) == 40:
        return head
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "clann_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "tree-" + h.hexdigest()[:12]


def host_settings(work: str) -> dict:
    """Environment for get_spark: every usable core, a driver heap well
    below host memory (get_spark defaults to 16g), and Spark's scratch
    and temp files inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
    )
    thp = _read("/sys/kernel/mm/transparent_hugepage/enabled") or "unknown"
    if "[" in thp:
        thp = thp[thp.index("[") + 1 : thp.index("]")]
    return {"cores": cores, "thp": thp, "code": code_id(), "driver_mem": DRIVER_MEM}


def start_spark(cores: int, work: str):
    from clann_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            # ParallelGC: G1's concurrent threads compete with the task
            # threads for the few local cores; on 4 cores, five seeds
            # each, peak RSS varied 12% between runs under G1 and 2%
            # under ParallelGC.
            # TieredStopAtLevel=1 (C1 only): under the default tiered JIT
            # a dedup op kept getting faster for 15+ ops (5.3 s -> 3.0 s,
            # 1-10 s of compile CPU per op, 4 cores), far longer than a
            # run can warm up, so each run's median depended on how far
            # C2 had got. Under C1 op times are flat from the second op
            # (dedup op 4-7 s, stream batch 5-6 s, by host load)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseParallelGC"
                " -XX:TieredStopAtLevel=1"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "5000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait until it exited
    (the JVM quits when its stdin pipe closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def run_ops(wl, seconds: float, op) -> dict:
    """Closed loop: call `op` until `seconds` have passed (at least
    once). A raised op counts as failed and is logged to stderr."""
    walls, rates, attempted, failed, extras = [], [], 0, 0, []
    end = time.perf_counter() + seconds
    while True:
        attempted += 1
        try:
            n, ok, wall, *extra = op()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1
        else:
            walls.append(wall)
            rates.append(n / wall)
            extras.extend(extra)
            failed += not ok
        if time.perf_counter() >= end:
            break
    return {"walls": walls, "rates": rates, "attempted": attempted, "failed": failed, "extras": extras}


def steal_s() -> float:
    """CPU time the host took from this machine's vCPUs (all of them),
    from /proc/stat: a run-level measure of neighbour noise."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def jvm_gc_s(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def end_to_end(wl, ctx, seconds: float) -> tuple[dict, dict]:
    from probe import RssSampler, StageStats, held_storage_mb

    before = set(wl.timed_jobs())
    jvm_pid = ctx.spark.sparkContext._gateway.proc.pid
    gc0, steal0 = jvm_gc_s(ctx.spark), steal_s()
    with RssSampler(jvm_pid) as rss:
        r = run_ops(wl, seconds, wl.op)
    r["gc_s"] = round(jvm_gc_s(ctx.spark) - gc0, 3)
    r["steal_s"] = round(steal_s() - steal0, 3)
    walls = r["walls"] or [float("nan")]
    n_ops = max(1, len(r["walls"]))
    jobs = sorted(set(wl.timed_jobs()) - before)
    shuffle = StageStats(ctx.spark, jobs).shuffle_write / MB / n_ops
    wl.release()
    metrics = {
        "op_s.p50": (statistics.median(walls), "s"),
        "items_per_s": (statistics.median(r["rates"] or [float("nan")]), "1/s"),
        "shuffle_mb_per_op": (shuffle, "MB"),
        "peak_rss_mb": (rss.peak / MB, "MB"),
        "held_storage_mb": (held_storage_mb(ctx.spark), "MB"),
        "recall": (wl.recall, "ratio"),
    }
    return metrics, {**r, "ops": len(r["walls"])}


def traced(wl, ctx, seconds: float, tracer) -> tuple[dict, dict]:
    """Traced ops. The dedup workload alternates them with untraced ops,
    so the trace overhead is measured on the same session and input."""
    from workloads import median_metrics

    plain: list[float] = []

    def op():
        res = wl.traced_op(tracer)
        if wl.alternate:
            plain.append(wl.op()[2])
        return res

    r = run_ops(wl, seconds, op)
    wl.release()
    # every per-layer name is reported; layers this workload does not
    # run (and the stream's overhead: its trace adds no calls) read 0
    metrics = {name: (0.0, unit) for name, unit in per_layer_names()}
    metrics.update(tracer.metrics())
    if r["extras"]:
        metrics.update(median_metrics([r["extras"]]))
    traced_p50 = statistics.median(r["walls"]) if r["walls"] else 0.0
    metrics["trace.op_s"] = (traced_p50, "s")
    if plain:
        metrics["trace.overhead_s"] = (traced_p50 - statistics.median(plain), "s")
    return metrics, {**r, "ops": len(r["walls"])}


def run(args, host: dict, work: str) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    spark = start_spark(host["cores"], work)
    try:
        session_s = time.perf_counter() - t0
        from workloads import WORKLOADS, Ctx, Tracer

        ctx = Ctx(spark, host["cores"], work)
        wl = WORKLOADS[args.workload]()
        tracer = Tracer(ctx) if args.trace else None

        t = time.perf_counter()
        wl.generate(args.seed)
        gen_s = time.perf_counter() - t
        mats = []
        for rep in range(MATERIALIZE_REPS):
            t = time.perf_counter()
            inputs = wl.materialize(ctx)
            mats.append(time.perf_counter() - t)
            if rep < MATERIALIZE_REPS - 1:
                inputs.unpersist(blocking=True)
        t = time.perf_counter()
        wl.attach(ctx, inputs)
        warm_ok = wl.warmup(tracer)
        warm_s = time.perf_counter() - t
        setup_s = session_s + gen_s + statistics.median(mats) + warm_s

        if args.trace:
            metrics, r = traced(wl, ctx, args.seconds, tracer)
        else:
            metrics, r = end_to_end(wl, ctx, args.seconds)
            metrics["setup_s"] = (setup_s, "s")
    finally:
        stop_spark(spark)
    info = {
        **host,
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": r["ops"],
        "op_walls_s": [round(w, 3) for w in r["walls"]],
        "gc_s": r.get("gc_s"),
        "steal_s": r.get("steal_s"),
        "setup": {
            "session_s": round(session_s, 3),
            "gen_s": round(gen_s, 3),
            "materialize_s": [round(m, 3) for m in mats],
            "warmup_s": round(warm_s, 3),
        },
    }
    result = {
        "correct": bool(warm_ok and r["failed"] == 0 and r["ops"] > 0),
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, info


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "clann_spark")):
        print(f"no clann_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    host = host_settings(work)
    sys.path[:0] = [ROOT, HERE]
    try:
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        result, info = run(args, host, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print("# " + json.dumps(info), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
