#!/usr/bin/env python3
"""Layered crawl -> corpus benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The package is imported from that checkout,
by the Spark driver and by every Python worker, or the run fails before
measuring.

One run: set up once, then run the workload's job, closed loop, until
``--seconds`` have passed and the workload's MIN_JOBS have run, checking
every job's output. Set-up (``setup_s``) launches the JVM with a Spark
session on ``local[min(2, nproc)]``, stages the workload's inputs and runs
its WARMUP_JOBS jobs, which are checked but not measured. Inputs are
generated from ``--seed`` once per checkout and cached under
``perfbench/.cache``; generation is not part of any metric.

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json.
``--trace 1`` repeats the run with spans as Spark job groups and the event
log on, and prints the per-layer metrics, including the tracing overhead:
traced ``wall_s`` minus the median ``wall_s`` of the untraced runs of the
workload recorded in this checkout with the same package and benchmark
sources (one untraced child run first, when there are none). Spans are written, one JSON record each, to
``perfbench/.traces/``.

The last line of standard output is the result object; the line before it
records the pinned environment.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "language_diversity_common_crawler_spark"
MAX_CORES = 2
DRIVER_MEM = "3g"  # session.get_spark defaults to 24g, more than the box
SHUFFLE_PARTITIONS = 8
CHILD_TIMEOUT_S = 170


def guard_driver_import() -> None:
    """The package must come from this checkout, not from another tree on
    sys.path or in site-packages."""
    sys.path.insert(0, ROOT)
    try:
        mod = importlib.import_module(PKG)
    except ImportError as e:
        sys.exit(f"perfbench: cannot import {PKG} from {ROOT}: {e}")
    got = os.path.dirname(os.path.abspath(mod.__file__))
    if got != os.path.join(ROOT, PKG):
        sys.exit(f"perfbench: {PKG} imported from {got}, not from {ROOT}")


def guard_worker_import(spark, cores: int) -> None:
    def where(_):
        import importlib as il
        import os as o

        m = il.import_module(PKG)
        return o.path.dirname(o.path.abspath(m.__file__))

    got = set(
        spark.sparkContext.parallelize(range(cores), cores).map(where).collect()
    )
    if got != {os.path.join(ROOT, PKG)}:
        raise SystemExit(
            f"perfbench: Python workers imported {PKG} from {sorted(got)}, "
            f"not from {ROOT}"
        )


def pin_env(work: str) -> str:
    """Environment every Spark process of the run inherits; returns the
    run's temp dir."""
    local_dir = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    for d in (local_dir, tmp):
        os.makedirs(d, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # explicit shuffle scratch: get_spark only picks /dev/shm when it
        # holds 32 GiB or more, so the choice would depend on the box
        "SPARK_GRAFT_LOCAL_DIR": local_dir,
        "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "NO_PROXY": "*",
        "no_proxy": "*",
    })
    for k in ("http_proxy", "https_proxy", "all_proxy"):
        os.environ.pop(k, None)
        os.environ.pop(k.upper(), None)
    tempfile.tempdir = None
    return tmp


def start_session(name: str, cores: int, work: str, tmp: str,
                  event_dir: str | None):
    from language_diversity_common_crawler_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: no resizing between runs; no hsperfdata file,
        # which the JVM would write under /tmp whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData",
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(f"perfbench-{name}", cpus=cores,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the JVM the session launched and wait until it and its Python
    workers have exited (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    from tracing import descendants

    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)


def source_digest() -> str:
    """Digest of the package and benchmark sources: the code a wall time
    measured."""
    h = hashlib.sha256()
    files = (glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)
             + glob.glob(os.path.join(HERE, "*.py")))
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def walls_path(workload: str) -> str:
    """Untraced wall times of ``workload`` under the current sources; the
    seeds mix, as input sizes do not depend on them."""
    return os.path.join(HERE, ".cache", "walls",
                        f"{workload}-{source_digest()}.jsonl")


def untraced_wall(args) -> float:
    """Median wall_s of the untraced runs of this workload recorded in this
    checkout under the current sources; with none recorded, of one untraced
    child run."""
    path = walls_path(args.workload)
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload",
               args.workload, "--seed", str(args.seed), "--seconds",
               str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL,
                       timeout=CHILD_TIMEOUT_S, check=True)
    with open(path) as f:
        return statistics.median(json.loads(line)["wall_s"] for line in f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    guard_driver_import()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    import workloads as wls
    from tracing import MemorySampler, Tracer, dur

    if args.workload not in wls.WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"one of {sorted(wls.WORKLOADS)}")
    traced = bool(args.trace)
    base_wall = untraced_wall(args) if traced else None

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(HERE, ".work", run_id)
    os.makedirs(work)
    tmp = pin_env(work)
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    event_dir = os.path.join(work, "events") if traced else None
    if event_dir:
        os.makedirs(event_dir)
    tracer = Tracer(run_id)
    ctx = wls.Ctx(work, os.path.join(HERE, ".cache"), args.seed, cores,
                  tracer)
    wl = wls.WORKLOADS[args.workload]()
    jobs: list = []

    def run_job(staged) -> None:
        job = wls.Job()
        with tracer.span("job", index=len(jobs)) as s:
            job.span = s
            try:
                wl.job(ctx, staged, len(jobs), job)
                wl.verify(ctx, job)
                job.ok = True
            except Exception:
                traceback.print_exc()
                job.failed += 1
        job.wall_s = dur(s)
        jobs.append(job)
        if len(jobs) > 1:
            wls.cleanup_job(jobs[-2])

    try:
        wl.prepare(ctx)  # cached input generation: not timed
        t0 = time.perf_counter()
        ctx.spark = start_session(args.workload, cores, work, tmp, event_dir)
        session_start_s = time.perf_counter() - t0
        guard_worker_import(ctx.spark, cores)  # a check: not timed
        if traced:
            tracer.bind(ctx.spark.sparkContext)
        t1 = time.perf_counter()
        staged = wl.stage(ctx)
        for _ in range(wl.WARMUP_JOBS):
            run_job(staged)
        setup_s = session_start_s + time.perf_counter() - t1
        print(f"perfbench: setup {setup_s:.3f}s, session start "
              f"{session_start_s:.3f}s", file=sys.stderr)

        with MemorySampler() as mem:
            t_start = time.perf_counter()
            while (len(jobs) < wl.WARMUP_JOBS + wl.MIN_JOBS
                   or time.perf_counter() - t_start < args.seconds):
                run_job(staged)
        for s in tracer.spans:
            print(f"perfbench: span {s['name']} {dur(s):.3f}s",
                  file=sys.stderr)
        ok = [j for j in jobs[wl.WARMUP_JOBS:] if j.ok]
        attempted = sum(j.attempted for j in jobs)
        failed = sum(j.failed for j in jobs)
        if not ok:
            print("perfbench: every measured job failed", file=sys.stderr)
            return 1

        wall = statistics.median(j.wall_s for j in ok)
        if not traced:
            p50s, maxes = zip(*(wl.rounds(j) for j in ok))
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall,
                "round_s_p50": statistics.median(p50s),
                "round_s_max": statistics.median(maxes),
                "peak_rss_mb": mem.peak_bytes / 2**20,
            }
            wanted = spec["end_to_end"]
            os.makedirs(os.path.dirname(walls_path(wl.name)), exist_ok=True)
            with open(walls_path(wl.name), "a") as f:
                f.write(json.dumps({"seed": args.seed, "wall_s": wall}) + "\n")
        else:
            job = ok[-1]
            live = wl.live(ctx, job)
            groups = tracer.groups_under(job.span)
            wl.unstage()
            ctx.spark.stop()
            ctx.spark = None
            from tracing import EventLog, find_event_log

            ev = EventLog(find_event_log(event_dir))
            metrics = wl.per_layer(ctx, job, ev, live)
            tasks = ev.tasks(groups)
            cpu_s = tasks["cpu_ns"] / 1e9
            metrics.update({
                "session.start_s": session_start_s,
                "spark.tasks": tasks["tasks"],
                "spark.executor_cpu_s": cpu_s,
                "spark.gc_s": tasks["gc_ms"] / 1e3,
                "spark.shuffle_write_bytes": tasks["shuffle_write_bytes"],
                "spark.spill_bytes": tasks["spill_bytes"],
                "spark.cpu_util": cpu_s / (job.wall_s * cores),
                "trace.wall_s": wall,
                "trace.overhead_s": wall - base_wall,
            })
            tracer.write(os.path.join(HERE, ".traces", f"{run_id}.jsonl"))
            wanted = spec["per_layer"]
            for m in wanted:
                layer = m["name"].rsplit(".", 1)[0]
                if m["name"] not in metrics:
                    if layer in wl.layers:
                        raise RuntimeError(f"{wl.name} ran layer {layer} "
                                           f"but measured no {m['name']}")
                    metrics[m["name"]] = 0  # layer not run on this workload
        extra = set(metrics) - {m["name"] for m in wanted}
        if extra:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {extra}")

        print(json.dumps({"env": {
            "master": f"local[{cores}]",
            "driver_mem": DRIVER_MEM,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "local_dir": os.path.relpath(os.environ["SPARK_GRAFT_LOCAL_DIR"],
                                         ROOT),
            "python": sys.version.split()[0],
            "pyspark": importlib.import_module("pyspark").__version__,
            "nproc": os.cpu_count(),
            "workload": wl.name,
            "sizes": wl.sizes(),
            "seed": args.seed,
            "jobs": len(jobs),
            "run_id": run_id,
        }}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                for m in wanted
            },
        }))
        return 0
    finally:
        if ctx.spark is not None:
            wl.unstage()
            ctx.spark.stop()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
