"""Benchmark of the ariadna_spark engine: seeded `ingest` and `search` workloads.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics of a traced run. The line
before it is a JSON detail record (environment, op counts, errors); the same
record and the trace spans are written under .perfbench_out/.

Spark runs at local[nproc] in this process, with its scratch space, the
index and every other artifact under .perfbench_work/ in the working
directory, removed at exit. Numbers taken at another core count (every
BENCH_r0*.json was taken at 32 cores) are not comparable with these.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "4g"  # below a 15 GiB box's RAM; session.get_spark defaults to 24g


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input sizes; `tiny` is for the benchmark's self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test hook: alter one recorded result before the check")
    return ap.parse_args(argv)


def ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def watch_warmup(t_start: float, out: dict) -> threading.Thread:
    """get_spark fires a python-worker warm-up job from a daemon thread that
    overlaps whatever the driver does next; record when it is done as
    out["session.start_s"] without waiting for it here."""
    from ariadna_spark import session

    warm = [t for t in threading.enumerate()
            if getattr(t, "_target", None) is session._warm_python_workers]

    def watch():
        for t in warm:
            t.join()
        out["session.start_s"] = time.perf_counter() - t_start

    w = threading.Thread(target=watch, daemon=True)
    w.start()
    return w


def start_session(work: str, cores: int):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = work
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )
    from ariadna_spark.session import get_spark

    return get_spark(app_name="perfbench", cores=cores,
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort: never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def environment(spark, cores: int) -> dict:
    import pyspark

    conf = spark.conf
    return {
        "nproc": cores,
        "ram_bytes": ram_bytes(),
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory"),
        "local_dir": conf.get("spark.local.dir"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "parquet_codec": conf.get("spark.sql.parquet.compression.codec"),
        "io_codec": conf.get("spark.io.compression.codec"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ariadna_spark")):
        print(f"ariadna_spark/ not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)

    import workloads
    from spans import Tracer

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    spark = None
    try:
        t_start = time.perf_counter()
        spark = start_session(work, cores)
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, workloads.SCALES[args.scale], tracer)
        watcher = watch_warmup(t_start, ctx.layers)
        if args.workload == "ingest":
            workloads.ingest(ctx, t_start, corrupt=args.corrupt)
            n_build = ctx.scale.ingest_docs
        else:
            workloads.search(ctx, t_start, ROOT, corrupt=args.corrupt)
            n_build = ctx.scale.search_docs
        tracer.close()
        watcher.join(60)
        metrics = workloads.per_layer(ctx) if args.trace else workloads.end_to_end(ctx, n_build)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "env": environment(spark, cores),
            "ops": len(ctx.op_ms),
            "head_term_share": ctx.head_ops / max(1, len(ctx.op_ms)),
            "loop_s": ctx.layers.get("_loop_s"),
            "write_s": ctx.write,
            "phase_s": ctx.phases,
            "op_log": ctx.op_log,
            "failed_ratio": ctx.failed / max(1, ctx.attempted),
            "errors": ctx.errors,
        }
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        if args.trace:
            tracer.write(os.path.join(out_dir, tag + ".spans.jsonl"))
            detail["self_time_s"] = tracer.self_times()
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    detail["phase_s"]["stop"] = time.perf_counter() - t_stop

    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1)
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
