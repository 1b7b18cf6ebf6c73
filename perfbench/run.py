#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload select_flagship --seed 1 --seconds 10 --trace 0

A run

1. pins the environment: ``local[<cores>]``, Python workers able to
   import ``datas_spark``, and every file Spark, the artifact store and
   this script write kept under ``perfbench/out/``;
2. generates its inputs from ``--seed`` (``perfbench/inputs.py``);
3. sets up once and times it as ``setup_s``: imports, ``get_spark`` and
   the check pass, which warms the JVM up: every operation runs on this
   input, its output collected and compared with an independent answer
   (``perfbench/workloads.py``) whose own time is left out;
4. runs timed passes until ``--seconds`` have gone by, and at least the
   workload's ``passes``, reading the process tree's CPU time and peak
   memory from ``/proc`` (``perfbench/procstat.py``); ``run_s`` and
   ``cpu_s`` are medians over the faster half of the passes;
5. stops Spark, its JVM and Python workers, prints one line per metric
   and, last, the JSON result.

``--trace 1`` alternates untraced and traced passes, records spans with
Spark's counts (``perfbench/trace.py``), writes them to
``perfbench/out/traces/`` and reports the per-layer metrics, tracing
overhead included. Without ``datas_spark/`` beside ``perfbench/`` the
run exits with code 2 and prints no result.
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

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")
# the JVM heap. Under get_spark's own 8g default, G1 grows the heap as
# it likes: one curate_ingest run's passes peaked at 2154 and 3354 MB,
# and peak_rss_mb spread 0.20-0.48 (IQR / median) over sets of three
# to five seeds, against 0.06 at 2g
DRIVER_MEM = "2g"

END_TO_END = {"setup_s": "s", "run_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "registry.build_s": "s", "registry.build_jobs": "count", "registry.action_s": "s",
    "spark.jobs": "count", "spark.idle_slot_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.py_run_s": "s", "spark.py_start_s": "s",
    "spark.py_bytes_sent": "bytes", "spark.py_bytes_returned": "bytes",
    "operators.clustering.kmeans_lloyd_s": "s",
    "operators.clustering.kmeans_lloyd_jobs": "count",
    "operators.scoring.perplexity_scorer_proxy_s": "s",
    "operators.selection.middle_confidence_sample_s": "s",
    "operators.selection.gather_rows_s": "s",
    "pipeline.curate.curate_corpus_s": "s",
    "io.input_bytes": "bytes", "io.scan_ratio": "ratio", "io.scan_time_s": "s",
    "io.output_bytes": "bytes",
    "streaming.batches": "count", "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s", "streaming.store_files": "count",
    "streaming.rows_written": "count", "streaming.batch_p50_s": "s",
    "streaming.batch_tail_s": "s", "streaming.store_bytes_per_input_byte": "ratio",
    "jvm.jit_cpu_s": "s",
    "bench.failed_op_ratio": "ratio", "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:6.1f}s] {msg}", flush=True)


def pin_environment(work: str) -> int:
    """Environment every run shares; must precede the JVM launch."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_ARTIFACTS=os.path.join(work, "artifacts"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    return cpus


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system temp directory; JIT compiler
        # threads that live as long as the JVM, so procstat can read
        # all of their CPU time
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.showConsoleProgress": "false",
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def faster_half_median(xs: list[float]) -> float:
    """Median of the faster half of a run's passes. The host's other
    tenants and the JIT's warm-up only ever add time, in bursts that
    take some of a run's passes and not others, so the slower half is
    left out (README.md, "How steady it is")."""
    return statistics.median(sorted(xs)[: max(1, len(xs) // 2)])


def tail(xs: list[float]) -> tuple[float, str]:
    """Latency at the highest percentile with at least ten samples
    beyond it, and that percentile's name; the maximum when there are
    fewer than eleven samples."""
    xs = sorted(xs)
    if len(xs) < 11:
        return xs[-1], f"max of {len(xs)}"
    k = len(xs) - 11
    return xs[k], f"p{100 * (k + 1) // len(xs)} of {len(xs)}"


def layer_metrics(tracer, pass_span: dict, cores: int, input_bytes: int) -> dict:
    """Per-layer figures of one traced pass, from its spans."""
    from perfbench.sparkstats import COUNT_KEYS

    spans = tracer.descendants(pass_span["id"])

    def dur(s):
        return s["end"] - s["start"]

    def total(prefix):
        return sum(dur(s) for s in spans if s["name"].startswith(prefix))

    grouped = [s for s in spans if s["counts"] and s["name"] != "streaming.batch"]
    spark = {k: sum(s["counts"][k] for s in grouped) for k in COUNT_KEYS}
    actions = total("registry.action/")
    build = [s for s in spans if s["name"].startswith("registry.build/")]
    # jobs started inside the query function, its operator spans' included
    build_jobs = sum(s["counts"]["jobs"] for b in build
                     for s in [b, *tracer.descendants(b["id"])] if s["counts"])
    lloyd = [s for s in spans if s["name"] == "operators.clustering.kmeans_lloyd"]
    batches = [s for s in spans if s["name"] == "streaming.batch"]
    stream = [s for s in spans if s["name"] == "streaming.query"]
    m = {
        "registry.build_s": sum(dur(s) for s in build),
        "registry.build_jobs": build_jobs,
        "registry.action_s": actions,
        "spark.idle_slot_s": dur(pass_span) * cores - spark["executor_run_s"],
        "operators.clustering.kmeans_lloyd_s": sum(dur(s) for s in lloyd),
        "operators.clustering.kmeans_lloyd_jobs": sum(s["counts"]["jobs"] for s in lloyd),
        "operators.scoring.perplexity_scorer_proxy_s":
            total("operators.scoring.perplexity_scorer_proxy"),
        "operators.selection.middle_confidence_sample_s":
            total("operators.selection.middle_confidence_sample"),
        "operators.selection.gather_rows_s": total("operators.selection.gather_rows"),
        "pipeline.curate.curate_corpus_s": total("pipeline.curate.curate_corpus"),
        "io.input_bytes": spark["input_bytes"],
        "io.scan_ratio": spark["input_bytes"] / input_bytes,
        "io.scan_time_s": spark["scan_time_s"],
        "io.output_bytes": spark["output_bytes"],
        "streaming.batches": len(batches),
        "streaming.add_batch_s": sum(s["counts"]["add_batch_s"] for s in batches),
        "streaming.wal_commit_s": sum(s["counts"]["wal_commit_s"] for s in batches),
        "streaming.store_files": sum(s["store_files"] for s in stream),
        "streaming.rows_written": sum(s["counts"]["output_records"] for s in stream),
    }
    for k in ("jobs", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "failed_tasks",
              "py_run_s", "py_start_s", "py_bytes_sent", "py_bytes_returned"):
        m[f"spark.{k}"] = spark[k]
    return m


def stop_spark(spark, tree) -> None:
    """Stop the session, then the JVM, then any Python worker left."""
    from pyspark import SparkContext

    pids = tree.pids()[1:]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def run(args, wl, work: str) -> dict:
    cores = pin_environment(work)
    t0 = time.perf_counter()
    import duckdb

    from datas_spark import registry  # noqa: F401  (every query module)
    from datas_spark.session import get_spark
    from perfbench.procstat import ProcessTree
    from perfbench.sparkstats import SparkStats
    from perfbench.trace import Tracer
    from perfbench.workloads import Ctx, dir_size

    import_s = time.perf_counter() - t0

    data_dir = os.path.join(work, "data")
    info = wl.prepare(data_dir, args.seed)
    stream_bytes = info.get("stream", {}).get("bytes", 0)
    # every input file the workload reads: the tables and micro-batch files
    input_bytes = sum(v["bytes"] for v in info.values())
    print(f"inputs: seed={args.seed} " + " ".join(
        f"{k}={v['rows']}rows/{v['bytes']}B" for k, v in info.items()), flush=True)

    # set-up: the session, then the check pass (the first run of every
    # operation on this input, its output compared with an independent
    # answer whose own time is left out)
    t1 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    start_s = import_s + time.perf_counter() - t1
    tree = ProcessTree(spark.sparkContext._gateway.proc.pid)
    attempted = failed = 0

    def run_pass(ctx, ops, traced: bool) -> None:
        nonlocal attempted, failed
        for op in ops:
            attempted += 1
            try:
                op.run(ctx, traced)
            except Exception as e:  # counted as failed; the run goes on
                failed += 1
                print(f"run FAILED {op.name}: {type(e).__name__}: {e}", flush=True)

    try:
        duck = duckdb.connect()
        path = os.path.join(data_dir, "documents.parquet")
        duck.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        off = Tracer(f"{wl.name}-{args.seed}")
        on = Tracer(off.run_id, SparkStats(spark) if args.trace else None)
        ctx = Ctx(spark, data_dir, duck, on, os.path.join(work, "ops"))
        ops = wl.make_ops()
        warmup_s = 0.0
        # traced, the check runs with the operator spans on, so a traced
        # build is proved equal to the oracle as well
        with on.span("check"):
            for op in ops:
                attempted += 1
                try:
                    err, spent = op.check(ctx, bool(args.trace))
                    warmup_s += spent
                except Exception as e:  # an operation that raises is a failure
                    err = f"{op.name}: {type(e).__name__}: {e}"
                if err:
                    failed += 1
                    print(f"check FAILED {err}", flush=True)
        ctx.tracer = off
        setup_s = start_s + warmup_s
        log(f"set up: start {start_s:.2f}s, check pass {warmup_s:.2f}s")

        passes: list[dict] = []
        tree.reset_peaks()
        t_run = time.perf_counter()
        # a traced run alternates untraced and traced passes, as many of each
        min_passes = wl.passes * (2 if args.trace else 1)
        while len(passes) < min_passes or time.perf_counter() - t_run < args.seconds:
            traced = bool(args.trace) and len(passes) % 2 == 1
            ctx.tracer = on if traced else off
            c0, j0, w0 = tree.cpu_s(), tree.jit_cpu_s(), time.perf_counter()
            with ctx.tracer.span("pass") as ps:
                run_pass(ctx, ops, traced)
            passes.append({
                "wall": time.perf_counter() - w0,
                "cpu": tree.cpu_s() - c0, "jit": tree.jit_cpu_s() - j0,
                "traced": traced, "span": ps,
                # micro-batch latencies as the stream reports them, traced or not
                "batch_s": [b["durationMs"]["triggerExecution"] / 1e3 for op in ops
                            for b in getattr(op, "last_progress", ())],
            })
        log(f"timed: {len(passes)} passes")
        peak_rss_mb = tree.peak_rss_bytes() / 1e6
        store_bytes = sum(dir_size(op.last_store)[1] for op in ops
                          if getattr(op, "last_store", None))
    finally:
        stop_spark(spark, tree)
        log("stopped")

    plain = [p for p in passes if not p["traced"]]
    walls = [p["wall"] for p in plain]
    cpus = [p["cpu"] for p in plain]
    jits = [p["jit"] for p in plain]
    q1, med, q3 = quartiles(walls)
    run_s = faster_half_median(walls)
    print(f"run_s: {run_s:.4f} s; all passes: median {med:.4f} s,"
          f" quartiles {q1:.4f}-{q3:.4f} s, n={len(walls)};"
          f" passes {' '.join(f'{w:.3f}' for w in walls)};"
          f" cpu {' '.join(f'{c:.2f}' for c in cpus)};"
          f" of it JIT {' '.join(f'{j:.2f}' for j in jits)}")
    metrics = {
        "setup_s": setup_s,
        "run_s": run_s,
        # the JIT compiler's share is most of a pass's CPU in the first
        # passes and shrinks from pass to pass; left out, cpu_s is the
        # work the program asks for
        "cpu_s": faster_half_median([c - j for c, j in zip(cpus, jits)]),
        "peak_rss_mb": peak_rss_mb,
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not args.trace:
        result["metrics"] = {k: {"value": metrics[k], "unit": END_TO_END[k]} for k in END_TO_END}
        for k, v in result["metrics"].items():
            print(f"{k}: {v['value']:.6g} {v['unit']}")
        return result

    traced = [p for p in passes if p["traced"]]
    per_pass = [layer_metrics(on, p["span"], cores, input_bytes) for p in traced]
    layers = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    layers["jvm.jit_cpu_s"] = statistics.median(p["jit"] for p in traced)
    layers["session.start_s"] = start_s
    layers["session.warmup_s"] = warmup_s
    batch_s = [b for p in passes for b in p["batch_s"]]
    if batch_s:
        p50 = statistics.median(batch_s)
        tail_s, which = tail(batch_s)
        print(f"streaming.batch_tail_s is the {which} micro-batches")
        layers["streaming.store_bytes_per_input_byte"] = store_bytes / stream_bytes
    else:
        p50 = tail_s = 0.0
        layers["streaming.store_bytes_per_input_byte"] = 0.0
    layers["streaming.batch_p50_s"] = p50
    layers["streaming.batch_tail_s"] = tail_s
    layers["bench.failed_op_ratio"] = failed / attempted
    traced_s = faster_half_median([p["wall"] for p in traced])
    layers["trace.overhead_s"] = traced_s - run_s
    print(f"tracing overhead: traced run_s {traced_s:.4f} s - untraced run_s {run_s:.4f} s")
    os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
    path = os.path.join(OUT, "traces", f"{wl.name}-seed{args.seed}.json")
    on.write(path)
    print(f"spans: {len(on.spans)} written to {os.path.relpath(path, ROOT)}")
    result["metrics"] = {k: {"value": layers[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    for k, v in result["metrics"].items():
        print(f"{k}: {v['value']:.6g} {v['unit']}")
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "datas_spark")):
        print("perfbench: no datas_spark/ beside perfbench/; run it from a full "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = run(args, WORKLOADS[args.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
