#!/usr/bin/env python3
"""Benchmark runner for duckdb_raquet_spark.

    python3 perfbench/run.py --workload {ingest,read,serve,maintain,curate} \
        --seed N --seconds S --trace {0,1}

One process, one SparkSession at ``local[<cores>]``, one closed-loop
client. The run generates its inputs from ``--seed``, sets up (several
times, reporting the median), warms up untimed (one cycle; curate's on
its first 256 docs), then runs the workload's op cycle for
``--seconds`` (at least once) and checks every op's output against an
oracle computed from the raw input.

``--trace 0`` reports the end-to-end metrics: the wall time of one
cycle built from per-op medians (what the client waits for; it also
shows parallel balance and skew), the CPU seconds the process tree (driver, JVM, Python
workers) spends on it, and the set-up time.

``--trace 1`` runs with the Spark event log on and makes the same
measurement three times: untraced, with every op and package call
wrapped in a span (job group = span id), untraced again. It reports
the per-layer ledger: per op the Spark jobs, driver self time, task
time, task skew, shuffle and input MB; the in-process codec kernels; a
few layer counts; and the tracing overhead (traced CPU time over the
mean of the untraced measurements around it).

The last stdout line is the result JSON (``correct``, ``attempted``,
``failed``, ``metrics``); the line before it is a detail record with the
run context, per-op latency summaries and the workload's named metrics.
Everything the run writes goes under ``.perfbench_work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from ledger import latency_summary  # noqa: E402

# set-up repeats per run (input files and set-up encodes, after the
# inputs are generated once); setup_s takes their median. Two, because
# the first round also pays the Python workers' cold start and every
# round adds to the run's length
SETUP_ROUNDS = 2
OPS = (
    "encode_max", "encode_fast",
    "lookup", "range_scan", "stats", "decode_full",
    "append", "mask", "delete", "compact",
    "minhash", "components", "repetition", "quality", "bpe",
)
KERNEL_COLS = ("url", "text", "html", "lang", "warc_ts")

# name -> (unit, better); the order is the order of BENCHMARK.json
END_TO_END = {
    "cycle_s": ("s", "lower"),
    "cycle_cpu_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
}
_OP_UNITS = {
    "jobs": "count", "driver_self_s": "s", "task_s": "s",
    "task_skew": "ratio", "shuffle_mb": "MB", "input_mb": "MB",
}
PER_LAYER = {f"{op}.{f}": (u, "lower") for op in OPS for f, u in _OP_UNITS.items()}
for _c in KERNEL_COLS:
    PER_LAYER[f"codecs.{_c}.encode_max_mb_s"] = ("MB/s", "higher")
    PER_LAYER[f"codecs.{_c}.encode_fast_mb_s"] = ("MB/s", "higher")
    PER_LAYER[f"codecs.{_c}.decode_mb_s"] = ("MB/s", "higher")
    PER_LAYER[f"selector.{_c}.race_x"] = ("ratio", "lower")
PER_LAYER.update(
    {
        "scan.lookup_blocks_read": ("count", "lower"),
        "scan.range_blocks_frac": ("ratio", "lower"),
        "placement.mask_rows_out_per_in": ("ratio", "lower"),
        "fsio.append_bytes_per_raw_byte": ("ratio", "lower"),
        "fsio.compact_bytes_per_delta_byte": ("ratio", "lower"),
        "trace.overhead_frac": ("ratio", "lower"),
    }
)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_confs(work: str, trace: bool) -> dict[str, str]:
    n = cores()
    confs = {
        "spark.driver.memory": "3g",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.shuffle.partitions": str(2 * n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if trace:
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = f"file://{work}/events"
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    return confs


def start_spark(work: str, trace: bool):
    from pyspark.sql import SparkSession

    confs = spark_confs(work, trace)
    b = SparkSession.builder.master(f"local[{cores()}]").appName("perfbench")
    for k, v in confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, confs


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
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
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def git_rev() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return None


def source_hash() -> str:
    """Fingerprint of the package sources (the checkout may not be git)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "duckdb_raquet_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def prepare_env(work: str) -> None:
    """Python workers must import the package from this checkout, and
    every temporary file must stay inside the work directory."""
    import tempfile

    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher's included, keeps its temporary
    # files in the work directory and writes no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = os.environ["TMPDIR"]


def warm_up(ctx, w, st) -> float:
    """The workload's untimed, unchecked warm-up; returns its wall time."""
    ctx.recording = False
    t0 = time.perf_counter()
    w.warm(ctx, st)
    ctx.recording = True
    ctx.tracer.spans.clear()  # the ledger describes measured ops only
    return time.perf_counter() - t0


def measure(ctx, w, st, seconds: float, warm: bool = True) -> dict:
    """The warm-up (unless ``warm`` is false), then whole cycles until
    ``seconds`` pass (at least one). The cycle's wall and CPU time are
    assembled from per-op medians (checks excluded): the sum over the
    workload's ops of how often the op runs per cycle times its median,
    so that an op run several times a cycle (serve's lookups) weighs in
    by its median rather than by its slowest call."""
    warm_s = warm_up(ctx, w, st) if warm else 0.0
    ctx.lat, ctx.cpu = {}, {}
    cycles = 0
    t0 = time.perf_counter()
    while not cycles or time.perf_counter() - t0 < seconds:
        w.cycle(ctx, st)
        cycles += 1
    p50 = {op: statistics.median(v) for op, v in ctx.lat.items()}
    return {
        "warmup_s": warm_s,
        "measure_s": time.perf_counter() - t0,
        "cycles": cycles,
        "cycle_s": _per_cycle(w.ops, ctx.lat),
        "cycle_cpu_s": _per_cycle(w.ops, ctx.cpu),
        "latency_s": {op: latency_summary(v) for op, v in ctx.lat.items()},
        "cpu_s": {op: latency_summary(v) for op, v in ctx.cpu.items()},
        "named": {k: {"value": v, "unit": u} for k, (v, u) in w.named(ctx, st, p50).items()},
    }


def _per_cycle(ops: dict[str, int], per_op: dict[str, list[float]]) -> float:
    return sum(n * statistics.median(per_op[op]) for op, n in ops.items() if per_op.get(op))


def run(args) -> tuple[dict, dict]:
    import numpy as np
    import pyarrow
    import pyspark

    import bench
    import gen
    import kernels
    import workloads
    from ledger import Tracer, op_ledger, read_event_log

    w = workloads.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    ticks0 = bench.cpu_ticks()

    spark = None
    try:
        t0 = time.perf_counter()
        spark, confs = start_spark(work, trace=bool(args.trace))
        session_s = time.perf_counter() - t0
        run_id = f"{args.workload}-{args.seed}"
        ctx = workloads.Ctx(
            spark=spark, seed=args.seed, tracer=Tracer(run_id),
            rng=np.random.default_rng((args.seed, 99)),
        )
        t0 = time.perf_counter()
        inp = w.inputs(args.seed)
        generate_s = time.perf_counter() - t0
        rounds = []
        n_rounds = 1 if args.trace else SETUP_ROUNDS  # a traced run reports no setup_s
        for r in range(n_rounds):
            d = os.path.join(work, f"setup{r}")
            os.makedirs(d)
            t0 = time.perf_counter()
            st = w.setup(ctx, d, inp)
            rounds.append(time.perf_counter() - t0)
            if r + 1 < n_rounds:
                shutil.rmtree(d)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "input_hash": inp["hash"],
            "setup": {"session_s": session_s, "generate_s": generate_s, "rounds_s": rounds},
        }
        if not args.trace:
            m = measure(ctx, w, st, args.seconds)
            detail["setup"]["warmup_s"] = m["warmup_s"]
            detail["measured"] = m
            setup_s = session_s + generate_s + statistics.median(rounds) + m["warmup_s"]
            metrics = {"cycle_s": m["cycle_s"], "cycle_cpu_s": m["cycle_cpu_s"], "setup_s": setup_s}
        else:
            # the event log is on from the session start. Untraced,
            # traced, untraced measurements in the same context (one
            # warm-up first): the cycles still speed up as the JIT warms,
            # so trace.overhead_frac compares the traced cycle with the
            # mean of the untraced ones around it
            m2 = measure(ctx, w, st, args.seconds)
            tracer = ctx.tracer = Tracer(run_id + "-traced", sc=spark.sparkContext)
            mt = measure(ctx, w, st, args.seconds, warm=False)
            with tracer.span("probe"):
                w.layer_probe(ctx, st)
            ctx.tracer = Tracer(run_id)
            m3 = measure(ctx, w, st, args.seconds, warm=False)
            stop_spark(spark)  # finalizes the event log
            spark = None
            layer = {k: 0.0 for k in PER_LAYER}
            for k, v in ctx.layer.items():
                if k in layer:
                    layer[k] = v
            kern, bad = kernels.kernel_metrics(gen.generate(args.seed, kernels.BLOCK_ROWS))
            layer.update(kern)
            ctx.attempted += 1
            if bad:
                ctx.failed += 1
                ctx.failures.extend({"op": "kernels", "why": b} for b in bad)
            untraced_cpu = (m2["cycle_cpu_s"] + m3["cycle_cpu_s"]) / 2
            layer["trace.overhead_frac"] = mt["cycle_cpu_s"] / untraced_cpu - 1.0
            (log_file,) = os.listdir(os.path.join(work, "events"))
            with open(os.path.join(work, "events", log_file)) as f:
                log = read_event_log(f)
            layer.update(op_ledger(log, tracer.spans, list(OPS)))
            trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{run_id}.spans.json"))
            detail["traced"] = mt
            detail["untraced"] = [{k: m[k] for k in ("cycles", "cycle_s", "cycle_cpu_s")} for m in (m2, m3)]
            metrics = layer
    finally:
        if spark is not None:
            stop_spark(spark)

    detail["failed_ops_frac"] = ctx.failed / max(1, ctx.attempted)
    detail["failures"] = ctx.failures
    detail["context"] = {
        "nproc": cores(),
        "master": f"local[{cores()}]",
        "confs": confs,
        "steal_pct": bench.steal_pct(ticks0),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "git_rev": git_rev(),
        "source_hash": source_hash(),
        "seed": args.seed,
    }
    for d in os.listdir(work):
        if d.startswith("setup"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    spec = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": spec[k][0]} for k in spec},
    }
    return detail, result


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        import bench  # noqa: F401  (read-only: cpu_ticks, gzip_baseline_bytes)
        import duckdb_raquet_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program under test is missing: {e}", file=sys.stderr)
        return 2
    detail, result = run(args)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
