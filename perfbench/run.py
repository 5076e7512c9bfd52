"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a source checkout. It makes its inputs from the seed
(``gen.py``), starts a local Spark session, warms up on an input of the
same shape, then runs ``--seconds`` worth of whole rounds of the workload
(the count comes from the workload's nominal round time, so every run of a
workload does the same work), checking each round's outputs against
references computed apart from the engine (``checks.py``).

All files go under ``perfbench/.work/`` and are deleted at the end, except
the traced run's layer record (``perfbench/.work/trace-<workload>-<seed>.json``).

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``, with the end-to-end metrics when ``--trace 0`` and the
per-layer metrics when ``--trace 1``. The line before it is the host
record (steal, load, CPU count, Spark slots and partitions).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

T_START = time.monotonic()
sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "music_streaming_data_pipeline_v2_spark"
MIN_ROUNDS = 3      # every run measures at least this many rounds
STORE_ROUND = 3     # store_mb is taken after this round, the same in every run
MAX_SLOTS = 4
MB = 1024 * 1024


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


class Ctx:
    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work, self.seed, self.tracer = work, seed, tracer
        self.spark = None


def start_spark(work: str, slots: int, tracer):
    from music_streaming_data_pipeline_v2_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The driver heap is the engine's own setting (SPARK_DRIVER_MEMORY,
    # read by get_spark), so GC and memory figures are the program's.
    conf = {
        "spark.local.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        # -XX:-UsePerfData: no hsperfdata file outside the checkout.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        **tracer.spark_conf(),
    }
    spark = get_spark(
        "engine-benchmark", master=f"local[{slots}]", shuffle_partitions=slots, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for every process
    the run started to end."""
    from host import tree_pids

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def jvm_live_mb(spark) -> tuple[float, float]:
    """JVM memory the program still holds after the measured rounds: heap
    in use after full GCs, and non-heap in use (metaspace, code cache).
    Taken once, after the last round: with a full GC between rounds G1
    shrank the heap, and the median backfill then took about 1.4x the CPU
    (14.0 s against 10.0-10.8 s without).

    One full GC is not enough: it lets Spark's ContextCleaner see the
    broadcasts and shuffles of dropped plans, and the blocks it then
    frees go only at the next GC (one GC left 210-230 MB or
    75-80 MB at random, a second one 75-80 MB every time). So it collects
    until the heap stops shrinking."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    heap = mx.getHeapMemoryUsage().getUsed()
    for _ in range(5):
        time.sleep(0.1)
        mx.gc()
        before, heap = heap, mx.getHeapMemoryUsage().getUsed()
        if heap > 0.98 * before:
            break
    return heap / MB, mx.getNonHeapMemoryUsage().getUsed() / MB


def quantile_tail(xs: list[float], beyond: int = 10) -> float | None:
    """The highest percentile with at least ``beyond`` samples above it;
    None below 40 samples, where that percentile would be no tail."""
    if len(xs) < 4 * beyond:
        return None
    return sorted(xs)[len(xs) - beyond - 1]


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"no engine package {PKG!r} next to {HERE}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from host import HostRecord, RssSampler, nproc
    from layers import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # inherited by the JVM and its Python workers: temp files stay in the
    # work dir and no bytecode caches are written into the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    slots = min(MAX_SLOTS, nproc())
    host = HostRecord()
    rss = RssSampler().start()
    tracer = Tracer(bool(args.trace), work)
    ctx = Ctx(work, args.seed, tracer)
    wl = WORKLOADS[args.workload](ctx)
    spark = None
    try:
        wl.generate()
        t0 = time.monotonic()
        spark = ctx.spark = start_spark(work, slots, tracer)
        tracer.attach(spark)
        spark_conf = dict(spark.sparkContext.getConf().getAll())
        session_start_s = time.monotonic() - t0
        wl.load()
        t0 = time.monotonic()
        wl.warmup()
        warmup_s = time.monotonic() - t0
        setup_s = time.monotonic() - T_START

        tracer.measuring = True
        results, measured, store = [], 0.0, None
        rounds = max(MIN_ROUNDS, math.ceil(args.seconds / wl.round_s))
        while len(results) < rounds:
            tracer.round = len(results)
            tracer.gc_mark(start=True)
            t0, wall0 = time.monotonic(), time.time()
            res = wl.round()
            measured += time.monotonic() - t0
            tracer.gc_mark(start=False)
            tracer.measuring = False
            if tracer.enabled:
                files, size = written_since(wl.output_dirs(), wall0)
                tracer.sums["io.files_written"] += files
                tracer.sums["io.bytes_written"] += size
            wl.check(res)
            wl.drop_old()
            results.append(res)
            if len(results) == STORE_ROUND:
                store = wl.store_bytes()
                layer_store = state_record(wl) if tracer.enabled else {}
            tracer.measuring = True
        tracer.measuring = False
        heap_mb, nonheap_mb = jvm_live_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
    peak = rss.stop()

    errors = [e for r in results for e in r.errors]
    for e in errors[:20]:
        print("CHECK FAILED:", e, file=sys.stderr)
    writes = [r.write_s for r in results]
    write_cpu = [r.write_cpu_s for r in results]
    reads = [x for r in results for x in r.reads_ms]
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "op_cpu_s": (statistics.median(write_cpu), "s"),
        "read_cpu_ms": (statistics.median(x for r in results for x in r.reads_cpu_ms), "ms"),
        "jvm_live_mb": (heap_mb + nonheap_mb, "MB"),
        "store_mb": (store / MB, "MB"),
    }
    # wall-clock figures: reported beside the metrics, not gated (see README)
    record = host.finish(slots, slots)
    record.update(driver_memory=spark_conf.get("spark.driver.memory"),
                  peak_rss_mb=round(peak / MB, 1), rss_samples=rss.samples,
                  rss_sampler_cpu_s=round(rss.cpu_s, 3),
                  jvm_heap_mb=round(heap_mb, 1), jvm_nonheap_mb=round(nonheap_mb, 1),
                  rounds=len(results), measured_s=round(measured, 2),
                  op_s=[round(w, 3) for w in writes],
                  op_cpu_s=[round(c, 2) for c in write_cpu],
                  op_p50_s=statistics.median(writes),
                  reads=len(reads), read_p50_ms=statistics.median(reads),
                  read_tail_ms=quantile_tail(reads))
    if args.trace:
        layers = tracer.finish(len(results))
        layers["session.start_s"] = session_start_s
        layers["session.warmup_s"] = warmup_s
        layers.update(layer_store)
        layers["serving.tail_ms"] = quantile_tail(reads) or 0.0
        layers["jvm.live_heap_mb"], layers["jvm.nonheap_mb"] = heap_mb, nonheap_mb
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        artifact = os.path.join(HERE, ".work", f"trace-{args.workload}-{args.seed}.json")
        with open(artifact, "w") as f:
            json.dump({"host": record, "layers": layers,
                       "end_to_end_traced": {k: v[0] for k, v in end_to_end.items()},
                       "spans": tracer.spans}, f, indent=1)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    shutil.rmtree(work, ignore_errors=True)
    record["run_s"] = round(time.monotonic() - T_START, 1)
    print(json.dumps({"host": record}))
    print(json.dumps({
        "correct": not errors,
        "attempted": sum(r.attempted for r in results),
        "failed": sum(r.failed for r in results),
        "metrics": metrics,
    }))
    return 0


def written_since(dirs: list[str], since: float) -> tuple[int, int]:
    """Files (and their bytes) under ``dirs`` last modified after ``since``."""
    files = size = 0
    for d in dirs:
        for dirpath, _, names in os.walk(d):
            for n in names:
                st = os.stat(os.path.join(dirpath, n))
                if st.st_mtime >= since:
                    files, size = files + 1, size + st.st_size
    return files, size


def state_record(wl) -> dict[str, float]:
    """Files, MB and ``batch_id=`` chain length of the ingest state."""
    from host import tree_size

    files = size = chain = 0
    for d in wl.state_dirs():
        f, b = tree_size(d)
        files, size = files + f, size + b
        for _, dirs, _ in os.walk(d):
            chain += sum(1 for x in dirs if "batch_id=" in x)
    return {"streaming.state_files": files, "streaming.state_mb": size / MB,
            "streaming.chain_len": chain}


# Every per-layer metric of the traced run and its unit. A layer the
# workload never calls reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.plan_s": "s",
    "catalyst.plan_ms_per_lookup": "ms",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.live_heap_mb": "MB",
    "jvm.nonheap_mb": "MB",
    "io.write_s": "s",
    "io.files_written": "count",
    "io.bytes_written": "bytes",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.input_rows": "count",
    "streaming.overhead_ms": "ms",
    "streaming.jobs_per_drain": "count",
    "streaming.state_files": "count",
    "streaming.state_mb": "MB",
    "streaming.chain_len": "count",
    "serving.jobs_per_lookup": "count",
    "serving.files_read": "count",
    "serving.rows_returned": "count",
    "serving.exec_ms": "ms",
    "serving.tail_ms": "ms",
}


if __name__ == "__main__":
    sys.exit(main())
