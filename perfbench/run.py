"""Benchmark of record for riptable_spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload batch_pipelines --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, starts a SparkSession
through the program's ``get_spark`` and restarts it eight times (the
set-up time is the median of the restarts), measures a fixed number of
blocks of the workload per ``--seconds`` (see README.md), checks every
output, and prints a report whose last line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` untraced and traced blocks
alternate, and the metrics are per layer (see tracing.py).
Workloads and metrics are described in README.md next to this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import memwatch

N_RESTARTS = 8
DRIVER_MEM = "2g"

# operators whose per-layer metrics the traced run reports (tracing.span_metrics)
OPERATOR_SPANS = (
    "operators.merge.merge_asof",
    "operators.window",
    "operators.ema.ema_decay",
    "operators.groupby",
    "operators.accum.accum2",
    "operators.dedup.dedup_exact",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.connected_components",
    "operators.similarity.brute_force_topk",
)


def pin_environment(root: str, work: str, trace: bool) -> None:
    """Fix the program's machine-sizing knobs before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),  # session.py defaults to local[32]
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,  # session.py defaults to 16g
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # Arrow workers import riptable_spark by module path
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        # no progress bars on stderr; a fixed, pre-touched heap, so the
        # footprint does not depend on when the collector grew the heap
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false --driver-java-options "
            f"'-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}' pyspark-shell"
        ),
    )
    os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(work, "eventlog")


class MemorySampler:
    """Peak PSS of this process's descendants while measuring, sampled by
    memwatch.py in a process of its own."""

    def __init__(self):
        self.proc = subprocess.Popen([sys.executable, memwatch.__file__, str(os.getpid())],
                                     stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def stop(self) -> float:
        out, _ = self.proc.communicate(timeout=30)  # closing stdin ends the sampling
        return float(out)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every child."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while memwatch.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7]


def measure(wl, spark, blocks: int, *calls) -> list[list]:
    """Run ``blocks`` whole blocks (one pass of each batch job, or one deck
    of calls), cycling through ``calls``. Returns the samples of each."""
    out: list[list] = [[] for _ in calls]
    for i in range(blocks):
        out[i % len(calls)] += wl.block(spark, calls[i % len(calls)])
    return out


def quantile(values: list[float], q: int) -> float:
    """q-th percentile, interpolated inside the observed range."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(samples, setups: list[float], peak_pss_mb: float) -> dict[str, tuple[float, str]]:
    ok = [s for s in samples if s.ok]
    lat_ms = [s.latency_s * 1e3 for s in ok]
    busy = sum(s.latency_s for s in ok)
    graded = [s.recall for s in samples if s.recall is not None]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "rows_per_s": (sum(s.rows for s in ok) / busy if busy else 0.0, "rows/s"),
        "op_p50_ms": (quantile(lat_ms, 50) if ok else 0.0, "ms"),
        "op_p95_ms": (quantile(lat_ms, 95) if ok else 0.0, "ms"),
        # only samples that grade their output partially count
        "recall": (statistics.fmean(graded) if graded else 0.0, "frac"),
        "peak_pss_mb": (peak_pss_mb, "MB"),
    }


def per_layer(tracer, wl, get_spark_s: list[float], overhead: float) -> dict[str, tuple[float, str]]:
    import tracing

    units = {"plan_ms": "ms", "plan_jobs": "count", "exec_s": "s", "tasks": "count",
             "executor_cpu_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s"}
    out: dict[str, tuple[float, str]] = {}
    for name in OPERATOR_SPANS:
        for key, value in tracing.span_metrics(tracer, name).items():
            out[key] = (value, units[key.rsplit(".", 1)[1]])
    counts = wl.layer_counts()
    for key in ("operators.dedup.minhash_lsh_pairs.true_pairs_per_candidate",
                "operators.similarity.brute_force_topk.pairs_scored",
                "sources.io.bytes_out_per_byte_in"):
        out[key] = (counts.get(key, 0.0), "count" if key.endswith("pairs_scored") else "ratio")

    def durations(name: str) -> list[float]:
        return [s.end - s.start for s in tracer.spans if s.name == name]

    facade = ("dataset", "dataset.exec", "sources.io.load_table_hit", "sources.io.load_table_miss")
    per_call: dict[int, list[float]] = {}
    for s in tracer.spans:
        if s.name in facade:
            acc = per_call.setdefault(s.rep, [0.0, 0.0])
            acc[0] += s.jobs
            acc[1] += s.counters.get("tasks", 0.0)
    med = tracing.median_or_zero
    out.update({
        "dataset.plan_ms": (med(d * 1e3 for d in durations("dataset")), "ms"),
        "dataset.to_pandas_ms": (med(d * 1e3 for d in durations("dataset.exec")), "ms"),
        "dataset.jobs_per_op": (statistics.fmean(a[0] for a in per_call.values()) if per_call else 0.0, "count"),
        "dataset.tasks_per_op": (statistics.fmean(a[1] for a in per_call.values()) if per_call else 0.0, "count"),
        "sources.io.load_table_miss_ms": (med(d * 1e3 for d in durations("sources.io.load_table_miss")), "ms"),
        "sources.io.load_table_hit_ms": (med(d * 1e3 for d in durations("sources.io.load_table_hit")), "ms"),
        "sources.io.save_dataset_s": (med(durations("sources.io.save_dataset")), "s"),
        "session.get_spark_s": (statistics.median(get_spark_s), "s"),
        "trace.overhead_frac": (overhead, "ratio"),
    })
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "riptable_spark", "__init__.py")):
        print(f"error: no riptable_spark package under {root}; run from the root of a checkout",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("error: --seconds must be positive", file=sys.stderr)
        return 2

    # a terminated run still stops the JVM and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return run(args, root, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, root: str, work: str, workloads) -> int:
    import numpy as np

    traced = bool(args.trace)
    pin_environment(root, work, traced)
    sys.path.insert(0, root)
    from riptable_spark.session import get_spark

    wl = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    wl.generate(np.random.default_rng(args.seed), os.path.join(work, "data"))
    gen_s = time.perf_counter() - t0

    # set-up: a session start plus a light warm-up query, 1 + N_RESTARTS
    # times. The first also launches the JVM and is only reported; setup_s
    # is the median of the restarts, each a new session in the running JVM
    setups, get_spark_s = [], []
    spark = None
    try:
        for i in range(1 + N_RESTARTS):
            if i:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}")
            get_spark_s.append(time.perf_counter() - t0)
            workloads.touch(spark, wl)
            setups.append(time.perf_counter() - t0)
        # priming: one untimed block (see each workload's warmup), so JIT,
        # codegen and the Python workers are warm before anything is timed
        t0 = time.perf_counter()
        samples = wl.warmup(spark)
        prime_s = time.perf_counter() - t0

        sampler = MemorySampler()
        ticks0 = cpu_ticks()
        try:
            # a fixed number of blocks per --seconds, not a deadline: the JVM
            # keeps getting faster for minutes, so a run that fits more
            # blocks on a quiet machine would also measure warmer ones
            blocks = max(1 + traced, round(args.seconds / wl.block_seconds))
            if not traced:
                (measured,) = measure(wl, spark, blocks, workloads.Calls())
            else:
                import tracing

                # untraced and traced blocks alternate, so the warm-up that
                # continues through the run does not bias the overhead
                tracer = tracing.Tracer(spark.sparkContext)
                plain, with_spans = measure(wl, spark, blocks, workloads.Calls(), workloads.Calls(tracer))
                measured = plain + with_spans
        finally:
            peak_pss_mb = sampler.stop()
            ticks1 = cpu_ticks()
    finally:
        if spark is not None:
            stop_spark(spark)
    samples += measured

    if traced:
        tracer.finish(tracing.read_event_log(os.environ["SPARK_GRAFT_EVENTLOG_DIR"]))
        os.makedirs(os.path.join(root, ".perfbench"), exist_ok=True)
        spans_path = os.path.join(root, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(spans_path)
        lat_plain = [s.latency_s for s in plain if s.ok]
        lat_traced = [s.latency_s for s in with_spans if s.ok]
        overhead = (statistics.median(lat_traced) / statistics.median(lat_plain) - 1.0
                    if lat_plain and lat_traced else 0.0)
        metrics = per_layer(tracer, wl, get_spark_s[1:], overhead)
    else:
        metrics = end_to_end(measured, setups[1:], peak_pss_mb)

    failed = sum(not s.ok for s in samples)
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  trace {args.trace}")
    print(f"  input generation {gen_s:.3f} s, first set-up with JVM launch {setups[0]:.3f} s and"
          f" priming pass {prime_s:.3f} s (none in setup_s)")
    print(f"  session restarts {', '.join(f'{s:.3f}' for s in setups[1:])} s")
    print(f"  samples {len(measured)} measured in {blocks} blocks + {len(samples) - len(measured)} warm-up;"
          f" failed {failed}; failed_frac {failed / len(samples):.4f}")
    total, steal = ticks1[0] - ticks0[0], ticks1[1] - ticks0[1]
    print(f"  cpu time stolen by the hypervisor while measuring: {steal / max(total, 1):.1%}")
    by_kind: dict[str, list[float]] = {}
    for s in measured:
        by_kind.setdefault(s.kind, []).append(s.latency_s)
    for kind, lat in sorted(by_kind.items()):
        print(f"  {kind}: n={len(lat)} latency s " + " ".join(f"{x:.3f}" for x in lat))
    if traced:
        print(f"  spans {len(tracer.spans)} written to {os.path.relpath(spans_path, root)}")
        self_s: dict[str, float] = {}
        for s in tracer.spans:
            self_s[s.name] = self_s.get(s.name, 0.0) + s.self_s
        for name, v in sorted(self_s.items(), key=lambda kv: -kv[1]):
            print(f"  self time {name}: {v:.3f} s")
    for s in samples:
        if not s.ok:
            print(f"  FAILED {s.kind}: {s.error.strip().splitlines()[-1] if s.error else ''}")
    for name, (value, unit) in metrics.items():
        print(f"  {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
