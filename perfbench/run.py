#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload client_session --seed 1 --seconds 5 --trace 0

prints a line of run information, then, as the last line, one JSON
object `{"correct", "attempted", "failed", "metrics"}`: end-to-end
metrics with `--trace 0`, per-layer metrics from a traced run with
`--trace 1` (spans are also written to `.bench_build/perfbench/`).

    python3 perfbench/run.py --workload llm_pipeline --steadiness 5 --seconds 5

repeats a workload over seeds 1..5, untraced and traced, and prints
each metric's median and quartile spread plus the tracing overhead.

Each run keeps Spark's local dirs and warehouse in a temporary
directory under `.bench_build/` that is removed at exit, and stops the
Spark JVM before returning. The generated tables are written once per
checkout, under `.bench_build/perfbench/`.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
SETUPS = 3  # warm restarts per run; setup_s is their median


def _read_kib(pid, key: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return float(line.split()[1])
    return 0.0


def _host() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "loadavg": list(os.getloadavg()),
        "steal_s": _steal_s(),
    }


def _steal_s() -> float:
    """CPU time taken by other guests on the host since boot, summed
    over this machine's CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _tables(tmp: str) -> str:
    """The generated tables, written once per checkout and version of
    `data.py` under `.bench_build/perfbench/`, by a child process so the
    generator's memory does not count in the peak RSS."""
    with open(os.path.join(HERE, "data.py"), "rb") as f:
        path = os.path.join(BUILD, "perfbench", "tables-" + hashlib.sha256(f.read()).hexdigest()[:16])
    if not os.path.isdir(path):
        part = os.path.join(tmp, "tables")
        subprocess.run([sys.executable, os.path.join(HERE, "data.py"), part], check=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        os.rename(part, path)  # the run's temp directory is on the same file system
    return path


def spark_args(tmp: str, cpus: int) -> dict:
    """Session settings that fit the host: all cores, a driver heap of
    a quarter of physical RAM (1-4 GB), and every file Spark writes
    kept in the run's temp directory. The heap and its young generation
    have fixed sizes: left to grow, the heap's size follows the
    collector's pause-time estimates, and the JVM's peak RSS ranged from
    1.6 to 2.5 GB over runs of one workload. The JIT compiler threads live as
    long as the JVM, so their CPU time can be read per thread."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gb = max(1, min(4, ram // 4 // 2**30))
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData "
                 f"-Xms{heap_gb}g -Xmn{heap_gb * 256}m "
                 "-XX:-UseDynamicNumberOfCompilerThreads")
    return {
        "app_name": "perfbench",
        "master": f"local[{cpus}]",
        "confs": {
            "spark.driver.memory": f"{heap_gb}g",
            "spark.sql.shuffle.partitions": str(max(cpus, 8)),
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
        },
    }


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def end_to_end(run, peak_rss_mb: float) -> dict:
    """The gated metrics. Round cost is CPU time: the kernel does not
    charge a process for time other guests take from the host's cores,
    which on a shared host moves wall times by tens of percent from run
    to run. Wall latencies are in `wall()`, reported with the run
    information."""
    setup = [sum(s.values()) for s in run.setups[1:]]
    return {
        "setup_s": (statistics.median(setup), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "round_cpu_s": (statistics.mean(run.round_cpu), "s"),
    }


def wall(run) -> dict:
    ms = [op.ms for op in run.ops if op.measured]
    return {"op_p50_ms": statistics.median(ms), "round_p50_s": statistics.median(run.rounds)}


#: span self times that partition an op's wall time
SELF_TIMES = {
    "dialect.translate": "dialect.translate_ms",
    "client.query_ch": "client.rewrite_ms",
    "catalyst.sql": "catalyst.sql_ms",
    "catalyst.optimization": "catalyst.optimization_ms",
    "catalyst.planning": "catalyst.planning_ms",
    "operators.build": "operators.build_ms",
    "exec": "exec.ms",
    "arrow.transfer": "arrow.transfer_ms",
    "insert.arrow_in": "insert.arrow_in_ms",
    "insert.write": "insert.write_ms",
}

#: Spark counters per op
COUNTERS = {
    "analysis_ms": "catalyst.analysis_ms",
    "build_jobs": "operators.build_jobs",
    "jobs": "exec.jobs",
    "stages": "exec.stages",
    "tasks": "exec.tasks",
    "exchanges": "exec.exchanges",
    "shuffle_write_bytes": "exec.shuffle_write_bytes",
    "spill_bytes": "exec.spill_bytes",
    "output_rows": "exec.output_rows",
    "gc_ms": "exec.gc_ms",
    "result_bytes": "arrow.result_bytes",
    "batches": "arrow.batches",
    "files_written": "insert.files_written",
}


def per_layer(run) -> dict:
    """Per-op means over the measured ops on whose path each layer
    lies (0 where the workload never reaches the layer), plus ratios
    and the set-up split."""
    ops = [op for op in run.ops if op.measured and op.error is None]
    out = {}
    for key, name in SELF_TIMES.items():
        out[name] = (_mean(op.layers[key] for op in ops if key in op.layers), "ms")
    for key, name in COUNTERS.items():
        unit = "ms" if name.endswith("_ms") else "bytes" if "bytes" in name else "count"
        out[name] = (_mean(op.counters[key] for op in ops if key in op.counters), unit)

    def total(key):
        return sum(op.counters.get(key, 0) for op in ops)

    out["dialect.expansion_ratio"] = (total("chars_out") / max(total("chars_in"), 1), "ratio")
    out["insert.disk_bytes_per_arrow_byte"] = (
        total("disk_bytes") / max(total("arrow_bytes"), 1), "ratio")
    fetches = [op for op in ops if op.kind == "fetch"]
    inserts = [op for op in ops if op.kind == "insert"]
    out["arrow.fetch_mb_per_s"] = (
        sum(op.bytes for op in fetches) / 1e3 / max(sum(op.ms for op in fetches), 1e-9), "MB/s")
    out["insert.mb_per_s"] = (
        sum(op.bytes for op in inserts) / 1e3 / max(sum(op.ms for op in inserts), 1e-9), "MB/s")
    # share of op wall time covered by the layer spans above; the rest is
    # benchmark-side Python between the calls
    out["trace.coverage_ratio"] = (
        _mean(sum(op.layers.get(k, 0.0) for k in SELF_TIMES) / op.ms for op in ops), "ratio")
    for key, name in (("start_s", "session.start_s"), ("register_s", "sources.register_s"),
                      ("warmup_s", "session.warmup_s")):
        out[name] = (statistics.median(s[key] for s in run.setups[1:]), "s")
    out["session.cold_start_s"] = (run.setups[0]["start_s"], "s")
    out["jvm.jit_ms"] = (1000 * statistics.median(run.round_jit), "ms")
    return out


def bench(args) -> int:
    sys.path.insert(1, ROOT)  # after this directory, which Python puts first
    try:
        import clickhouse_arrow_spark
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2
    if not os.path.abspath(clickhouse_arrow_spark.__file__).startswith(ROOT + os.sep):
        print("perfbench: clickhouse_arrow_spark is not the checkout's copy", file=sys.stderr)
        return 2
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="perfbench-", dir=BUILD)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    try:
        return _bench(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _bench(args, tmp: str) -> int:
    import pyarrow
    import pyspark

    import tracing as tr
    import workloads

    host_start = _host()
    marks = [time.perf_counter()]
    table_dir = _tables(tmp)
    marks.append(time.perf_counter())

    tracer = tr.Tracer(enabled=bool(args.trace))
    run = workloads.Run(args.seed, args.seconds, tracer, table_dir,
                        spark_args(tmp, host_start["nproc"]))
    workload = workloads.WORKLOADS[args.workload]
    try:
        with tr.instrument(tracer) if tracer.enabled else contextlib.nullcontext():
            run.setup(workload)
            run.measure(workload)
            for _ in range(SETUPS):
                run.setup(workload)
        jvm = run.spark.sparkContext._gateway.proc.pid
        rss_mb = {"python": _read_kib("self", "VmHWM") / 1024, "jvm": _read_kib(jvm, "VmHWM") / 1024}
    finally:
        marks.append(time.perf_counter())
        if run.spark is not None:
            _stop_jvm(run.spark)
        marks.append(time.perf_counter())
    workloads.verify(run)
    marks.append(time.perf_counter())

    e2e = end_to_end(run, sum(rss_mb.values()))
    metrics = per_layer(run) if tracer.enabled else e2e
    if tracer.enabled:
        os.makedirs(os.path.join(BUILD, "perfbench"), exist_ok=True)
        tracer.dump(os.path.join(BUILD, "perfbench", f"spans-{args.workload}-{args.seed}.jsonl"))
    failed = [op for op in run.ops if op.error is not None]
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host_start": host_start, "host_end": _host(),
        "versions": {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                     "python": platform.python_version()},
        "measured_s": run.measured_s, "rounds": run.rounds, "round_cpu_s": run.round_cpu,
        "round_jit_cpu_s": run.round_jit,
        "ops": {k: sum(op.kind == k for op in run.ops if op.measured)
                for k in sorted({op.kind for op in run.ops})},
        "setups": run.setups,
        "phase_s": dict(zip(("tables", "spark", "stop", "verify"),
                            (b - a for a, b in zip(marks, marks[1:])))),
        "errors": [f"{op.kind} {op.name}: {op.error}" for op in failed[:5]],
        "e2e": {k: v for k, (v, _) in e2e.items()},
        "wall": wall(run), "peak_rss_mb": rss_mb,
    }
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(run.ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def steadiness(args) -> int:
    """Repeat one workload over seeds 1..N, untraced then traced; print
    each metric's median and quartile spread (as a share of the median)
    and the tracing overhead on the end-to-end metrics."""
    results = {0: [], 1: []}
    for trace in (0, 1):
        for seed in range(1, args.steadiness + 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            t0 = time.perf_counter()
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or len(lines) < 2:
                print(out.stderr[-2000:], file=sys.stderr)
                return 1
            info, res = json.loads(lines[-2])["info"], json.loads(lines[-1])
            results[trace].append((info, res))
            print(json.dumps({"trace": trace, "seed": seed, "wall_s": time.perf_counter() - t0,
                              "failed": res["failed"], "errors": info["errors"],
                              "e2e": info["e2e"], "wall": info["wall"]}))

    def spread(values):
        q1, med, q3 = statistics.quantiles(values, n=4)
        return {"median": statistics.median(values), "spread": (q3 - q1) / med if med else math.nan}

    for trace, runs in results.items():
        for name in runs[0][1]["metrics"]:
            row = spread([res["metrics"][name]["value"] for _, res in runs])
            print(json.dumps({"trace": trace, "metric": name, **row}))
    for key in ("e2e", "wall"):
        for name in results[0][0][0][key]:
            plain = statistics.median(info[key][name] for info, _ in results[0])
            traced = statistics.median(info[key][name] for info, _ in results[1])
            print(json.dumps({"overhead": name, "untraced": plain, "traced": traced,
                              "share": (traced - plain) / plain}))
    return 0


def main() -> int:
    # on SIGTERM, unwind through the `finally` blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["client_session", "llm_pipeline"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--steadiness", type=int, default=0, metavar="N",
                   help="repeat the workload over N seeds and report spreads")
    args = p.parse_args()
    return steadiness(args) if args.steadiness else bench(args)


if __name__ == "__main__":
    sys.exit(main())
