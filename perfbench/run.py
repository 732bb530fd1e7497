#!/usr/bin/env python3
"""perfbench: one closed-loop workload of kaskada_spark, timed end to end.

    python3 perfbench/run.py --workload batch_features --seed 1 --seconds 35 --trace 0

Run from the root of a source checkout. The run generates its inputs
from ``--seed``, starts a Spark session with pinned settings, warms up,
times ops for ``--seconds``, checks the outputs, and prints one JSON
object as the last line of standard output. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
Exit status is 0 only when every op succeeded and every check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: Spark and JVM settings, pinned here instead of inherited from the
#: program's defaults (sized for a 32-core host)
CORES = 2
SHUFFLE_PARTITIONS = 2
HEAP = "1g"
SPARK_CONF = {
    # spark.driver.memory is also -Xmx. -Xms of the same size keeps the
    # heap from resizing (and page-faulting again) between collections;
    # it is not pre-touched, so peak RSS counts only the heap pages the
    # program has used
    "spark.driver.memory": HEAP,
    "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -XX:ParallelGCThreads={CORES} -Xms{HEAP}",
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    # Spark's generated-code cache holds 100 classes by default; the batch
    # rotation needs more, and recompiles a few hundred classes in every
    # 15 s window when the cache is that small, so the JVM never warms up
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["batch_features", "stream_buffered"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def pin_environment(work: Path) -> dict[str, str]:
    """Environment for this process, the JVM and its Python workers."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    pinned = {
        "PYTHONPATH": os.pathsep.join([str(ROOT), str(HERE)]),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
        "PYTHONWARNINGS": "ignore",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "ARROW_NUM_THREADS": "1",
        "TZ": "UTC",
        "TMPDIR": str(tmp),
        # no hsperfdata files: HotSpot writes them under /tmp whatever
        # java.io.tmpdir says, and every JVM start reads this variable
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": str(work / "local"),
    }
    os.environ.update(pinned)
    os.environ.pop("KASKADA_QFR_DIR", None)
    return pinned


def source_digest() -> str:
    """sha256 over the program's Python sources (the checkout may not be
    a git repository, so this stands in for the commit)."""
    h = hashlib.sha256()
    files = [ROOT / "__spark_entry__.py"] + sorted((ROOT / "kaskada_spark").rglob("*.py"))
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def jvm_counters(spark) -> dict[str, float]:
    """JVM-wide counters so far: GC time and count, JIT compile time, and
    Spark's generated-code compilations (a miss in its code cache)."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    gc_ms = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
    gc_n = sum(beans.get(i).getCollectionCount() for i in range(beans.size()))
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return {"gc_ms": float(gc_ms), "gc_count": float(gc_n),
            "jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime()),
            "codegen_compiles": float(codegen.METRIC_COMPILATION_TIME().getCount())}


def host_probe_ms() -> float:
    """Time of a fixed pure-Python loop: how fast the host ran when the
    run started and ended, for tracing outliers."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(400_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1e3


def per_layer_units() -> dict[str, str]:
    """Per-layer metric names and units, as BENCHMARK.json lists them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def tail(ms: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) of the highest percentile that
    has at least 10 samples beyond it. Runs with fewer than 21 samples
    cannot resolve a percentile above the median; they report the
    median instead."""
    xs = sorted(ms)
    n = len(xs)
    if n >= 21:
        k = n - 11
        return xs[k], 100.0 * (k + 1) / n, n - 1 - k
    return statistics.median(xs), 50.0, n // 2


def stop_spark(root_pid: int) -> list[int]:
    """Stop Spark, end its JVM, and wait for every child process."""
    import procstat
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    children = [p for p in procstat.tree(root_pid) if p != root_pid]
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)
    return procstat.wait_gone(children, timeout=60)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "kaskada_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no kaskada_spark sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    import procstat
    from spans import Tracer

    started = procstat.process_start_wall()
    load_start = os.getloadavg()
    probe_start = host_probe_ms()
    work = ROOT / ".perfbench" / f"work-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    pinned_env = pin_environment(work)
    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    me = os.getpid()
    try:
        from kaskada_spark.session import get_spark

        conf = dict(SPARK_CONF)
        conf["spark.local.dir"] = str(work / "local")
        conf["spark.sql.warehouse.dir"] = str(work / "warehouse")
        conf["spark.driver.extraJavaOptions"] += f" -Djava.io.tmpdir={work / 'tmp'}"
        spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                          shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
        boot_s = time.time() - started

        import workloads

        tracer = Tracer(enabled=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](spark, str(work), args.seed, tracer)
        wl.setup()
        setup_s = time.time() - started
        jvm0 = jvm_counters(spark)
        cpu0 = procstat.cpu_seconds(me)
        host0 = procstat.machine_ticks()
        t0 = time.perf_counter()
        ops = wl.run(args.seconds)
        wall = time.perf_counter() - t0
        host = procstat.host_share(host0, procstat.machine_ticks())
        cpu = procstat.cpu_seconds(me) - cpu0
        jvm = {k: v - jvm0[k] for k, v in jvm_counters(spark).items()}
        rss_mb = procstat.peak_rss_mb(me)
        wl.stop()
        t_check = time.perf_counter()
        # outputs are only checked when every op succeeded
        failures = wl.check(ops) if all(op.ok for op in ops) else []
        layers = wl.layer_metrics() if args.trace else {}
        check_s = time.perf_counter() - t_check
    finally:
        t_stop = time.perf_counter()
        leftover = stop_spark(me)
        stop_s = time.perf_counter() - t_stop
        shutil.rmtree(work, ignore_errors=True)
    load_end = os.getloadavg()
    probe_end = host_probe_ms()

    good = [op for op in ops if op.ok]
    rows = sum(op.rows for op in good)
    timed = [op.ms for op in ops if not args.trace or not op.traced]
    with_fail = [op.ms if op.ok else float("inf") for op in ops
                 if not args.trace or not op.traced]
    tail_ms, tail_pct, tail_beyond = tail(with_fail)
    failed = sum(1 for op in ops if not op.ok) + len(failures)

    if args.trace:
        values = dict(layers)
        n_traced = max(sum(1 for op in ops if op.traced), 1)
        for name, ms in tracer.self_ms().items():
            values[f"self_ms.{name}"] = ms / n_traced
        traced_ms = [op.ms for op in ops if op.traced]
        base = statistics.median(timed) if timed else 0.0
        if traced_ms and base:
            values["trace.overhead_pct"] = 100.0 * (statistics.median(traced_ms) - base) / base
        metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                   for name, unit in per_layer_units().items()}
        tracer.dump(str(results / f"{args.workload}-seed{args.seed}-spans.jsonl"))
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "rows_per_s": {"value": rows / wall, "unit": "1/s"},
            "op_ms_p50": {"value": statistics.median(timed), "unit": "ms"},
            "op_ms_tail": {"value": tail_ms, "unit": "ms"},
            "cpu_us_per_row": {"value": cpu * 1e6 / max(rows, 1), "unit": "us"},
            "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        }

    import pandas
    import pyarrow
    import pyspark

    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "host_probe_ms": [probe_start, probe_end],
        "timed_jvm": jvm,
        "timed_host": host,
        "git_sha": git_sha(),
        "source_sha256": source_digest(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "master": f"local[{CORES}]",
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "spark_conf": SPARK_CONF,
        "env": pinned_env,
        "workload_settings": wl.settings(),
        "ops_attempted": len(ops),
        "ops_failed": failed,
        "check_failures": failures,
        "boot_s": boot_s,
        "setup_s": setup_s,
        "timed_wall_s": wall,
        "check_s": check_s,
        "stop_s": stop_s,
        "timed_cpu_s": cpu,
        "rows": rows,
        "op_ms_tail_percentile": tail_pct,
        "op_ms_tail_beyond": tail_beyond,
        "op_ms_samples": len(timed),
        "op_names": [op.name for op in ops],
        "op_ms": [op.ms for op in ops],
        "op_traced": [op.traced for op in ops],
        "leftover_pids": leftover,
        "series": getattr(wl, "series", None),
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(results / f"{tag}.json", "w") as fh:
        json.dump({"provenance": provenance, "metrics": metrics}, fh, indent=1,
                  default=str)

    print("perfbench provenance " + json.dumps(provenance, default=str))
    for name, m in metrics.items():
        print(f"perfbench {name} = {m['value']:.6g} {m['unit']}")
    print(f"perfbench ops_attempted = {len(ops)}  ops_failed = {failed}")
    ok = failed == 0 and not leftover
    for m in metrics.values():  # failed ops are infinitely slow; keep JSON valid
        m["value"] = m["value"] if math.isfinite(m["value"]) else 1e12
    print(json.dumps({"correct": ok, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
