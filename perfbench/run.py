"""Benchmark entry point.

    python3 perfbench/run.py --workload rag_search --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. One process, one client,
Spark on ``local[N]`` with N = ``SPARK_GRAFT_CPUS`` (default: half the
CPUs this process may use; more than all of them is refused). Inputs come from ``--seed``
only. Everything the run writes stays under ``.perfbench_work/`` (removed
at exit) and ``.perfbench_out/`` (one JSON report per run).

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, taken from spans around
each public call (see spans.py), and the report also carries the span
list and the tracer's own overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3  # input load / corpus append repetitions behind setup_s

# end-to-end metric -> the workload figure it reports, per workload
E2E = {
    "request_p50_ms": {
        "rag_ingest": "search_p50_ms",
        "rag_search": "search_p50_ms",
    },
    "throughput_per_s": {
        "rag_ingest": "ingest_docs_per_s",
        "rag_search": "batch_qps",
    },
    "answer_quality": {
        "rag_ingest": "read_your_writes",
        "rag_search": "recall_at_10",
    },
    "storage_bytes_per_user_byte": dict.fromkeys(
        ("rag_ingest", "rag_search"), "storage_bytes_per_user_byte"
    ),
}
UNITS = {
    "setup_s": "s", "request_p50_ms": "ms", "throughput_per_s": "1/s",
    "answer_quality": "ratio", "storage_bytes_per_user_byte": "ratio",
    "peak_rss_mb": "MB", "ingest_docs_per_s": "docs/s", "index_build_s": "s",
    "search_p50_ms": "ms", "batch_qps": "queries/s", "recall_at_10": "ratio",
    "read_your_writes": "ratio", "failed_op_ratio": "ratio",
    **{f"{kind}_p50_ms": "ms" for kind in ("ivf", "bm25", "maxsim", "hybrid")},
}

# per-layer metric -> (how it is taken from the spans, unit).
# "dur" = median span duration, "self" = median self time,
# "jobs"/"tasks" = median inclusive count per call, "sum" = total duration.
SPAN_LAYERS = {
    "session.start_s": ("session.start", "dur", "s"),
    "session.py_pool_warm_s": ("session.py_pool_warm", "dur", "s"),
    "service.overhead_ms": ("service.search", "self", "ms"),
    "dynamic.run_index_s": ("dynamic.run_index", "dur", "s"),
    "dynamic.run_index.jobs": ("dynamic.run_index", "jobs", "count"),
    "registry.append_s": ("registry.append", "dur", "s"),
    "registry.append.jobs": ("registry.append", "jobs", "count"),
    "registry.maintain_s": ("registry.maintain", "dur", "s"),
    "registry.maintain.jobs": ("registry.maintain", "jobs", "count"),
    "ivf.build_s": ("ivf.build", "sum", "s"),
    "bm25.build_s": ("bm25.build", "sum", "s"),
    "mvivf.build_s": ("mvivf.build", "sum", "s"),
    "ivf.search_ms": ("ivf.search", "dur", "ms"),
    "ivf.search.jobs": ("ivf.search", "jobs", "count"),
    "bm25.search_ms": ("bm25.search", "dur", "ms"),
    "bm25.search.jobs": ("bm25.search", "jobs", "count"),
    "maxsim.search_ms": ("maxsim.search", "dur", "ms"),
    "maxsim.search.jobs": ("maxsim.search", "jobs", "count"),
    "hybrid.search_ms": ("hybrid.search", "dur", "ms"),
    "hybrid.search.jobs": ("hybrid.search", "jobs", "count"),
    "ivf.batch_s": ("ivf.batch", "dur", "s"),
    "ivf.batch.jobs": ("ivf.batch", "jobs", "count"),
    "ivf.batch.tasks": ("ivf.batch", "tasks", "count"),
    "bm25.batch_s": ("bm25.batch", "dur", "s"),
    "bm25.batch.jobs": ("bm25.batch", "jobs", "count"),
    "bm25.batch.tasks": ("bm25.batch", "tasks", "count"),
    "maxsim.batch_s": ("maxsim.batch", "dur", "s"),
    "maxsim.batch.jobs": ("maxsim.batch", "jobs", "count"),
    "maxsim.batch.tasks": ("maxsim.batch", "tasks", "count"),
    "quality.gate_s": ("quality.gate", "dur", "s"),
    "dedup.exact_s": ("dedup.exact", "dur", "s"),
    "dedup.minhash_s": ("dedup.minhash", "dur", "s"),
    "dedup.verify_s": ("dedup.verify", "dur", "s"),
    "dedup.components_s": ("dedup.components", "dur", "s"),
    "dedup.components.jobs": ("dedup.components", "jobs", "count"),
    "sample.split_s": ("sample.split", "dur", "s"),
    "pack.s": ("pack", "dur", "s"),
    "funnel.pass.jobs": ("funnel.pass", "jobs", "count"),
}
# per-layer figures the workloads measure directly (traced run only)
DIRECT_LAYERS = {
    "chunk.s": "s", "embed.rows_per_s": "1/s",
    "registry.files_written": "count", "maintain.extends": "count",
    "maintain.compactions": "count", "maintain.reclusters": "count",
    "ivf.files": "count", "ivf.cell_skew": "ratio", "bm25.files": "count",
    "ivf.probe_fraction": "ratio",
    "dedup.candidate_pairs": "count", "dedup.candidate_precision": "ratio",
    "pack.utilization": "ratio",
}
TOTAL_LAYERS = {f"spark.{k}": "count" for k in
                ("jobs", "stages", "tasks", "tasks_skipped", "tasks_failed")}
LAYER_UNITS = {
    **{m: u for m, (_, _, u) in SPAN_LAYERS.items()},
    **DIRECT_LAYERS, **TOTAL_LAYERS, "trace.overhead_s": "s",
}


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def span_layers(tracer) -> dict[str, float]:
    spans = tracer.dump()
    out: dict[str, float] = {}
    for metric, (name, how, unit) in SPAN_LAYERS.items():
        mine = [s for s in spans if s["name"] == name]
        if not mine:
            out[metric] = 0.0
            continue
        if how == "sum":
            v = sum(s["end_s"] - s["start_s"] for s in mine)
        elif how in ("jobs", "tasks"):
            v = statistics.median(s["inclusive_counts"][how] for s in mine)
        else:
            v = statistics.median(
                (s["self_s"] if how == "self" else s["end_s"] - s["start_s"]) for s in mine
            )
        out[metric] = v * 1e3 if unit == "ms" else v
    for key in TOTAL_LAYERS:
        out[key] = sum(s["counts"][key.split(".", 1)[1]] for s in spans)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "vechord_spark" / "__init__.py").is_file():
        return fail(f"no vechord_spark package under {ROOT}; run from a source checkout")
    nproc = len(os.sched_getaffinity(0))
    # Half the CPUs by default: each pandas-UDF task keeps a JVM task
    # thread and a Python worker busy, beside the driver, JIT and GC
    # threads. With every CPU running a task, a CPU the hypervisor takes
    # away stalls a task and with it the whole job: on a shared 4-CPU
    # guest, 8% stolen time raised query latency by ~60% at local[4]
    # and by ~18% at local[2], at the same latency without steal.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", max(1, nproc // 2)))
    if not 1 <= cpus <= nproc:
        return fail(f"SPARK_GRAFT_CPUS={cpus} but this process may use {nproc} CPUs")

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    out_dir.mkdir(exist_ok=True)
    # no JVM perf-data file in the system temp dir, for the launcher JVM
    # of spark-submit and for the driver JVM alike
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": str(work / "tmp"),
        "SPARK_GRAFT_LOCAL_DIR": str(work / "local"),
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "SPARK_LAUNCHER_OPTS": java_opts,
    })
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from spans import RETAIN_CONF, Tracer

    if args.trace:
        conf = os.environ.get("SPARK_GRAFT_CONF", "")
        os.environ["SPARK_GRAFT_CONF"] = f"{conf};{RETAIN_CONF}" if conf else RETAIN_CONF
    os.chdir(work)  # stray relative writes (derby.log, metastore_db) land in work
    sys.path.insert(0, str(ROOT))
    try:
        return run(args, work, out_dir, cpus, nproc, Tracer(bool(args.trace)))
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: Path, out_dir: Path, cpus: int, nproc: int, tracer) -> int:
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    load_start = os.getloadavg()
    jiffies_start = cpu_jiffies()
    import pyspark

    from vechord_spark.session import get_spark

    with tracer.span("session.start"):
        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench",
            extra_conf={"spark.driver.extraJavaOptions": os.environ["SPARK_LAUNCHER_OPTS"]},
        )
        start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    jvm = sc._gateway.proc
    try:
        tracer.attach(sc)
        with tracer.span("session.py_pool_warm"):
            t0 = time.perf_counter()
            # start one Python worker per core and load pandas/arrow in it
            from pyspark.sql import functions as F
            from pyspark.sql.functions import pandas_udf

            plus_one = pandas_udf(lambda s: s + 1, "long")
            spark.range(0, cpus * 16, numPartitions=cpus).select(
                plus_one("id").alias("x")
            ).agg(F.sum("x")).collect()
            warm_s = time.perf_counter() - t0

        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.seconds)
        fingerprint = wl.generate()  # numpy, outside every timed interval
        loads = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.load(rep)
            loads.append(time.perf_counter() - t0)
        setup_s = start_s + warm_s + statistics.median(loads)

        figures = wl.run()
        if tracer.enabled:
            tracer.finish()
        peak_kb = vm_hwm_kb("self") + vm_hwm_kb(jvm.pid)
        java = sc._jvm.java.lang.System.getProperty("java.version")
    finally:
        spark.stop()
        sc._gateway.shutdown()
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()

    jiffies_end = cpu_jiffies()
    checks = wl.checks
    figures.update({
        "setup_s": setup_s,
        "peak_rss_mb": peak_kb / 1024,
        "failed_op_ratio": checks.failed / max(1, checks.attempted),
    })
    e2e = {m: figures[src[args.workload]] for m, src in E2E.items()}
    e2e["setup_s"] = setup_s
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input_fingerprint": fingerprint, "nproc": nproc,
        "SPARK_GRAFT_CPUS": cpus, "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(), "pyspark": pyspark.__version__,
        # share of CPU time the hypervisor gave to other guests during the run
        "cpu_steal_share": (jiffies_end[0] - jiffies_start[0])
        / max(1, jiffies_end[1] - jiffies_start[1]),
        "java": java, "python": platform.python_version(), "samples": wl.samples,
        "setup_loads_s": loads,
    }
    report = {k: {"value": v, "unit": UNITS[k]} for k, v in figures.items()}
    out = {"stamp": stamp, "report": report, "walls_ms": wl.walls_ms, "failures": checks.failures}
    if tracer.enabled:
        layers = span_layers(tracer)
        layers.update(wl.layers)
        layers["trace.overhead_s"] = tracer.overhead_s
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in LAYER_UNITS.items()}
        # descriptive figures (no better/worse) stay in the report file only
        out.update(layers=layers, spans=tracer.dump(), by_name=tracer.by_name())
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    out["metrics"] = metrics
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (out_dir / name).write_text(json.dumps(out, indent=1))
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
