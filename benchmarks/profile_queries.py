"""Per-query profiler for the optimization rounds.

For each bench query (or a --only subset) it records, on a warmed
session with the persisted index layouts ensured (same methodology as
bench.py):

- build_s: wall to construct the DataFrame (Python plan building +
  any driver-side actions the query runs eagerly, e.g. model fits)
- exec_s:  wall of the .count() action (cold, i.e. first execution)
- warm_s:  wall of a second build+count (steady state)
- n_jobs:  Spark jobs launched by the warm run (AQE rounds + extra
  actions show up here — each job is a scheduling round-trip)
- plan:    .explain("formatted") saved to --plans-dir/<name>.txt

Usage:
  python benchmarks/profile_queries.py --top 30            # 30 slowest by warm
  python benchmarks/profile_queries.py --only q1,q2 --plans-dir plans/r13
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="", help="comma-separated query names")
    ap.add_argument("--top", type=int, default=0, help="profile N slowest (by BENCH_FULL warm)")
    ap.add_argument("--plans-dir", default="", help="save explain(formatted) per query here")
    ap.add_argument("--suffix", default="", help="filename suffix for plan files (e.g. _before)")
    ap.add_argument("--out", default="", help="write JSON results here")
    args = ap.parse_args()

    import vechord_spark as vs
    from vechord_spark import suite as _suite
    from vechord_spark.suite import QUERIES

    from bench import BENCH_QUERIES

    names = [n for n in args.only.split(",") if n]
    if not names:
        names = list(BENCH_QUERIES)
        if args.top:
            ref = Path(__file__).resolve().parent.parent / "BENCH_FULL_r13_warm.json"
            if ref.exists():
                walls = json.loads(ref.read_text())["queries"]
                names = sorted(
                    (n for n in names if n in walls), key=lambda n: -walls[n]
                )[: args.top]

    spark = vs.get_spark("vechord-profile")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    for _name, _ensure in (
        ("bm25_index", _suite._bm25_index),
        ("ivf16_index", _suite._ivf16),
        ("ivfpq_index", _suite._ivfpq),
        ("opq_index", _suite._opq),
        ("rpq_index", _suite._rpq),
        ("unigram_bm25", _suite._unigram_bm25),
        ("sparse_postings", _suite._sparse_postings),
        ("funnel_day1", _suite._inc_seen),
    ):
        with contextlib.suppress(Exception):
            _ensure(spark, SF_DIR)

    # Python-worker pool warmup (same methodology as bench.py): fork +
    # pandas/numpy import is session infra, not a per-query cost
    def _imp(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    n = 2 * spark.sparkContext.defaultParallelism
    with contextlib.suppress(Exception):
        (
            spark.range(0, 2 * n, 1, n)
            .mapInPandas(_imp, "id long")
            .mapInPandas(_imp, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    results: dict[str, dict] = {}
    plans_dir = Path(args.plans_dir) if args.plans_dir else None
    if plans_dir:
        plans_dir.mkdir(parents=True, exist_ok=True)

    # pre-checkpoint plan capture: checkpoint-final operators (triangles,
    # pagerank, the funnel day-2 stages) explain() as a one-node
    # ExistingRDD scan; with CAPTURE on they note() the frame FEEDING
    # each checkpoint so the dump shows the tree that actually ran
    # (round-13 verdict item 6)
    from vechord_spark.plans import plandump

    if plans_dir:
        plandump.CAPTURE = True

    for name in names:
        fn = QUERIES.get(name)
        if fn is None:
            print(f"# {name}: unknown", file=sys.stderr)
            continue
        try:
            sc.setJobDescription(f"profile:{name}:cold")
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            t1 = time.perf_counter()
            df.count()
            t2 = time.perf_counter()

            # keep only the WARM run's pre-checkpoint frames (the cold
            # run and memo builds note() too)
            plandump.drain()
            # warm run inside a job group so we can count jobs
            group = f"profile-{name}"
            sc.setJobGroup(group, f"profile:{name}:warm")
            t3 = time.perf_counter()
            df2 = fn(spark, SF_DIR)
            t4 = time.perf_counter()
            df2.count()
            t5 = time.perf_counter()
            n_jobs = len(tracker.getJobIdsForGroup(group))
            sc.setJobGroup("", "")

            if plans_dir:
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df2.explain("formatted")
                    for tag, pre in plandump.drain():
                        print(f"\n=== pre-checkpoint plan: {tag} ===\n")
                        pre.explain("formatted")
                (plans_dir / f"{name}{args.suffix}.txt").write_text(buf.getvalue())
        except Exception as exc:  # noqa: BLE001
            print(f"# {name}: ERROR {exc}", file=sys.stderr)
            results[name] = {"err": str(exc)[:300]}
            continue
        finally:
            # a query that raised after note() calls must not leave its
            # frames for the process lifetime (or the next query's dump)
            plandump.drain()
        rec = {
            "build_s": round(t1 - t0, 3),
            "exec_s": round(t2 - t1, 3),
            "warm_build_s": round(t4 - t3, 3),
            "warm_exec_s": round(t5 - t4, 3),
            "warm_s": round(t5 - t3, 3),
            "n_jobs_warm": n_jobs,
        }
        results[name] = rec
        print(
            f"# {name}: build {rec['build_s']:.3f}s exec {rec['exec_s']:.3f}s"
            f" | warm {rec['warm_s']:.3f}s ({rec['warm_build_s']:.3f}+"
            f"{rec['warm_exec_s']:.3f}) jobs={n_jobs}",
            file=sys.stderr,
        )

    if args.out:
        Path(args.out).write_text(json.dumps(results, indent=1) + "\n")
    total_warm = sum(r.get("warm_s", 0.0) for r in results.values())
    print(json.dumps({"n": len(results), "total_warm": round(total_warm, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
