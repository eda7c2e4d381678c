"""Steadiness check: run each workload on several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (distance
between the quartiles as a share of the median) against the bound in
BENCHMARK.json. With ``--trace`` every seed also gets a traced run, and
the report gives the traced run's end-to-end figures against the
untraced ones: the tracing overhead.

    python3 perfbench/steady.py --seeds 1-10
    python3 perfbench/steady.py --workloads rag_search --seeds 1-5 --trace

Runs one benchmark process at a time, from the checkout root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    report = json.loads(proc.stdout.strip().splitlines()[-2])["report"]
    return {"result": result, "report": report}, wall


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer_names = {m["name"] for m in bench["per_layer"]}
    summary: dict = {"seeds": args.seeds, "seconds": args.seconds, "workloads": {}}
    ok = True
    for wl in args.workloads.split(","):
        runs, traced, walls = [], [], []
        for seed in args.seeds:
            out, wall = run_once(wl, seed, args.seconds, 0)
            runs.append(out)
            walls.append(wall)
            res = out["result"]
            if set(res["metrics"]) != set(e2e) or not res["correct"]:
                ok = False
                print(f"{wl} seed {seed}: correct={res['correct']} failed={res['failed']} "
                      f"metrics={sorted(res['metrics'])}", file=sys.stderr)
            if args.trace:
                tout, twall = run_once(wl, seed, args.seconds, 1)
                traced.append(tout)
                if set(tout["result"]["metrics"]) != layer_names:
                    ok = False
                    print(f"{wl} seed {seed}: traced metrics differ from BENCHMARK.json",
                          file=sys.stderr)
            print(f"{wl} seed {seed}: {wall:.1f}s", file=sys.stderr)
        rows = {}
        for name, meta in e2e.items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            row = spread(vals)
            row.update(bound=meta["bound"], values=vals,
                       steady=name == "setup_s" or row["spread"] <= meta["bound"] / 3)
            rows[name] = row
        entry = {"metrics": rows, "run_wall_s": spread(walls)}
        if traced:
            entry["trace_overhead"] = {
                k: statistics.median(t["report"][k]["value"] for t in traced)
                / statistics.median(r["report"][k]["value"] for r in runs) - 1.0
                for k in runs[0]["report"]
                if statistics.median(r["report"][k]["value"] for r in runs)
            }
            entry["tracer_own_s"] = statistics.median(
                t["result"]["metrics"]["trace.overhead_s"]["value"] for t in traced
            )
        summary["workloads"][wl] = entry
        print(f"\n{wl}: run wall median {entry['run_wall_s']['median']:.1f}s")
        print(f"  {'metric':30s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
        for name, r in rows.items():
            flag = "" if r["steady"] else "  <- above bound/3"
            print(f"  {name:30s} {r['median']:12.4f} {r['q1']:12.4f} {r['q3']:12.4f} "
                  f"{r['spread']:8.4f} {r['bound']:6.2f}{flag}")
        if traced:
            print("  traced vs untraced (median ratio - 1): " + ", ".join(
                f"{k} {v:+.3f}" for k, v in entry["trace_overhead"].items()))
            print(f"  tracer bookkeeping: {entry['tracer_own_s']:.3f}s per run")
    n_w = len(bench["workloads"])
    per_run = statistics.mean(
        e["run_wall_s"]["median"] for e in summary["workloads"].values()
    )
    summary["driver_estimate_s"] = (4 + 22 * n_w) * per_run
    print(f"\nestimated driver time: {4 + 22 * n_w} runs x {per_run:.1f}s = "
          f"{summary['driver_estimate_s']:.0f}s")
    out = ROOT / ".perfbench_out" / f"steady-{int(time.time())}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(summary, indent=1))
    print(f"written {out.relative_to(ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
