#!/usr/bin/env python3
"""Steadiness and tracing-overhead report for the benchmark.

Runs `mktbench/run.py` on each workload with seeds 1..N untraced and
seeds 1..K traced, one run at a time, and reports for each end-to-end
metric the median, the quartile spread ((q3 - q1) / median, as
`statistics.quantiles(values, n=4)` gives the quartiles) against the
metric's bound, and the traced-versus-untraced difference of medians
(the tracing overhead). Traced runs still measure the end-to-end
metrics; they are read from their sidecars. With `--against` an earlier
report, each metric also gets its median's shift from that report's.

    python3 mktbench/prove.py [--seeds 10] [--traced 3] [--workloads a,b]
        [--against EARLIER] --out FILE
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run([sys.executable, "mktbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"rc": p.returncode, "stderr": p.stderr[-500:]}
    sidecar = next((l.split(" ", 2)[2] for l in p.stderr.splitlines() if l.startswith("mktbench: sidecar")), None)
    out = {"rc": 0, "line": json.loads(lines[-1]), "bytes": len(lines[-1].encode())}
    if sidecar:
        with open(sidecar) as f:
            side = json.load(f)
        out["e2e"] = dict(side["e2e"], setup_s=side["setup_s"])
        out["named"] = side.get("named", {})
        out["stamp"] = {k: v for k, v in side.get("stamp", {}).items() if k != "confs"}
    return out


def spread(values: list) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--traced", type=int, default=3)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--against", default="")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    earlier = json.load(open(a.against))["workloads"] if a.against else {}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    report = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in workloads:
        runs, traced = [], []
        for s in range(1, a.seeds + 1):
            t0 = time.time()
            r = run(w, s, spec["run_seconds"], 0)
            r["wall_s"] = time.time() - t0
            runs.append(r)
            print(w, "seed", s, json.dumps(r.get("line", r))[:400], f"{r['wall_s']:.0f}s", flush=True)
        for s in range(1, a.traced + 1):
            r = run(w, s, spec["run_seconds"], 1)
            traced.append(r)
            print(w, "traced seed", s, r.get("bytes"), "bytes", flush=True)
        ok = [r for r in runs if r["rc"] == 0]
        metrics = {}
        for m in spec["end_to_end"]:
            vals = [r["line"]["metrics"][m["name"]]["value"] for r in ok]
            tvals = [r["e2e"][m["name"]] for r in traced if r["rc"] == 0 and "e2e" in r]
            med = statistics.median(vals) if vals else None
            metrics[m["name"]] = {
                "values": vals, "median": med, "bound": m["bound"],
                "spread": spread(vals) if len(vals) >= 2 else None,
                "traced_median": statistics.median(tvals) if tvals else None,
                "tracing_overhead": (statistics.median(tvals) / med - 1) if tvals and med else None}
            before = earlier.get(w, {}).get("metrics", {}).get(m["name"], {}).get("median")
            if before and med is not None:
                metrics[m["name"]]["median_shift"] = med / before - 1
        report["workloads"][w] = {
            "runs": len(runs), "ok": len(ok),
            "correct": all(r["line"]["correct"] for r in ok) and len(ok) == len(runs),
            "failed": sum(r["line"]["failed"] for r in ok),
            "attempted": sum(r["line"]["attempted"] for r in ok),
            "run_wall_s": statistics.median([r["wall_s"] for r in runs]),
            "max_line_bytes": max([r.get("bytes", 0) for r in runs + traced]),
            "metrics": metrics,
            "named_medians": {k: statistics.median([r["named"][k] for r in ok if k in r.get("named", {})])
                              for k in (ok[0].get("named", {}) if ok else {})},
            "load1": [r.get("stamp", {}).get("load1_start") for r in ok]}
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
    for w, rep in report["workloads"].items():
        print(f"{w}: ok {rep['ok']}/{rep['runs']} correct={rep['correct']} run_wall={rep['run_wall_s']:.0f}s")
        for n, m in rep["metrics"].items():
            print(f"  {n:16s} median {m['median']:.4g} spread {m['spread']:.3f} (bound {m['bound']})"
                  f" traced {m['traced_median']} overhead {m['tracing_overhead']}"
                  f" shift {m.get('median_shift')}")


if __name__ == "__main__":
    main()
