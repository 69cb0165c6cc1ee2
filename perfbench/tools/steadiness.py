"""Steadiness check of the benchmark: runs every workload once per seed, in
two sets with disjoint seeds (workloads taking turns), and reports for each
end-to-end metric the median, the quartiles and the spread (interquartile
distance over median) of each set against the metric's bound, how far the
second set's median moved from the first's (signed, and in the metric's
worse direction), and every run made with its host calibration and CPU
steal.

    python3 perfbench/tools/steadiness.py --runs 10 --seeds-a 101 --seeds-b 201

Run from the repository root. Writes perfbench/results/steadiness.{json,md}.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

OUT_DIR = os.path.join("perfbench", "results")
HOST_LINE = re.compile(r"^host: calibration_ms before=([\d.]+) after=([\d.]+); steal ([\d.]+) %")


def run_once(workload, seed, seconds, trace=0):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    host = next(({"calibration_ms": float(m.group(2)), "steal_pct": float(m.group(3))}
                 for m in map(HOST_LINE.match, lines) if m), None)
    return {"workload": workload, "seed": seed, "exit": proc.returncode, "wall_s": wall,
            "result": result, "host": host, "stdout": lines[:-1]}


def summarize(values, bound):
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else float("inf")
    return {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound,
            "spread_over_bound": spread / bound, "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seeds-a", type=int, default=101)
    ap.add_argument("--seeds-b", type=int, default=201)
    ap.add_argument("--workloads", nargs="*")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    metrics = spec["end_to_end"]
    seeds = [args.seeds_a, args.seeds_b]
    runs = []
    for s, base in enumerate(seeds):
        # workloads take turns, so a slow spell of the host is shared
        # between them instead of landing on one workload's runs
        for k in range(args.runs):
            for w in workloads:
                r = run_once(w, base + k, spec["run_seconds"])
                r["set"] = "AB"[s]
                runs.append(r)
                v = r["result"]["metrics"] if r["result"] else {}
                print("set %s %s seed %d exit %d wall %.1f s host %s %s" % (
                    r["set"], w, r["seed"], r["exit"], r["wall_s"], r["host"],
                    " ".join("%s=%.4g" % (m["name"], v[m["name"]]["value"]) for m in metrics if m["name"] in v)),
                    flush=True)
    report = {"run_seconds": spec["run_seconds"], "seeds": {"A": seeds[0], "B": seeds[-1]},
              "runs_per_set": args.runs, "workloads": {}}
    for w in workloads:
        wr = [r for r in runs if r["workload"] == w]
        entry = {"failed_runs": [(r["set"], r["seed"]) for r in wr if r["result"] is None or not r["result"]["correct"]],
                 "mean_run_wall_s": statistics.mean(r["wall_s"] for r in wr), "metrics": {}}
        for m in metrics:
            per_set = {}
            for s in "AB"[:len(seeds)]:
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in wr if r["set"] == s and r["result"]]
                if len(vals) >= 2:
                    per_set[s] = summarize(vals, m["bound"])
            if "A" in per_set and "B" in per_set:
                a, b = per_set["A"]["median"], per_set["B"]["median"]
                per_set["median_shift"] = (b - a) / a
                per_set["median_shift_worse"] = (b - a) / a if m["better"] == "lower" else (a - b) / a
            entry["metrics"][m["name"]] = per_set
        report["workloads"][w] = entry
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, "steadiness.json"), "w") as fh:
        json.dump({"report": report, "runs": runs}, fh, indent=1)
    write_md(report, runs, spec)


def write_md(report, runs, spec):
    """Writes steadiness.md from the report and the runs of steadiness.json."""
    metrics = spec["end_to_end"]
    lines = ["# Steadiness", "",
             "%d runs per set and workload, run_seconds %d; set A seeds %d.., set B seeds %d..; "
             "spread = (q3 - q1) / median with statistics.quantiles(n=4); shift = (B median - A median) / "
             "A median, signed; worse = the shift in the metric's worse direction." % (
                 report["runs_per_set"], report["run_seconds"], report["seeds"]["A"], report["seeds"]["B"]), "",
             "| workload | metric | bound | A median | A spread | B median | B spread | shift | worse |",
             "|---|---|---|---|---|---|---|---|---|"]
    for w, entry in report["workloads"].items():
        for name, ps in entry["metrics"].items():
            cells = []
            for s in "AB":
                if s in ps:
                    cells += ["%.5g" % ps[s]["median"], "%.4f" % ps[s]["spread"]]
                else:
                    cells += ["-", "-"]
            shifts = ["%+.4f" % ps[k] if k in ps else "-" for k in ("median_shift", "median_shift_worse")]
            bound = next(m["bound"] for m in metrics if m["name"] == name)
            lines.append("| %s | %s | %s | %s | %s |" % (w, name, bound, " | ".join(cells), " | ".join(shifts)))
        lines.append("| %s | mean run wall | | %.1f s | | | | | |" % (w, entry["mean_run_wall_s"]))
        if entry["failed_runs"]:
            lines.append("| %s | FAILED runs | | %s | | | | | |" % (w, entry["failed_runs"]))
    lines += ["", "Per run, with the host's state: calibration_ms is the best of three walls of a fixed "
              "single-threaded loop after the timed part (lower is a faster host), steal the share of the "
              "machine's CPU time the hypervisor took during the timed part.", "",
              "| workload | set | seed | exit | calibration_ms | steal %% | %s | run wall s |" % " | ".join(
                  m["name"] for m in metrics),
              "|---|---|---|---|---|---|%s---|" % ("---|" * len(metrics))]
    for r in runs:
        v = r["result"]["metrics"] if r["result"] else {}
        h = r["host"] or {}
        lines.append("| %s | %s | %d | %d | %s | %s | %s | %.1f |" % (
            r["workload"], r["set"], r["seed"], r["exit"], h.get("calibration_ms", "-"), h.get("steal_pct", "-"),
            " | ".join("%.5g" % v[m["name"]]["value"] if m["name"] in v else "-" for m in metrics), r["wall_s"]))
    with open(os.path.join(OUT_DIR, "steadiness.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
