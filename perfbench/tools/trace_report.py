"""Traced-run report: for each workload, three pairs of an untraced and a
traced run on the same seed. Writes the spans of the last traced run, a
per-layer self-time and count table, its per-layer metrics and the tracing
overhead (the traced runs' end-to-end figures against the untraced runs').

    python3 perfbench/tools/trace_report.py --seed 301

Run from the repository root. Writes perfbench/results/trace/.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

OUT_DIR = os.path.join("perfbench", "results", "trace")
# untraced/traced pairs per workload, alternating which runs first: the
# overhead is smaller than the spread between runs, so one pair says little
PAIRS = 3
E2E_LINE = re.compile(r"^end_to_end: (.*)$")


def run(workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0:
        raise SystemExit("%s trace=%d failed:\n%s" % (workload, trace, "\n".join(lines[-5:])))
    e2e = {}
    for line in lines:
        m = E2E_LINE.match(line)
        if m:
            e2e = dict((k, float(v)) for k, v in (kv.split("=") for kv in m.group(1).split()))
    return json.loads(lines[-1]), e2e


def nest(spans):
    """The trigger phases are measured on the query's thread and recorded at
    the top level (parent 0). Place each top-level span under the shortest
    longer span of the same operation whose interval holds it, allowing the
    1 ms resolution of the phase times."""
    for s in spans:
        if s["parent"] != 0:
            continue
        holders = [h for h in spans if h["op"] == s["op"]
                   and h["end_us"] - h["start_us"] > s["end_us"] - s["start_us"]
                   and h["start_us"] - 1000 <= s["start_us"] and s["end_us"] <= h["end_us"] + 1000]
        if holders:
            s["parent"] = min(holders, key=lambda h: h["end_us"] - h["start_us"])["id"]
    return spans


def self_times(spans):
    """Per span name: count, wall and self time (wall minus the part of the
    span's interval its children cover), in ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    table = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        covered, cur = 0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_us"]):
            a, b = max(c["start_us"], cur), min(c["end_us"], hi)
            if b > a:
                covered += b - a
                cur = b
        row = table.setdefault(s["name"], {"count": 0, "wall_ms": 0.0, "self_ms": 0.0})
        row["count"] += 1
        row["wall_ms"] += (hi - lo) / 1000.0
        row["self_ms"] += (hi - lo - covered) / 1000.0
    return table


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=301)
    ap.add_argument("--workloads", nargs="*")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    os.makedirs(OUT_DIR, exist_ok=True)
    report = {}
    md = ["# Traced runs", "",
          "Seed %d, run_seconds %d. Spans are recorded from the benchmark's own calls into each layer, "
          "plus the streaming query's trigger phases taken from StreamingQueryProgress.durationMs. "
          "Only spans of the timed operations count (the run checks that all succeeded). "
          "Self time is a span's wall minus the part its child spans cover. The trigger phases run on the query's thread and "
          "are recorded at the top level; this report places each under the shortest span of its "
          "operation that holds it, so `deliver`/`pipeline` self time is the client's wait outside "
          "any trigger and `stream.trigger` self time is the part of a trigger outside its "
          "reported phases." % (
              args.seed, spec["run_seconds"]), ""]
    for w in workloads:
        pairs = []
        for p in range(PAIRS):
            got = {}
            for trace in ((0, 1) if p % 2 == 0 else (1, 0)):
                got[trace] = run(w, args.seed, spec["run_seconds"], trace)
            pairs.append(got)
        traced = pairs[-1][1][0]
        src = os.path.join(".bench_build", "spans", "%s-seed%d.jsonl" % (w, args.seed))
        dst = os.path.join(OUT_DIR, "spans-%s.jsonl" % w)
        shutil.copy(src, dst)
        with open(dst) as fh:
            spans = [json.loads(l) for l in fh if l.strip()]
        # operations are numbered in order, warm-up first; the last
        # `attempted` of them are the timed ones
        first = max(s["op"] for s in spans) - traced["attempted"] + 1
        table = self_times(nest([s for s in spans if s["op"] >= first]))
        overhead = {}
        for k in ("latency_p50_s", "throughput_per_s"):
            u = [got[0][0]["metrics"][k]["value"] for got in pairs]
            t = [got[1][1][k] for got in pairs]
            changes = [(b - a) / a for a, b in zip(u, t)]
            overhead[k] = {"untraced": u, "traced": t, "changes": changes,
                           "median_change": statistics.median(changes)}
        report[w] = {"untraced": [got[0][0] for got in pairs], "traced": traced,
                     "overhead": overhead, "self_time": table}
        md += ["## %s" % w, "",
               "Tracing overhead, traced against untraced, median of %d pairs (each pair's change): " % PAIRS
               + "; ".join("%s %+.1f%% (%s)" % (k, 100 * v["median_change"],
                                                ", ".join("%+.1f%%" % (100 * c) for c in v["changes"]))
                           for k, v in overhead.items()), "",
               "| span | count | wall ms | self ms | self share |", "|---|---|---|---|---|"]
        total_self = sum(r["self_ms"] for r in table.values()) or 1.0
        for name, r in sorted(table.items(), key=lambda kv: -kv[1]["self_ms"]):
            md.append("| %s | %d | %.1f | %.1f | %.1f%% |" % (
                name, r["count"], r["wall_ms"], r["self_ms"], 100 * r["self_ms"] / total_self))
        md += ["", "Per-layer metrics (medians over timed operations):", "", "| metric | value | unit |", "|---|---|---|"]
        for name, v in traced["metrics"].items():
            md.append("| %s | %.6g | %s |" % (name, v["value"], v["unit"]))
        md.append("")
        print("%s: overhead %s" % (w, overhead), flush=True)
    with open(os.path.join(OUT_DIR, "trace.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    with open(os.path.join(OUT_DIR, "trace.md"), "w") as fh:
        fh.write("\n".join(md))


if __name__ == "__main__":
    main()
