#!/usr/bin/env python3
"""Record and summarise a set of benchmark runs.

    python3 perfbench/baseline.py record <out.jsonl> --seeds 1-10 [--trace-seeds 1]
    python3 perfbench/baseline.py summary <set.jsonl> [<set.jsonl> ...]

`record` runs every workload of BENCHMARK.json once per seed (untraced)
and once per trace seed (traced), appending one JSON line per run.
`summary` prints, per workload and metric, the median and the spread
(interquartile range over the median, as `statistics.quantiles` gives
it) of each set, and the drift of each later set's median from the
first's, checked against the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def bench():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def record(a):
    b = bench()
    runs = [(w["name"], s, 0) for s in seeds(a.seeds) for w in b["workloads"]]
    runs += [(w["name"], s, 1) for s in seeds(a.trace_seeds) for w in b["workloads"]]
    for name, seed, trace in runs:
        t0 = time.time()
        cmd = b["command"] + ["--workload", name, "--seed", str(seed),
                              "--seconds", str(b["run_seconds"]), "--trace", str(trace)]
        p = subprocess.run(cmd, capture_output=True, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        with open(a.out, "a") as f:
            f.write(json.dumps({"workload": name, "seed": seed, "trace": trace, "wall_s": wall,
                                "exit": p.returncode, "result": result}) + "\n")
        print(f"{name} seed {seed} trace {trace}: exit {p.returncode}, {wall:.0f} s", flush=True)


def spread(xs):
    med = statistics.median(xs)
    if len(xs) < 2 or med == 0:
        return med, 0.0
    q = statistics.quantiles(xs, n=4)
    return med, (q[2] - q[0]) / med


def summary(a):
    b = bench()
    bounds = {m["name"]: m for m in b["end_to_end"]}
    sets = []
    for path in a.sets:
        with open(path) as f:
            sets.append([json.loads(line) for line in f if line.strip()])
    for w in b["workloads"]:
        name = w["name"]
        print(f"\n### {name}\n")
        print("| metric | bound | " + " | ".join(f"set {i + 1} median (spread)" for i in range(len(sets)))
              + " | drift |")
        print("|---|---|" + "---|" * len(sets) + "---|")
        meds = {}
        for m in b["end_to_end"]:
            cells, mv = [], []
            for runs in sets:
                xs = [r["result"]["metrics"][m["name"]]["value"] for r in runs
                      if r["workload"] == name and r["trace"] == 0 and r["result"]]
                if not xs:
                    cells.append("-")
                    continue
                med, sp = spread(xs)
                mv.append(med)
                flag = "" if sp <= m["bound"] else " !"
                cells.append(f"{med:.4g} ({sp:.3f}, n={len(xs)}){flag}")
            drift = ""
            if len(mv) > 1 and mv[0]:
                worse = (mv[-1] - mv[0]) / mv[0] * (1 if m["better"] == "lower" else -1)
                drift = f"{worse:+.3f}" + (" !" if worse > m["bound"] else "")
            print(f"| {m['name']} | {m['bound']} | " + " | ".join(cells) + f" | {drift} |")
            meds[m["name"]] = mv
        traced = [r for runs in sets for r in runs
                  if r["workload"] == name and r["trace"] == 1 and r["result"]]
        if traced:
            print(f"\nper-layer medians over {len(traced)} traced runs:\n")
            keys = traced[0]["result"]["metrics"].keys()
            for k in keys:
                xs = [r["result"]["metrics"][k]["value"] for r in traced]
                print(f"- `{k}` = {statistics.median(xs):.4g} {traced[0]['result']['metrics'][k]['unit']}")
        walls = [r["wall_s"] for runs in sets for r in runs if r["workload"] == name]
        print(f"\nrun wall time: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("out")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace-seeds", default="1")
    s = sub.add_parser("summary")
    s.add_argument("sets", nargs="+")
    a = ap.parse_args()
    {"record": record, "summary": summary}[a.cmd](a)


if __name__ == "__main__":
    sys.exit(main())
