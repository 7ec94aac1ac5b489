#!/usr/bin/env python3
"""Record and summarise sets of benchmark runs.

    python3 perfbench/record.py run OUT.jsonl --seeds 1-10 [--workloads render,corpus] [--trace 0]
    python3 perfbench/record.py summary SET.jsonl [SET.jsonl ...]

`run` calls perfbench/run.py once per (seed, workload), workloads
interleaved, and appends one JSON line per run: workload, seed, wall
seconds, and the run's result object. `summary` prints, per set, workload
and metric, the sample count, median, quartiles (statistics.quantiles,
n=4) and the quartile spread as a share of the median, and, for two or
more sets, the shift of each median against the first set.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += range(int(a), int(b or a) + 1)
    return out


def run(args):
    for seed in seeds(args.seeds):
        for w in args.workloads.split(","):
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(seed), "--seconds", str(args.seconds),
                                "--trace", str(args.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            lines = p.stdout.splitlines()
            rec = {"workload": w, "seed": seed, "trace": args.trace,
                   "wall_s": round(time.time() - t0, 1), "exit": p.returncode,
                   "result": json.loads(lines[-1]) if p.returncode == 0 and lines else None}
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"{w} seed {seed}: {rec['wall_s']}s exit {p.returncode}", file=sys.stderr)


def load(path):
    by = {}
    for line in Path(path).read_text().splitlines():
        rec = json.loads(line)
        if rec["result"]:
            for name, m in rec["result"]["metrics"].items():
                by.setdefault((rec["workload"], name), []).append(m["value"])
    return by


def summary(args):
    sets = [load(p) for p in args.sets]
    print("| set | workload | metric | n | median | q1 | q3 | spread | shift vs set 1 |")
    print("|---|---|---|---|---|---|---|---|---|")
    for i, s in enumerate(sets):
        for (w, name), vs in sorted(s.items()):
            if len(vs) < 2:  # a single (traced) run: its value only
                print(f"| {i + 1} | {w} | {name} | 1 | {vs[0]:.4g} | | | | |")
                continue
            q1, _, q3 = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            base = sets[0].get((w, name))
            shift = (f"{med / statistics.median(base) - 1:+.3f}"
                     if i and base and statistics.median(base) else "")
            print(f"| {i + 1} | {w} | {name} | {len(vs)} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                  f"{(q3 - q1) / med if med else 0:.3f} | {shift} |")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("out")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", default="render,corpus")
    r.add_argument("--seconds", type=int,
                   default=json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    r.add_argument("--trace", type=int, default=0)
    s = sub.add_parser("summary")
    s.add_argument("sets", nargs="+")
    a = ap.parse_args()
    run(a) if a.cmd == "run" else summary(a)


if __name__ == "__main__":
    main()
