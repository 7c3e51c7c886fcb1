#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/sweep.py --workload curation --seeds 1-10 [--out runs.jsonl]
    python3 perfbench/sweep.py --compare first.jsonl second.jsonl

The first form runs `run.py` once per seed (with BENCHMARK.json's
run_seconds) and appends each run's result line to --out. It prints, per
end-to-end metric, the median and the quartile spread as a share of the
median, next to the metric's bound. The second form checks two sets of
runs of the same code against the bounds (stats.agreement), per workload.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def seeds(text):
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def by_metric(rows):
    out = {}
    for r in rows:
        for k, v in r["metrics"].items():
            out.setdefault(k, []).append(v["value"])
    return out


def report(rows):
    vals = by_metric(rows)
    for m in SPEC["end_to_end"]:
        xs = vals.get(m["name"], [])
        if len(xs) >= 2:
            print(f"  {m['name']:14s} median {stats.median(xs):10.4f} {m['unit']:6s} "
                  f"spread {stats.spread(xs):.3f} (bound {m['bound']}, n={len(xs)})")


def load(path):
    rows = [json.loads(line) for line in open(path)]
    out = {}
    for r in rows:
        out.setdefault(r["workload"], []).append(r)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=str(HERE.parent / ".bench_build" / "sweep.jsonl"))
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    if args.compare:
        first, second = (load(p) for p in args.compare)
        ok = True
        for w in sorted(first):
            bad = stats.agreement(by_metric(first[w]), by_metric(second[w]), SPEC["end_to_end"])
            print(f"{w}: {'agree' if not bad else 'DISAGREE'}")
            for name, what, value, bound in bad:
                print(f"  {name}: {what} {value:.3f} > bound {bound}")
            ok &= not bad
        sys.exit(0 if ok else 1)
    rows = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
                            "--trace", "0"],
                           cwd=HERE.parent, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            continue
        r = json.loads(lines[-1])
        r.update(workload=args.workload, seed=seed, wall_s=round(time.time() - t0, 1))
        rows.append(r)
        with open(args.out, "a") as f:
            f.write(json.dumps(r) + "\n")
        print(f"seed {seed}: wall {r['wall_s']} s, correct {r['correct']}, " +
              ", ".join(f"{k} {v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    report(rows)


if __name__ == "__main__":
    main()
