#!/usr/bin/env python3
"""Calib-normalized bench comparison, and result comparison for TimeQuery
records.

Usage: benchdiff.py OLD NEW [threshold]

Each record is a Bench JSON line, a driver BENCH_r*.json whose `tail`
holds the line, or a `graft.tools.TimeQuery` record (JSON lines, `calib_s`
first). A TimeQuery record's time for a query is the minimum over runs 2..
(JIT-warm, cache-cold) of `construct.wall_s + count.wall_s`, the bench's
measure; two records over two fixture dirs or two SPARK_GRAFT_SHUFFLE
settings make a scale or shape comparison (SCALE.md). Per-query times divide by their record's `calib` before
comparison, so box-speed drift between runs cancels out — r14's "1.6-1.9x
regressions" were pure box drift that this normalization makes visible.
Queries whose normalized ratio exceeds the threshold (default 1.2) are
flagged. Only queries present in BOTH records' headline dicts compare
(Bench emits the slowest ~40; the rest are sub-noise).

A TimeQuery record also carries each run's `result.fp`, an order-free
fingerprint of the query's rows. The diff flags a query whose runs
disagree within one record (cold run 1 against warm runs 2..), and a
query whose fingerprint differs between two records: one at another
SPARK_GRAFT_SHUFFLE setting (partition-count invariance) or in reverse
pack order (independence from what ran before). A TimeQuery record that
lacks a result for a query its calib line names is refused. To check
fingerprints alone, pass a threshold no time ratio reaches (say 1e9).

Exit 1 if any time regression or any fingerprint difference is flagged,
so a round close can gate on it.
"""
import json
import re
import sys


def load_record(lines):
    """A TimeQuery record as {calib, queries, fps}: per query, the minimum
    over runs >= 2 of construct + count wall seconds, and each run's
    `result.fp` by run number. Raises ValueError unless every line has a
    result and every query the calib line names has a line."""
    head, best, fps = None, {}, {}
    for line in lines:
        if not line.strip():
            continue
        d = json.loads(line)
        if "calib_s" in d:
            head = d
            continue
        q, run = d["query"], d.get("run", 1)
        if "result" not in d:
            raise ValueError(f"{q} run {run} has no result")
        fps.setdefault(q, {})[run] = d["result"]["fp"]
        if run >= 2:
            t = d["construct"]["wall_s"] + d["count"]["wall_s"]
            best[q] = min(t, best.get(q, t))
    if head is None or not head.get("queries"):
        raise ValueError("no calib line naming the record's queries")
    missing = [q for q in head["queries"] if q not in fps]
    if missing:
        raise ValueError(f"{len(missing)}/{len(head['queries'])} queries have no result "
                         f"(first: {', '.join(missing[:5])})")
    return {"calib": head["calib_s"], "queries": best, "fps": fps}


def fp_diffs(old, new):
    """(query, where, detail) for every fingerprint difference: runs that
    disagree within either record, then queries whose fingerprints differ
    between the two. Records without fingerprints (Bench lines) add none."""
    diffs = []
    for side, rec in (("old", old), ("new", new)):
        for q, runs in sorted(rec.get("fps", {}).items()):
            if len(set(runs.values())) > 1:
                diffs.append((q, f"{side} runs", " ".join(f"run{r}={fp}" for r, fp in sorted(runs.items()))))
    if "fps" in old and "fps" in new:
        for q in sorted(set(old["fps"]) & set(new["fps"])):
            o, n = set(old["fps"][q].values()), set(new["fps"][q].values())
            if o != n:
                diffs.append((q, "old/new", f"{'|'.join(sorted(o))} -> {'|'.join(sorted(n))}"))
    return diffs


def load(path):
    text = open(path).read()
    try:
        first = json.loads(text.lstrip().split("\n", 1)[0])
    except json.JSONDecodeError:
        first = None
    if isinstance(first, dict) and "calib_s" in first:
        try:
            return load_record(text.splitlines())
        except ValueError as e:
            raise SystemExit(f"{path}: {e} — record refused")
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        d = None
    if isinstance(d, dict) and "queries" in d:
        return d
    # driver record: the bench line is embedded in `tail` (possibly
    # truncated at the front — recover calib+queries with a regex)
    blob = d.get("tail", text) if isinstance(d, dict) else text
    m = re.search(r'\{"metric":"total".*?"sf":"[^"]*"\}', blob, re.S)
    if m:
        return json.loads(m.group(0))
    cal = re.search(r'"calib":([0-9.]+)', blob)
    qs = re.search(r'"queries":(\{[^}]*\})', blob)
    if cal and qs:
        return {"calib": float(cal.group(1)), "queries": json.loads(qs.group(1))}
    raise SystemExit(f"{path}: no bench record found")


def main(argv):
    old, new = load(argv[0]), load(argv[1])
    thr = float(argv[2]) if len(argv) > 2 else 1.2

    # r16+ records carry calib_end too: the box drifts DURING a run, so
    # normalize by the midpoint of the run's box-speed envelope when
    # available (a start-only probe mis-normalizes late-running queries)
    def calib_of(d):
        c = d.get("calib")
        e = d.get("calib_end")
        return (c + e) / 2 if c and e else c

    co, cn = calib_of(old), calib_of(new)
    if not co or not cn:
        raise SystemExit("both records need a calib field (r15+)")
    rows = []
    zero_regressed = []
    for q, tn in new["queries"].items():
        if q in old["queries"]:
            to = old["queries"][q]
            # Bench prints 3-decimal seconds: a sub-ms query rounds to 0.0,
            # and a zero on either side makes the ratio meaningless (a zero
            # OLD time would divide by zero and abort the whole diff).
            # Never skip SILENTLY though — a sub-ms query blowing up to
            # real seconds is exactly a regression this tool exists for.
            if to <= 0 or tn <= 0:
                if to <= 0 and tn >= 0.1:
                    zero_regressed.append((q, to, tn))
                else:
                    print(f"  skipped (0.0s record)  {q:<40} {to:.3f} -> {tn:.3f}")
                continue
            no, nn = to / co, tn / cn
            rows.append((nn / no, q, to, tn, no, nn))
    rows.sort(reverse=True)
    print(f"calib: old={co:.3f} new={cn:.3f} (box ratio {cn / co:.2f}x)")
    if "value" in old and "value" in new:
        print(f"total: raw {old['value']:.1f}s -> {new['value']:.1f}s | "
              f"normalized {old['value'] / co:.1f} -> {new['value'] / cn:.1f} "
              f"calib-units ({new['value'] / cn / (old['value'] / co):.2f}x)")
    print(f"{'norm-ratio':>10}  {'query':<40} {'old(s)':>8} {'new(s)':>8}  flag")
    flagged = 0
    for q, to, tn in zero_regressed:
        flagged += 1
        print(f"{'n/a':>10}  {q:<40} {to:>8.3f} {tn:>8.3f}  REGRESSION (sub-ms record grew real)")
    for r, q, to, tn, _, _ in rows:
        flag = "REGRESSION" if r > thr else ("improved" if r < 1 / thr else "")
        if r > thr:
            flagged += 1
        print(f"{r:>10.2f}  {q:<40} {to:>8.3f} {tn:>8.3f}  {flag}")
    print(f"== {flagged} normalized regression(s) over {thr}x "
          f"across {len(rows)} common queries")
    diffs = fp_diffs(old, new)
    if "fps" in old or "fps" in new:
        for q, where, detail in diffs:
            print(f"  FP-DIFF  {q:<40} {where}: {detail}")
        common = set(old.get("fps", {})) & set(new.get("fps", {}))
        print(f"== {len(diffs)} fingerprint difference(s); {len(common)} common queries")
    return 1 if flagged or diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
