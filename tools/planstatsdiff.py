#!/usr/bin/env python3
"""Render PLANSTATS.md from a TimeQuery record, and diff two PLANSTATS.md
files to flag PHYSICAL-PLAN regressions.

    python3 tools/planstatsdiff.py render RECORD.jsonl PLANSTATS.md

writes the table from each query's run-1 `plan` object. It refuses (exit 1,
the output file left as it was) unless the record has a plan for every
query its calib line names, so a short or failed run never replaces the
committed table.

The bench number hides scale-killers at sf0.1: a new shuffle exchange or
a broadcast-join flip costs milliseconds on 60k rows and hours on 100 TB.
PLANSTATS.md records per-query plan features each round; this tool turns
the between-rounds comparison (previously done by eye) into a gate:

    python3 tools/planstatsdiff.py PLANSTATS_old.md PLANSTATS_new.md \
        [--allow query ...]

Regressions flagged (per common query):
  - xchg-hash up          (a NEW shuffle exchange)
  - SMJ up / BHJ down     (a broadcast join degraded to sort-merge)
  - bcast down w/o BHJ up (a lost broadcast)
  - topk down             (a lost TakeOrderedAndProject pushdown)
  - cached down           (a lost InMemoryTableScan reuse)
  - sortAgg/objAgg up     (a hash-aggregate fallback appeared)
  - scans up              (an extra table scan)

Improvements and added/removed queries print informationally. Exit 1 on
any regression not named by --allow (an EXPLAINED regression belongs in
the round's NOTES.md entry next to its --allow).
"""
import json
import os
import sys

# (PLANSTATS.md column, record `plan` key), in table order
COLUMNS = [
    ("scans", "scans"), ("xchg-hash", "xchg_hash"), ("xchg-range", "xchg_range"),
    ("bcast", "bcast"), ("SMJ", "smj"), ("BHJ", "bhj"), ("sortAgg", "sort_agg"),
    ("objAgg", "obj_agg"), ("cached", "cached"), ("topk", "topk"),
]

HEADER = """# PLANSTATS — physical-plan features per declared query

Rendered by `tools/planstatsdiff.py render` from a `graft.tools.TimeQuery`
record at {sf_dir}: each query's run-1 `plan`, cache-cold, tree-walked,
persisted lineage cut at InMemoryTableScan. The plan is the frame's own
AdaptiveSparkPlanExec as it stands before execution (the count runs a plan
of its own, so it is never final): a join that AQE converts to a broadcast
at runtime does not show here.
`xchg-hash` = shuffle exchanges; `xchg-range` = presentation sorts;
`bcast` = broadcast exchanges; SMJ/BHJ join flavors; sortAgg/objAgg =
non-hash aggregate fallbacks; `topk` = TakeOrderedAndProject.

"""


def render(lines):
    """PLANSTATS.md text from a record's JSON lines; raises ValueError
    unless every query the calib line names has a plan."""
    head, plans = None, {}
    for line in lines:
        if not line.strip():
            continue
        d = json.loads(line)
        if "calib_s" in d:
            head = d
        elif d.get("run") == 1:
            plans[d["query"]] = d["plan"]
    if head is None or not head.get("queries"):
        raise ValueError("no calib line naming the record's queries")
    missing = [q for q in head["queries"] if q not in plans]
    if missing:
        raise ValueError(f"{len(missing)}/{len(head['queries'])} queries have no plan "
                         f"(first: {', '.join(missing[:5])})")
    names = ["query"] + [c for c, _ in COLUMNS]
    rows = [names, ["---"] * len(names)]
    rows += [[q] + [str(plans[q][k]) for _, k in COLUMNS] for q in head["queries"]]
    return HEADER.format(sf_dir=head["sf_dir"]) + "".join(
        "| " + " | ".join(r) + " |\n" for r in rows)


def render_file(record, out):
    try:
        with open(record) as f:
            text = render(f)
    except (OSError, ValueError) as e:
        raise SystemExit(f"{record}: {e} — {out} left as it was")
    tmp = out + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, out)
    print(f"wrote {out}")


def parse(path):
    rows = {}
    cols = None
    for line in open(path):
        line = line.strip()
        if not line.startswith("|"):
            continue
        cells = [c.strip() for c in line.strip("|").split("|")]
        if cells and cells[0] == "query":
            cols = cells[1:]
            continue
        if cols is None or set(cells[0]) <= {"-", " ", ":"}:
            continue
        name, vals = cells[0], cells[1:]
        try:
            rows[name] = dict(zip(cols, [int(v) for v in vals]))
        except ValueError:
            rows[name] = None  # an ERR row: no features to compare
    if cols is None:
        raise SystemExit(f"{path}: no PLANSTATS table found")
    return rows


# (feature, direction, label): +1 means an INCREASE regresses
CHECKS = [
    ("xchg-hash", +1, "new shuffle exchange"),
    ("SMJ", +1, "sort-merge join appeared"),
    ("BHJ", -1, "broadcast join lost"),
    ("topk", -1, "top-k pushdown lost"),
    ("cached", -1, "cache reuse lost"),
    ("sortAgg", +1, "sort-aggregate fallback"),
    ("objAgg", +1, "object-aggregate fallback"),
    ("scans", +1, "extra scan"),
]


def main():
    if sys.argv[1:2] == ["render"]:
        if len(sys.argv) != 4:
            raise SystemExit("usage: planstatsdiff.py render RECORD.jsonl OUT.md")
        return render_file(sys.argv[2], sys.argv[3])
    # one pass: --allow consumes its value (so the value is never taken
    # as a positional file path); a trailing bare --allow errors cleanly
    args, allow = [], set()
    it = iter(sys.argv[1:])
    for a in it:
        if a == "--allow":
            try:
                allow.add(next(it))
            except StopIteration:
                raise SystemExit("--allow needs a query name")
        else:
            args.append(a)
    if len(args) != 2:
        raise SystemExit(f"usage: planstatsdiff.py OLD.md NEW.md [--allow query ...] (got {args})")
    old, new = parse(args[0]), parse(args[1])
    common = sorted(set(old) & set(new))
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    flagged, improved = [], []
    for q in common:
        o, n = old[q], new[q]
        if o is None or n is None:
            continue
        for feat, sign, label in CHECKS:
            if feat not in o or feat not in n:
                continue
            delta = (n[feat] - o[feat]) * sign
            if delta > 0:
                flagged.append((q, label, o[feat], n[feat]))
            elif delta < 0:
                improved.append((q, label, o[feat], n[feat]))
    if added:
        print(f"added ({len(added)}): {', '.join(added)}")
    if removed:
        print(f"removed ({len(removed)}): {', '.join(removed)}")
    for q, label, ov, nv in improved:
        print(f"  improved   {q:<40} {label}: {ov} -> {nv}")
    hard = 0
    for q, label, ov, nv in flagged:
        tag = "allowed " if q in allow else "REGRESSION"
        if q not in allow:
            hard += 1
        print(f"  {tag} {q:<40} {label}: {ov} -> {nv}")
    print(f"== {hard} unexplained plan regression(s) "
          f"({len(flagged)} total, {len(flagged) - hard} allowed) "
          f"across {len(common)} common queries")
    sys.exit(1 if hard else 0)


if __name__ == "__main__":
    main()
