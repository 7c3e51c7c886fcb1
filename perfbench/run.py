#!/usr/bin/env python3
"""The repo benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload ingest|analyst|curation \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the benchmark's
JVM harness from source (once per source state, into .bench_build/), generates
the workload's input tables from the seed, starts a fresh JVM on local[nproc]
and waits until its session is ready (setup_s), runs the first, cold op
(first_op_s) and then a number of warm ops fixed by S (about S seconds of
them on 4 cores), checks every output against DuckDB, and prints every
metric. The last stdout line is the JSON result:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

Everything a run writes stays under .bench_build/ in the checkout; the
run's scratch dir (tables, temp files, Spark local dirs, records) is
deleted when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "sbt" / "scala-2.13" / "classes"
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("ingest", "analyst", "curation")
SCALE = 0.5  # generated table size; 1.0 = 60k lineitem rows
JVM_HEAP, JVM_YOUNG = "3g", "512m"
RUN_LIMIT_S = 170  # a run that has not finished by then is killed and fails
# warm medians of op parts, printed under the workload's own metric names
PART_NAMES = {"ingest": [("ingest.batch_cycle_s", "cycle"), ("ingest.stream_drain_s", "drain")],
              "curation": [("curation.pass_s", "pass")]}
# per-layer metrics read straight from the listener counters / the JVM summary
COUNTERS = ["catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
            "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
            "exec.gc_s", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
            "exec.input_bytes", "exec.output_bytes", "streaming.queries", "streaming.batches",
            "streaming.input_rows", "streaming.trigger_ms", "streaming.add_batch_ms",
            "streaming.wal_commit_ms", "streaming.commit_offsets_ms", "streaming.query_planning_ms",
            "streaming.state_rows", "streaming.state_mem_bytes", "streaming.state_commit_ms",
            "sink.files_written", "sink.bytes_written", "ext.cached_bytes", "plans.custom_nodes",
            "plans.rows_out"]
SUMMARY = ["parsers.pdf_extract_us", "parsers.ticket_parse_us", "parsers.mail_parse_us",
           "sources.xlsx_parse_us", "parsers.items_ratio", "schemas.pin_ms"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def spark_home():
    """The Spark installation: $SPARK_HOME, else the one whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark installation: set SPARK_HOME")
    return Path(submit).resolve().parent.parent


def build():
    """Compile the engine and the harness unless this source state is built."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no engine sources (src/main/scala) in this checkout")
    stamp = source_stamp()
    stamp_file = BUILD / "build.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and CLASSES.is_dir():
        return
    BUILD.mkdir(exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=str(spark_home()))
    repos = Path.home() / ".sbt" / "repositories"
    env["SBT_OPTS"] = " ".join(
        ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"] +
        ([f"-Dsbt.repository.config={repos}"] if repos.exists() else []))
    log = BUILD / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(log.read_text()[-3000:])
        fail(f"build failed (exit {r.returncode}), log in {log}")
    stamp_file.write_text(stamp)


# ---------------------------------------------------------------- one run

def jvm_command(args, scratch, data, out):
    # a fixed-size heap and young generation under the parallel collector:
    # the footprint (peak_rss_mb) then follows the old generation's high
    # water mark instead of the collector's adaptive heap sizing
    return (["java", "-XX:+UseParallelGC", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
             f"-Xmn{JVM_YOUNG}", "-XX:-UsePerfData"] +
            [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
            [f"-Djava.io.tmpdir={scratch / 'tmp'}",
             f"-Dspark.local.dir={scratch / 'local'}",
             f"-Dspark.sql.warehouse.dir={scratch / 'spark-warehouse'}",
             f"-Dspark.hadoop.hadoop.tmp.dir={scratch / 'hadoop'}",
             "-cp", f"{CLASSES}:{spark_home() / 'jars'}/*", "perfbench.BenchMain",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", str(data), "--out", str(out)])


def kill(proc):
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def run_jvm(args, scratch):
    """Generate the inputs, start the JVM and wait for it. Returns setup_s:
    input generation plus JVM start until the session and inputs are ready."""
    deadline = time.monotonic() + RUN_LIMIT_S
    data, out = scratch / "data", scratch / "out"
    for d in ("tmp", "local", "hadoop"):
        (scratch / d).mkdir(parents=True)
    t0 = time.perf_counter()
    gen.generate(data, args.seed, SCALE)
    if args.workload == "analyst":
        gen.generate_warehouse(data, data / "warehouse")
    with open(scratch / "jvm.err", "w") as err:
        proc = subprocess.Popen(jvm_command(args, scratch, data, out), cwd=scratch,
                                stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                                text=True, start_new_session=True)
        # a terminated benchmark takes its JVM down with it
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, lambda *_: (kill(proc), sys.exit(1)))
        ready = []

        def read_stdout():
            for line in proc.stdout:
                if line.strip() == "READY" and not ready:
                    ready.append(time.perf_counter())

        reader = threading.Thread(target=read_stdout, daemon=True)
        reader.start()
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            kill(proc)
            fail(f"run did not finish within {RUN_LIMIT_S} s")
        reader.join(timeout=10)
    for line in open(scratch / "jvm.err"):
        if line.startswith("perfbench: "):
            print(line.rstrip())
    if proc.returncode != 0 or not ready:
        sys.stderr.write((scratch / "jvm.err").read_text()[-3000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    return ready[0] - t0


def read_jsonl(p):
    return [json.loads(line) for line in open(p)] if p.exists() else []


# ---------------------------------------------------------------- metrics

def op_failures(args, out, ops):
    """{op index: [failure texts]}: the JVM's own failures plus the oracle
    compares. A declared query whose first result fails its oracle fails
    every op that ran it (later results are hash-equal to the first)."""
    failed = {o["i"]: list(o["failed"]) for o in ops}
    if args.workload == "analyst":
        for i, why in oracle.check_answers(ops, out.parent / "data" / "warehouse").items():
            failed[i].append(why)
    else:
        bad = oracle.check_declared(out / "results", out.parent / "data")
        for o in ops:
            failed[o["i"]] += list(bad.values())
    return failed


def warm_ops(ops):
    """The ops that count for latency: every op after the cold first one,
    without the analyst's hostile questions (rejected before any SQL runs)."""
    return [o for o in ops[1:] if not o.get("hostile")]


def end_to_end(setup_s, ops, summary):
    warm = [o["dur_s"] for o in warm_ops(ops)]
    tail = stats.tail_with_10_beyond(warm)
    if tail:
        tail_s, note = tail[0], f"p{tail[1]:.1f} of {tail[2]} warm ops"
    else:
        tail_s, note = max(warm), f"slowest of {len(warm)} warm ops (fewer than 11)"
    print(f"op_tail_s is the {note}")
    return {
        "setup_s": setup_s,
        "first_op_s": ops[0]["dur_s"],
        "op_p50_s": stats.median(warm),
        "op_tail_s": tail_s,
        "success_rate": 1 - sum(1 for o in ops if o["failed"]) / len(ops),
        "peak_rss_mb": summary["peak_rss_kb"] / 1024,
    }


def per_layer(ops, summary, spans, counters, cpus):
    """Per-layer metrics: means over the traced warm ops of span self times
    and listener counters, plus the parser timings and the trace overhead."""
    traced = [o for o in warm_ops(ops) if o["traced"]]
    untraced = [o for o in warm_ops(ops) if not o["traced"]]
    self_ns = stats.self_times(spans)
    span_s = {}
    for s in spans:
        key = (s["op"], s["name"])
        span_s[key] = span_s.get(key, 0.0) + self_ns[s["id"]] / 1e9

    def mean(value_of):
        return sum(value_of(o) for o in traced) / len(traced)

    def spans_of(*names):
        return mean(lambda o: sum(span_s.get((o["op"], n), 0.0) for n in names))

    m = {k: mean(lambda o, k=k: counters.get(o["op"], {}).get(k, 0.0)) for k in COUNTERS}
    hostile = [o for o in ops if o.get("hostile")]
    m.update({
        "queries.construct_s": spans_of("construct"),
        "exec.materialize_s": spans_of("materialize", "render"),
        "exec.busy_share": mean(lambda o: counters.get(o["op"], {}).get("exec.task_run_s", 0.0)
                                / (o["dur_s"] * cpus)),
        "io.route_us": spans_of("route") * 1e6,
        "io.validate_ms": spans_of("validate") * 1e3,
        "io.render_ms": spans_of("render") * 1e3,
        "io.hostile_rejected": sum(o["rejected"] for o in hostile) / len(hostile) if hostile else 0.0,
        "sink.files_left": mean(lambda o: o["files_left"]),
        "trace.overhead_share": (stats.median([o["dur_s"] for o in traced]) /
                                 stats.median([o["dur_s"] for o in untraced]) - 1),
    })
    m.update({k: summary[k] for k in SUMMARY})
    return m


def keep_trace(args, out):
    """Keep the traced run's spans and counters under .bench_build/trace/."""
    dest = BUILD / "trace"
    dest.mkdir(parents=True, exist_ok=True)
    for f in ("spans.jsonl", "counters.json", "ops.jsonl"):
        if (out / f).exists():
            shutil.copy(out / f, dest / f"{args.workload}-seed{args.seed}.{f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    build()
    scratch = BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        setup_s = run_jvm(args, scratch)
        out = scratch / "out"
        ops = read_jsonl(out / "ops.jsonl")
        summary = json.loads((out / "summary.json").read_text())
        for i, why in op_failures(args, out, ops).items():
            ops[i]["failed"] = why
        if args.trace:
            keep_trace(args, out)
            values = per_layer(ops, summary, read_jsonl(out / "spans.jsonl"),
                               json.loads((out / "counters.json").read_text()), summary["cpus"])
            # the parsers must parse every rendered item, the gate must reject every hostile question
            if values["parsers.items_ratio"] != 1.0:
                ops[0]["failed"].append("parsers.items_ratio is not 1")
            if any(o.get("hostile") for o in ops) and values["io.hostile_rejected"] != 1.0:
                ops[0]["failed"].append("io.hostile_rejected is not 1")
            wanted = spec["per_layer"]
        else:
            values = end_to_end(setup_s, ops, summary)
            wanted = spec["end_to_end"]
        n_failed = sum(1 for o in ops if o["failed"])
        for msg in sorted({m for o in ops for m in o["failed"]}):
            print(f"FAILED {msg}")
        print(f"ops {len(ops)} (1 cold + {len(ops) - 1} warm), failed {n_failed}, "
              f"error_rate {n_failed / len(ops):.4f} ratio")
        print(f"scratch: the ops left {sum(o['files_left'] for o in ops)} files, "
              f"{sum(o['bytes_left'] for o in ops)} bytes in the temp dir (deleted at exit)")
        for part in ops[0]["parts"]:
            print(f"part {part}: cold {ops[0]['parts'][part]:.4f} s, warm median "
                  f"{stats.median([o['parts'][part] for o in ops[1:]]):.4f} s")
        if not args.trace:  # the end-to-end metrics under the names each workload's users know
            for name, part in PART_NAMES.get(args.workload, []):
                print(f"{name} {stats.median([o['parts'][part] for o in ops[1:]]):.6g} s")
            if args.workload == "analyst":
                print(f"analyst.answer_p50_s {values['op_p50_s']:.6g} s")
                print(f"analyst.answer_tail_s {values['op_tail_s']:.6g} s")
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
        for k, v in metrics.items():
            print(f"{k} {v['value']:.6g} {v['unit']}")
        print(json.dumps({"correct": n_failed == 0, "attempted": len(ops), "failed": n_failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
