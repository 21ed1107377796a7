#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source on first use (sbt, the
`perfbench/` project), then runs `graftbench.Main` in one JVM with a
`local[4]` Spark session. With `--trace 0` the last line of stdout holds
the end-to-end metrics, with `--trace 1` the per-layer ones; the lines
before it are a human-readable report. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "perfbench.stamp"
WORK = BENCH / ".work"

WORKLOADS = ("curate", "ann")
# Seconds a run's JVM may take, set-up included.
JVM_TIMEOUT = 150
BUILD_TIMEOUT = 700

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark install: set SPARK_HOME")
    return home


def source_digest():
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(env):
    digest = source_digest()
    if STAMP.exists() and STAMP.read_text() == digest and CLASSES.is_dir():
        return
    print("perfbench: building engine + harness (sbt)", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "Compile/copyResources", "compile"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})")
    STAMP.write_text(digest)


def run_jvm(args, env, work):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    out = work / "records.jsonl"
    cmd = [str(java), "-Xmx3g", *opens,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{CLASSES}{os.pathsep}{Path(spark_home()) / 'jars' / '*'}",
           "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--out", str(out)]
    log = work / "jvm.log"
    with open(log, "wb") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=logf,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop(proc)
    if code != 0:
        tail = log.read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        fail("run timed out" if code is None else f"run failed (jvm exit {code})")
    return [json.loads(line) for line in out.read_text().splitlines() if line.strip()]


def stop(proc):
    """Stop the JVM if it is still running, and wait until it has ended."""
    if proc.poll() is not None:
        return
    proc.terminate()
    try:
        proc.wait(timeout=15)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def report(args, records):
    """Human-readable lines: the workload's own metrics by name and unit,
    the trace breakdown, and the run's trust metadata."""
    attempted, failed = stats.op_counts(records)
    ok = stats.ok_ops(records)
    info = next((r for r in records if r["rec"] == "info"), {})
    host = next(r for r in records if r["rec"] == "host")
    setup = next(r for r in records if r["rec"] == "setup")
    lines = [f"workload={args.workload} seed={args.seed} trace={args.trace} "
             f"ops={attempted} failed={failed} error_rate={failed / attempted:.4f} ratio"]
    for r in records:
        if r["rec"] == "op" and not r["ok"]:
            lines.append(f"  FAILED op {r['i']}: {r['why']}")
    lines.append("  setup: session_s=%.3f " % setup["session_s"] +
                 " ".join(f"{k}={v:.3f}" for k, v in setup["phases"].items()))
    walls = [r["wall_s"] for r in ok if not r["traced"]]
    lines.append("  op walls (s, run order): " + " ".join(
        f"{r['wall_s']:.3f}" + ("t" if r["traced"] else "") for r in ok))
    if walls and args.trace == 0:
        if args.workload == "curate":
            lines.append(f"  curate_s={stats.median(walls):.3f} s (median of {len(walls)} ops)")
        else:
            ms = [w * 1000 for w in walls]
            t = stats.tail(ms)
            tail = (f"ann_query_tail_ms={t[1]:.1f} ms (p{t[0]:g}, {t[2]} samples beyond)"
                    if t else f"ann_query_tail_ms=n/a ({len(ms)} samples, needs 20)")
            lines.append(f"  ann_query_p50_ms={stats.median(ms):.1f} ms (n={len(ms)}) {tail}")
            lines.append("  ann_build_s=%.3f s (build %.3f + save %.3f + layout %.3f)" % (
                info["build_s"] + info["save_s"] + info["layout_s"],
                info["build_s"], info["save_s"], info["layout_s"]))
            lines.append(f"  ann_recall_at_10={info['recall_at_10']:.4f} ratio "
                         f"(lowest batch {info['min_batch_recall']:.4f}) "
                         f"append_s={info['append_s']:.3f} s load_s={info['load_s']:.3f} s "
                         f"queries_straddling_cells={info['queries_straddling_cells']:.2f}")
        cpu = stats.median([r["cpu_s"] for r in ok])
        tasks = next(r for r in records if r["rec"] == "tasks")
        lines.append(f"  cpu_s={cpu:.3f} s per op  peak_exec_mem_mb="
                     f"{tasks['peak_exec_mem_mb']:.1f} MB  jobs={tasks['jobs']} over {tasks['ops']} ops")
    if args.trace == 1:
        for name, row in sorted(stats.span_table(records).items()):
            extra = (f" rows_read_per_result={row['rows_read_per_result']:.2f}"
                     if "rows_read_per_result" in row else "")
            lines.append(f"  span {name} calls={row['calls']} " + " ".join(
                f"{k}={row[k]:.3f}" for k in stats.SPAN_COUNTERS) + extra)
        ov = stats.tracing_overhead(records)
        if ov:
            traced, plain, ratio = ov
            by_op = stats.traced_ops(records)
            span_sum = stats.median([sum(s["wall_s"] for s in spans)
                                     for spans in by_op.values()])
            lines.append(f"  tracing overhead: traced op {traced:.3f} s vs untraced "
                         f"{plain:.3f} s = {ratio:+.1%}; span sum {span_sum:.3f} s, "
                         f"gap to untraced op {plain - span_sum:+.3f} s")
    lines.append(f"  host: nproc={host['nproc']} steal_s={host['steal_s']} "
                 f"iowait_s={host['iowait_s']} load1={host['load1_start']}->"
                 f"{host['load1_end']} gc_ms={host['gc_ms']} seed={host['seed']}")
    return lines


def on_term(signum, frame):
    # turn SIGTERM into an exception, so the JVM is stopped and the work
    # directory removed on the way out
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, on_term)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ROOT / 'src' / 'main' / 'scala'}")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    # measurement-only engine switches must not leak into a run
    for k in ("SPARK_GRAFT_NO_WIDEN", "SPARK_GRAFT_CONF"):
        env.pop(k, None)
    build(env)

    work = WORK / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "scratch").mkdir()
    env["SPARK_GRAFT_LOCAL_DIR"] = str(work / "scratch")
    try:
        t0 = time.monotonic()
        records = run_jvm(args, env, work)
        attempted, failed = stats.op_counts(records)
        try:
            metrics = (stats.per_layer(records) if args.trace
                       else stats.end_to_end(records))
        except ValueError as e:
            fail(f"no metrics: {e}")
        units = stats.PER_LAYER_UNITS if args.trace else stats.END_TO_END_UNITS
        bad = [k for k in units if not stats.valid_name(k) or not math.isfinite(metrics[k])]
        if bad:
            fail(f"invalid metric name or value: {bad}")
        for line in report(args, records):
            print(line)
        print(f"  run wall {time.monotonic() - t0:.1f} s")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
