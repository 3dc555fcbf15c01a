#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from the repository's sources together with the
benchmark harness (sbt, offline; rebuilt only when a source changes), runs
the workload in one JVM, checks its outputs, prints every metric by name
with its unit, and prints as the last line one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end metrics, with `--trace 1` the per-layer ones.
The exit status is 0 only when every output check passed.

A traced run also writes its span file, the raw run record (ops, spans,
jobs, stages, plan metrics), to benchmark/work/<workload>-<seed>-spans.json.
`--gen-only` prints the input digest for the seed.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("etl_sync", "curate_serve")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-stamp.txt")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840

# JDK 17 module opens Spark needs outside spark-submit (the same list as
# the repository's build.sbt javaOptions).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(code)


def bounded(cmd, cwd, log, deadline):
    """Run `cmd` in its own process group with output to `log`; kill the
    whole group at the deadline or when it exits, and wait for it. Returns
    the exit code, or None on timeout."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def sources():
    """Every file the build reads, for the rebuild stamp."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "build.sbt")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, _, files in os.walk(r):
            out.extend(os.path.join(d, f) for f in files)
    return sorted(out)


def build(deadline):
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail(f"no program sources at {os.path.relpath(main_src)}; run from a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    cp = None
    for attempt in (1, 2):  # a second attempt rides out a transient sbt failure
        log = os.path.join(TARGET, f"build-{attempt}.log")
        rc = bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], HERE, log, deadline)
        if rc is None:
            fail(f"build timed out; see {os.path.relpath(log)}")
        with open(log) as fh:
            lines = [l.strip() for l in fh if l.strip()]
        cp = next((l for l in reversed(lines) if "classes" in l and os.pathsep in l), None)
        if rc == 0 and cp is not None:
            break
    if rc != 0 or cp is None:
        fail(f"build failed; see {os.path.relpath(log)}")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return cp


def jvm(cp, args, work, deadline, log):
    """One workload run in one JVM; temp files stay under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed heap and young generation keep peak RSS from following GC timing
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-cp", cp, "bench.Main"] + args
    return bounded(cmd, work, log, deadline)


def report(rec, trace):
    """(correct, attempted, failed, metrics) for a run record."""
    ops = metrics.counted_ops(rec)
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    checks_ok = all(c["ok"] for c in rec["checks"])
    if rec.get("failure"):
        failed = max(failed, 1)
        attempted = max(attempted, 1)
    correct = checks_ok and failed == 0 and not rec.get("failure") and attempted > 0
    values = metrics.per_layer(rec) if trace else metrics.end_to_end(rec)
    return correct, attempted, failed, values


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gen-only", action="store_true")
    a = ap.parse_args()

    start = time.time()
    built_before = os.path.exists(STAMP)
    cp = build(start + BUILD_LIMIT_S)
    limit = RUN_LIMIT_S if built_before else BUILD_LIMIT_S + 50
    deadline = start + limit

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    log = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}.log")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(work, "data"), "--out", out]
    if a.gen_only:
        args.append("--gen-only")
    try:
        rc = jvm(cp, args, work, deadline, log)
        if rc != 0 or not os.path.exists(out):
            why = "timed out" if rc is None else f"exited with {rc}"
            fail(f"workload run {why}; see {os.path.relpath(log)}", 1)
        with open(out) as fh:
            rec = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.gen_only:
        print(json.dumps(rec))
        return
    if a.trace:
        with open(os.path.join(HERE, "work", f"{a.workload}-{a.seed}-spans.json"), "w") as fh:
            json.dump(rec, fh)

    correct, attempted, failed, values = report(rec, a.trace == 1)
    for c in rec["checks"]:
        if not c["ok"]:
            print(f"check failed: {c['name']}: {c['detail']}")
    if rec.get("failure"):
        print(f"run failed: {rec['failure']}")
    print(f"# {a.workload} seed={a.seed} trace={a.trace} passes={len(rec['passes'])} "
          f"ops={attempted} failed={failed} gen_s={rec['gen_s']:.3f} "
          f"input_digest={rec['digest'][:16]}")
    for kind, xs in metrics.op_latencies(rec).items():
        print(f"# op {kind}: n={len(xs)} median={metrics.median(xs):.4f}s max={max(xs):.4f}s")
    for name, (value, unit) in values.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
