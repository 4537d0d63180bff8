#!/usr/bin/env python3
"""graft's benchmark: one command runs one workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine and the harness
from source (sbt, once per source state), runs the workload in a fresh JVM
over the sf0.01 test corpus in perfbench/data, checks every output, and
prints one JSON object as its last line: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1` (a traced JVM after an
untraced one at the same seed). Failed operations are listed, with their cause,
on the lines before it. See perfbench/README.md for the workloads, the
metric definitions and the predicted interactions between layers.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# the repository's sf0.01 test corpus, the same for every seed
CORPUS = os.path.join(HERE, "data", "sf0.01")
# every JVM of a run must end this long after the build is done
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "build.sbt")]
    for top in ("project", "src/main", "perfbench/harness"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            # sbt's own output: target/ anywhere, project/project/
            dirs[:] = sorted(x for x in dirs if x != "target" and not (
                x == "project" and os.path.basename(d) == "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(p[len(root):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile engine + harness with sbt; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("no engine sources here (build.sbt, src/main/scala); "
             "run from the root of a graft checkout")
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.json")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp and all(
                os.path.exists(p) for p in cached["classpath"].split(os.pathsep)):
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "-J-XX:-UsePerfData", "compile", "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def dir_size(path):
    files, size = 0, 0
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            if os.path.isfile(p) and not os.path.islink(p):
                files += 1
                size += os.path.getsize(p)
    return files, size


def run_jvm(classpath, w, args, trace, run_dir, deadline):
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Harness",
            "--kind", w["kind"], "--corpus", CORPUS, "--run-dir", run_dir,
            "--seconds", str(args.seconds), "--seed", str(args.seed),
            "--trace", str(trace), "--deadline-ms", str(w["deadline_ms"]),
            "--out", out, "--keys", ",".join(w.get("keys", [])),
            "--rate", str(w.get("rate", 0)), "--conns", str(w.get("conns", 1))]
    env = dict(os.environ)
    env.update(SPARK_GRAFT_PAIR_STORE=os.path.join(run_dir, "pairs"),
               SPARK_GRAFT_STREAM_SCRATCH=os.path.join(run_dir, "stream"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                            stdout=log, stderr=subprocess.STDOUT)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the run did not finish within {RUN_TIMEOUT_S} s")
    finally:
        log.close()
    if not os.path.isfile(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited {code} without a result")
    with open(out) as f:
        res = json.load(f)
    if res.get("fatal"):
        fail(f"run aborted: {res['fatal']}")
    return res


def run_once(classpath, w, args, trace, build_dir, deadline):
    """One fresh JVM over the workload, its outputs checked; returns the run
    record and the (files, bytes) each scratch location held at the end."""
    run_dir = os.path.join(build_dir, "runs",
                           f"{args.workload}-{args.seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_jvm(classpath, w, args, trace, run_dir, deadline)
        if w["kind"] == "batch":
            oracle.check_batch(res, res["ops"], run_dir, CORPUS,
                               os.path.join(build_dir, "oracle"))
        artifacts = {k: dir_size(os.path.join(run_dir, k))
                     for k in ("tmp", "pairs", "warehouse", "stream")}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return res, artifacts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    classpath = build(root, build_dir)
    w = WORKLOADS[args.workload]
    deadline = time.monotonic() + RUN_TIMEOUT_S
    # a traced run is preceded by an untraced one at the same seed, so the
    # difference of their warm times prices the tracing
    res, artifacts = run_once(classpath, w, args, 0, build_dir, deadline)
    runs = [res]
    metrics = stats.end_to_end(res)
    if args.trace:
        res, artifacts = run_once(classpath, w, args, 1, build_dir, deadline)
        runs.append(res)
        metrics, spans = stats.per_layer(res, artifacts, metrics["warm_s"]["value"])
        os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
        with open(os.path.join(build_dir, "traces",
                               f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": spans}, f)
    ops = [op for r in runs for op in r["ops"]]
    failed = [op for op in ops if not op["ok"]]
    for op in failed:
        print(f"FAILED {op['id']}: {op['cause']}")
    correct = not any(op.get("check_failed") for op in ops)
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
