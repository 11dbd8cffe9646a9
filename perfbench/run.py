#!/usr/bin/env python3
"""Workload benchmark for the graft ELT engine.

    python3 perfbench/run.py --workload api_sync --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine together
with the benchmark program (sbt, offline) into perfbench/target; later runs
reuse the build while no source is newer than it. Each run starts one JVM
that sets up the workload (three times; set-up time is the median), runs
its closed loop for --seconds, checks the outputs and deletes its files.
With --trace 1 the run also repeats the window with a Spark listener and
benchmark spans installed, and reports per-layer metrics instead.

Full results go to .bench_build/results/<workload>-seed<n>-trace<t>.json;
stdout ends with a few summary lines and the result object on the last line.
"""

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("api_sync", "bulk_fanout", "corpus_index")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime(root):
    paths = glob.glob(os.path.join(root, "src/main/**/*"), recursive=True)
    paths += glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
    paths += [os.path.join(HERE, "build.sbt")]
    return max(os.path.getmtime(p) for p in paths if os.path.isfile(p))


def build(root, build_dir):
    """Compiles the engine and the benchmark program; returns the runtime classpath."""
    stamp = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_source_mtime(root):
        with open(stamp) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log_path = os.path.join(build_dir, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
            text=True, timeout=840)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if "perfbench" in l and os.pathsep in l
             and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed, see {log_path}", 3)
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def run_jvm(classpath, args, work, build_dir):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    raw_path = os.path.join(work, "raw.json")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--out", raw_path, "--work", os.path.join(work, "run")]
    log_path = os.path.join(build_dir, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run timed out after {RUN_TIMEOUT_S}s, see {log_path}", 4)
    if code != 0 or not os.path.exists(raw_path):
        fail(f"benchmark JVM exited with {code}, see {log_path}", 5)
    with open(raw_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to the benchmark", 2)
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)

    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.time()
    try:
        raw = run_jvm(classpath, args, work, build_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, samples, tails, walls = metrics.end_to_end(raw, window=0)
    attempted, failed = metrics.outcome(raw)
    full = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "wall_s": time.time() - t0, "attempted": attempted,
            "failed": failed, "error_rate": failed / attempted, "end_to_end": e2e,
            "samples": samples, "tails": tails, "op_ms": walls, "session_s": raw["session_s"],
            "setup_reps_s": raw["setup_reps_s"], "warmup_s": raw["warmup_s"],
            "peak_rss_mb": raw["peak_rss_mb"], "checks": raw["checks"],
            "failed_ops": [o for o in raw["ops"] if not o["ok"]][:20]}
    if args.trace:
        layer, detail = metrics.per_layer(raw)
        full["per_layer"] = layer
        full["layer_detail"] = detail
        reported = {k: {"value": layer[k], "unit": metrics.layer_unit(k)}
                    for k in metrics.REPORTED_PER_LAYER}
    else:
        reported = {k: {"value": v, "unit": metrics.E2E_UNITS[k]} for k, v in e2e.items()}
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    out_path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1)

    # compact summary: short lines, the result object last
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"attempted={attempted} failed={failed} samples={samples} results={os.path.relpath(out_path, root)}")
    for c in raw["checks"]:
        if not c["ok"]:
            print(f"check failed: {c['name']}: {c['detail']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": reported}, separators=(",", ":")))


if __name__ == "__main__":
    main()
