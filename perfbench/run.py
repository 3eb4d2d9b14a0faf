#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload commit --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Everything a run writes goes under
.bench_build/ in the checkout: the build stamp and log, a scratch directory
that is deleted when the run ends, and results/, which keeps each run's
artifact (clean JSON: every metric by name and unit, the samples, the
environment) and its trace spans.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1, as BENCHMARK.json lists them. Any error exits non-zero without
printing a result.
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

HEAP = "-Xmx3g"
# whole-run limits: the first run in a checkout also builds
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads, in a stable order."""
    fixed = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    out = [os.path.join(root, f) for f in fixed]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def digest(root):
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, out, stamp, limit):
    """Compiles engine + harness unless the stamp says the sources are unchanged."""
    target = os.path.join(root, "perfbench", "target")
    cp_file = os.path.join(target, "classpath.txt")
    opts_file = os.path.join(target, "jvm-options.txt")
    ready = all(os.path.exists(p) for p in (stamp, cp_file, opts_file))
    if ready and open(stamp).read() == digest(root):
        return cp_file, opts_file
    env = dict(os.environ)
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        try:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "perfbench/benchLaunch"],
                cwd=os.path.join(root, "perfbench"), stdout=f, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, env=env, timeout=limit).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (log: {log})", 3)
    with open(stamp, "w") as f:
        f.write(digest(root))
    return cp_file, opts_file


def git_sha(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def launch(cmd, cwd, log, limit):
    """Runs the JVM in its own process group; returns (exit code, peak RSS in MB)."""
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            os.wait4(p.pid, 0)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        deadline = time.monotonic() + limit
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, usage.ru_maxrss / 1024.0
            if time.monotonic() > deadline:
                os.killpg(p.pid, signal.SIGKILL)
                os.wait4(p.pid, 0)
                return -1, 0.0
            time.sleep(0.05)


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    root = os.getcwd()
    contract_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(contract_path):
        fail("BENCHMARK.json not found: run from the root of the checkout")
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: the engine's sources are not in this checkout")
    with open(contract_path) as f:
        contract = json.load(f)
    names = [w["name"] for w in contract["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload!r} (one of {', '.join(names)})")

    out = os.path.join(root, ".bench_build")
    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    first = not os.path.exists(os.path.join(out, "ran-once"))
    budget = (FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S) + t_start
    cp_file, opts_file = build(root, out, os.path.join(out, "build.stamp"),
                               budget - 60 - time.monotonic())

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(out, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    artifact = os.path.join(work, "artifact.json")
    with open(opts_file) as f:
        opts = [l.strip() for l in f if l.strip()]
    cmd = (["java", HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"] + opts +
           ["-cp", open(cp_file).read().strip(), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", artifact])
    log = os.path.join(results, tag + ".log")
    try:
        rc, rss_mb = launch(cmd, work, log, budget - time.monotonic())
        if rc != 0 or not os.path.exists(artifact):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark process exited with {rc} (log: {log})", 4)
        with open(artifact) as f:
            art = json.load(f)
        if a.trace == 0:
            art["metrics"]["rss_peak_mb"] = {"value": rss_mb, "unit": "MB"}
        art["env"]["git_sha"] = git_sha(root)
        art["env"]["source_sha256"] = open(os.path.join(out, "build.stamp")).read()
        art["env"]["heap_flag"] = HEAP
        key = "end_to_end" if a.trace == 0 else "per_layer"
        want = {m["name"]: m["unit"] for m in contract[key]}
        got = {k: v["unit"] for k, v in art["metrics"].items()}
        if got != want:
            fail(f"metrics {sorted(got.items())} differ from BENCHMARK.json {key} "
                 f"{sorted(want.items())}", 5)
        with open(os.path.join(results, tag + ".json"), "w") as f:
            json.dump(art, f, indent=1)
        spans = artifact + ".spans.jsonl"
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(results, tag + ".spans.jsonl"))
        open(os.path.join(out, "ran-once"), "w").close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for msg in art.get("failures", []):
        print(f"failed: {msg}", file=sys.stderr)
    print(json.dumps({"correct": art["correct"], "attempted": art["attempted"],
                      "failed": art["failed"], "metrics": art["metrics"]}))


if __name__ == "__main__":
    main()
