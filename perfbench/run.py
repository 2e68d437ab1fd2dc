#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload serve_local --seed 1 --seconds 3 --trace 0

Run from the root of a checkout of the repository. The first run builds
the library and the benchmark with sbt (`perfbench/build.sbt`); later
runs reuse the build until a source file changes. The JVM then runs
`perfbench.Main` on `local[4]`. Every metric is printed by name with its
unit, and the last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics (any per-layer metric a workload does not exercise reads 0).
The exit code is 0 when every output check passed, 1 when a check
failed, and 2 when the program could not be built or run (then no
result line is printed). Build output, logs, full results and spans go
to `.bench_build/` in the checkout.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
# a fixed-size heap: no resizing pauses while the heap grows
HEAP = ["-Xms2g", "-Xmx2g"]
# the library's build adds these to its JVM flags; the build runs without
# them, so every run uses one fixed set of flags
BUILD_ENV_DROP = ("EXTRA_JVM_OPTS", "SPARK_DRIVER_MEM")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    out = []
    for base in ("src/main", "project/build.properties", "build.sbt",
                 "perfbench/src/main", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        path = os.path.join(ROOT, base)
        if os.path.isfile(path):
            out.append(path)
        for d, dirs, files in os.walk(path):
            dirs.sort()
            out.extend(os.path.join(d, f) for f in sorted(files))
    return out


def source_digest():
    h = hashlib.sha256()
    for path in sources():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(digest):
    """Build once per source digest; return (classpath, jvm options)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(WORK, "build.stamp")
    fresh = (os.path.isfile(launch) and os.path.isfile(stamp)
             and open(stamp).read() == digest)
    if not fresh:
        sbt = shutil.which("sbt")
        if sbt is None:
            fail("sbt is not on PATH")
        log("building the library and the benchmark (first run) ...")
        t0 = time.time()
        env = {k: v for k, v in os.environ.items() if k not in BUILD_ENV_DROP}
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, "build.log"), "w") as out:
            try:
                rc = subprocess.run(
                    [sbt, "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                    cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                fail(f"build timed out after {BUILD_TIMEOUT_S}s; see .bench_build/build.log")
        if rc != 0 or not os.path.isfile(launch):
            fail("build failed; see .bench_build/build.log")
        with open(stamp, "w") as f:
            f.write(digest)
        log(f"built in {time.time() - t0:.1f}s")
    lines = [x for x in open(launch).read().splitlines() if x]
    classpath, opts = lines[0], lines[1:]
    # one fixed heap for every run, whatever the environment asks of sbt
    opts = [o for o in opts if not o.startswith(("-Xmx", "-Xms"))] + HEAP
    return classpath, opts


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def assemble(result, spec, trace):
    """The contract's metric set, from the program's full result."""
    kind = "per_layer" if trace else "end_to_end"
    measured = result[kind]
    wanted = {m["name"]: m["unit"] for m in spec[kind]}
    problems = []
    unknown = sorted(set(measured) - set(wanted))
    if unknown:
        problems.append(f"metrics missing from BENCHMARK.json: {unknown}")
    if trace:
        absent = sorted(set(result["owns"]) - set(measured))
        if absent:
            problems.append(f"per-layer metrics not measured: {absent}")
    else:
        absent = sorted(set(wanted) - set(measured))
        if absent:
            problems.append(f"end-to-end metrics not measured: {absent}")
    metrics = {}
    for name, unit in wanted.items():
        m = measured.get(name)
        if m is not None and m["unit"] != unit:
            problems.append(f"{name}: unit {m['unit']} != {unit}")
        # a layer the workload does not exercise did no work
        value = m["value"] if m is not None else 0.0
        metrics[name] = {"value": value, "unit": unit}
    return metrics, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    listed = [w["name"] for w in spec["workloads"]]
    if args.workload not in listed:
        fail(f"unknown workload {args.workload}")
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")

    digest = source_digest()
    classpath, opts = build(digest)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(WORK, "results", tag + ".json")
    spans = os.path.join(WORK, "spans", tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    cmd = [java] + opts + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
                           "perfbench.Main", "--workload", args.workload,
                           "--seed", str(args.seed),
                           "--seconds", str(args.seconds),
                           "--trace", str(args.trace), "--out", out,
                           "--spans", spans, "--work", WORK,
                           "--data", os.path.join(HERE, "data")]
    t0 = time.time()
    with open(os.path.join(WORK, "logs", tag + ".log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run timed out after {RUN_TIMEOUT_S}s; see .bench_build/logs/{tag}.log")
    if rc != 0 or not os.path.isfile(out):
        fail(f"run failed (exit {rc}); see .bench_build/logs/{tag}.log")
    result = json.load(open(out))
    metrics, problems = assemble(result, spec, args.trace)
    failed = result["failed"] + (1 if problems else 0)
    attempted = result["attempted"] + (1 if problems else 0)
    result["provenance"].update({
        "git_sha": git_sha(), "source_sha256": digest, "seed": args.seed,
        "workload": args.workload, "seconds": args.seconds,
        "trace": args.trace, "host": platform.node(),
        "python": platform.python_version(), "process_s": time.time() - t0})
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)

    for msg in result["failures"] + problems:
        log(f"CHECK FAILED: {msg}")
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"shape={json.dumps(result['shape'], sort_keys=True)}")
    print(f"# provenance={json.dumps(result['provenance'], sort_keys=True)}")
    for name, m in metrics.items():
        print(f"{name:48s} {m['value']:>16.6f} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
