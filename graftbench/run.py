#!/usr/bin/env python3
"""graft's benchmark: one command per workload and seed.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first run builds graft and
the harness from source with sbt (graftbench/build.sbt); later runs reuse
the build while no source or build file has changed. The harness writes
every metric to .bench_build/graftbench/results/; the last line of
standard output is a summary with the end-to-end metrics (trace 0) or
the per-layer metrics (trace 1) named in BENCHMARK.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import oracle  # noqa: E402

BUILD = os.path.join(".bench_build", "graftbench")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# whatever the program and the harness are built from
SOURCES = ["build.sbt", "project/build.properties", "src/main", "graftbench/build.sbt",
           "graftbench/project/build.properties", "graftbench/src/main"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for s in SOURCES:
        paths = [s] if os.path.isfile(s) else sorted(
            p for p in glob.glob(os.path.join(s, "**", "*"), recursive=True) if os.path.isfile(p))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout, or when the
    benchmark itself is terminated, kill the group and wait for it, so no
    process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def kill_group():
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    def on_signal(signum, _frame):
        kill_group()
        sys.exit(128 + signum)

    previous = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill_group()
        return None
    finally:
        for s, h in previous.items():
            signal.signal(s, h)


def classpath():
    """Build if any source changed; the runtime classpath of the harness."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd="graftbench", stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def wrong_answers(res):
    """Wrong answers of the untraced phase and of the traced phase
    (trace 1), the untimed warm-up ops included."""
    problems = []
    for label, phase in (("", res), ("traced: ", res.get("traced", {}))):
        problems += [label + p for p in phase.get("ops", {}).get("wrong", [])]
        problems += [f"{label}warm-up: {p}" for p in phase.get("warmup_problems", [])]
    return problems


def spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    if not (os.path.isdir("src/main/scala/graft") and os.path.isfile("build.sbt")):
        fail("run from the root of a graft checkout (src/main/scala/graft and build.sbt not found)")
    bench = spec()
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}")
    cp = classpath()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    results = os.path.abspath(os.path.join(BUILD, "results"))
    os.makedirs(results, exist_ok=True)
    work = os.path.abspath(os.path.join(BUILD, f"work-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(results, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--out", out]
    try:
        t0 = time.monotonic()
        with open(os.path.join(results, tag + ".log"), "w") as log:
            rc = run_bounded(cmd, RUN_TIMEOUT_S, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        if not os.path.exists(out):
            fail(f"harness exited {rc} without results; see {results}/{tag}.log")
        with open(out) as f:
            res = json.load(f)
        problems = wrong_answers(res)
        if res.get("error"):
            problems.append(res["error"])
        if rc != 0:
            problems.append(f"harness exit code {rc}")
        res["harness_s"] = time.monotonic() - t0
        if res.get("oracle_dir"):
            t0 = time.monotonic()
            verdict = oracle.check_all(res["oracle_dir"], res["data_dir"])
            res["oracle_s"] = time.monotonic() - t0
            res["oracle"] = {q: {"ok": ok, "detail": d} for q, (ok, d) in verdict.items()}
            problems += [f"{q}: {d}" for q, (ok, d) in verdict.items() if not ok]
            if len(verdict) != res["ops"]["attempted"] // max(1, res["workload_metrics"]["passes"]):
                problems.append("oracle did not cover every query")
        res["problems"] = problems
        with open(out, "w") as f:
            json.dump(res, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if a.trace else "end_to_end"
    values = res.get("per_layer", {}) if a.trace else res.get("e2e", {})
    metrics = {}
    for m in bench[kind]:
        v = values.get(m["name"])
        if v is None and kind == "end_to_end":
            problems.append(f"metric {m['name']} not measured")
            continue
        metrics[m["name"]] = {"value": v if v is not None else 0.0, "unit": m["unit"]}
    for p in problems[:5]:
        print(f"graftbench: {p}"[:300])
    failed = res.get("ops", {}).get("error_classes", {})
    if failed:
        print("graftbench: failed ops: " + ", ".join(f"{k}={v}" for k, v in sorted(failed.items())))
    print(f"graftbench: full results in {out}")
    ops = res.get("ops", {})
    print(json.dumps({"correct": not problems, "attempted": int(ops.get("attempted", 0)) or 1,
                      "failed": int(ops.get("failed", 0)), "metrics": metrics},
                     separators=(",", ":")))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
