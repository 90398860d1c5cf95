#!/usr/bin/env python3
"""graft's benchmark: one command per run of one named, seeded workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles graft
(its own build, one directory up) and the harness in perfbench/ (sbt,
offline) and generates the input tables with graft.GenData; later runs
reuse both. The metric lines come first, one per metric with its unit;
the last line is a JSON object {correct, attempted, failed, metrics}.
With --trace 0 the JSON holds the end-to-end metrics, with --trace 1 the
per-layer ones.
See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# Runnable by name but not in BENCHMARK.json: one run takes about 90 s,
# too long for the benchmark's run budget (see README.md).
UNLISTED_WORKLOADS = ["loop_converge"]
DATA = os.path.join(HERE, ".data")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
# C1 only (-XX:TieredStopAtLevel=1): every pass loads 130-400 classes
# that Spark and graft generate anew, so with C2 the JIT compiled 3-5 s a
# pass even after ten passes, and when it ran relative to the driver and
# executor threads moved an operation's CPU time by up to 60% between
# passes of one run. C1 finishes compiling them inside the warm pass.
JVM_OPTS = [
    "-Xmx1536m", "-Xss4m", "-XX:TieredStopAtLevel=1", "-Dspark.ui.enabled=false",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                + os.path.expanduser("~/.sbt/repositories")
                + " -Dsbt.offline=true -Xmx2g",
}


def fail(msg, code=1):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def run_logged(cmd, cwd, log, timeout, env=None):
    with open(log, "wb") as f:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=f, stderr=subprocess.STDOUT,
                             env=dict(os.environ, **(env or {})))
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def sources_fingerprint():
    h = hashlib.sha1()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        for d, dirs, files in sorted(os.walk(base)) if os.path.isdir(base) else [("", [], [base])]:
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(d, name)
                st = os.stat(p)
                h.update(("%s %d %d\n" % (os.path.relpath(p, ROOT), st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def build(deadline):
    """Compiles graft + harness once per source state; returns the classpath."""
    stamp = os.path.join(TARGET, "perfbench.stamp")
    cp = os.path.join(TARGET, "classpath.txt")
    fp = sources_fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp and os.path.exists(cp):
        return open(cp).read().strip(), False
    code = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                      HERE, os.path.join(TARGET, "sbt.log"), deadline - time.time(), SBT_ENV)
    if code != 0:
        fail("build failed:\n" + tail(os.path.join(TARGET, "sbt.log")))
    with open(stamp, "w") as f:
        f.write(fp)
    return open(cp).read().strip(), True


def java(cp, args, log, timeout, cwd):
    return run_logged(["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(cwd, "tmp"),
                                             "-cp", cp, "perfbench.Main"] + args,
                      cwd, log, timeout)


def ensure_data(cp, deadline):
    """Generates the input tables once per checkout."""
    done = os.path.join(DATA, "done")
    if os.path.exists(done):
        return False
    shutil.rmtree(DATA, ignore_errors=True)
    gen = os.path.join(DATA, "gen")
    os.makedirs(os.path.join(gen, "tmp"))
    log = os.path.join(DATA, "gen.log")
    if java(cp, ["gen", DATA], log, deadline - time.time(), gen) != 0:
        fail("data generation failed:\n" + tail(log))
    shutil.rmtree(gen, ignore_errors=True)
    open(done, "w").close()
    return True


def load_pins():
    path = os.path.join(HERE, "pins.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)["queries"]


def check_digests(raw, pins, problems):
    for op in raw["warm"][0]["ops"]:
        d = op["extra"].get("digest")
        if d is None:
            continue
        pin = pins.get(op["name"])
        if pin is None:
            problems.append("%s: no pinned digest" % op["name"])
        elif pin != d:
            problems.append("%s: digest %s differs from the pin %s" % (op["name"], d, pin))


def write_pins(raw):
    path = os.path.join(HERE, "pins.json")
    doc = json.load(open(path)) if os.path.exists(path) else {"queries": {}}
    for op in raw["warm"][0]["ops"]:
        if "digest" in op["extra"]:
            doc["queries"][op["name"]] = op["extra"]["digest"]
    doc["queries"] = dict(sorted(doc["queries"].items()))
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in SPEC["workloads"]] + UNLISTED_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-pins", action="store_true",
                    help="record the first warm pass's query digests in pins.json")
    a = ap.parse_args()

    start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout", 2)
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "perfbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp, built = build(start + 600)
        generated = ensure_data(cp, start + 720)
    # The run itself gets 170 s, counted from the end of a build or data
    # generation when this invocation did one.
    run_deadline = (time.time() if built or generated else start) + 170

    work = os.path.join(WORK, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(WORK, "last-%s-trace%d.log" % (a.workload, a.trace))
    code = java(cp, ["run", a.workload, DATA, work, str(a.seed), repr(a.seconds), str(a.trace)],
                log, run_deadline - time.time(), work)
    raw_path = os.path.join(work, "raw.json")
    if code != 0 or not os.path.exists(raw_path):
        shutil.rmtree(work, ignore_errors=True)
        fail("run failed (exit %s):\n%s" % (code, tail(log)))
    raw = json.load(open(raw_path))
    shutil.copy(raw_path, os.path.join(WORK, "last-%s-trace%d.json" % (a.workload, a.trace)))
    shutil.rmtree(work, ignore_errors=True)

    if a.write_pins:
        write_pins(raw)
    problems = []
    check_digests(raw, load_pins(), problems)
    all_ops = [o for p in raw["warm"] + raw["passes"] for o in p["ops"]]
    for op in all_ops:
        problems += ["%s: %s" % (op["name"], x) for x in op["problems"]]
        if not op["ok"]:
            print("failed: %s: %s" % (op["name"], op["error"]), file=sys.stderr)
    problems += raw["final_problems"]
    attempted, failed = len(all_ops), sum(1 for o in all_ops if not o["ok"])

    e2e, extra = metrics.end_to_end(raw)
    extra["fail_ratio"] = (failed / attempted, "ratio")
    extra["wrong_results"] = (len(problems), "count")
    lines = dict(e2e, **extra)
    chosen = {m["name"]: e2e[m["name"]] for m in SPEC["end_to_end"]}
    if a.trace:
        layers, misses = metrics.traced_layers(raw)
        for x in misses:
            print("accounting miss: " + x, file=sys.stderr)
        chosen = {m["name"]: (layers[m["name"]], m["unit"]) for m in SPEC["per_layer"]}
        lines.update(chosen)
        lines["trace.accounting_misses"] = (len(misses), "count")
    for x in problems:
        print("wrong: " + x, file=sys.stderr)
    for name, (value, unit) in lines.items():
        print("%-34s %14.6f %s" % (name, value, unit))
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))


if __name__ == "__main__":
    main()
