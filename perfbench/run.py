#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

Usage (from the root of the repository):
    python3 perfbench/run.py --workload fanout_bulk --seed 1 --seconds 10 --trace 0

It builds the program and the harness with sbt when their sources changed,
generates the workload's inputs from --seed, runs the harness JVM on
local[4], checks every job's output and prints, as the last line of
standard output, one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Everything it writes stays under perfbench/.work/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import checks  # noqa: E402

WORKLOADS = ("fanout_bulk", "pipeline_run")
TRACED_PATHS = WORKLOADS + ("query_leaves",)
SETUP_REPS = 3
# jobs run before measuring: the JIT keeps speeding jobs up for a while,
# longest for the driver-heavy Pipeline.run
WARMUP_JOBS = {"fanout_bulk": 3, "pipeline_run": 4}
DEADLINE_S = 172  # the whole run, build excluded, must end within 180 s
BUILD_TIMEOUT_S = 850
JVM_OPTS = [
    "-Xmx3g",
    "-XX:-UsePerfData",  # no hsperfdata files outside the checkout
    "-Dspark.ui.enabled=false",
    # what spark-submit adds on JDK 17
    *[a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                  "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar")
      for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads, plus the checkout's location
    (the classpath holds absolute paths)."""
    h = hashlib.sha256(ROOT.encode())
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The harness classpath, rebuilt with sbt when a source changed."""
    os.makedirs(WORK, exist_ok=True)
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log = os.path.join(WORK, "build.log")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                             "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
                            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip() and not ln.startswith("[")]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}), see {log}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def tree_hash(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, input_dir, reps):
    """Generates the inputs `reps` times, checking they come out identical;
    returns the seconds of each generation."""
    times, hashes = [], set()
    for _ in range(reps):
        shutil.rmtree(input_dir, ignore_errors=True)
        t0 = time.perf_counter()
        gen.write(workload, seed, input_dir)
        times.append(time.perf_counter() - t0)
        hashes.add(tree_hash(input_dir))
    if len(hashes) != 1:
        fail("the generator is not deterministic")
    return times


def plan_path(name, seed, input_dir):
    """The harness plan of one path: its inputs and LimitRule volumes."""
    search, fallback = gen.limit_bytes(name, gen.events(name, seed))
    return {"name": name, "input": input_dir, "search": search, "fallback": fallback,
            "mult": gen.PROFILES[name]["mult"]}


def write_plan(run_dir, paths, **settings):
    plan_file = os.path.join(run_dir, "plan.json")
    with open(plan_file, "w") as f:
        json.dump({**settings, "src": os.path.join(ROOT, "src", "main", "scala", "graft"),
                   "paths": paths}, f)
    return plan_file


def run_jvm(cp, args, log, timeout):
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.access(java, os.X_OK):
        java = "java"
    with open(log, "w") as out:
        p = subprocess.Popen([java, *JVM_OPTS, f"-Djava.io.tmpdir={os.path.dirname(log)}/tmp",
                              "-cp", cp, "perfbench.Main", *args],
                             cwd=os.path.dirname(log), stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out after {timeout:.0f} s, see {log}")
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited {rc}:\n{tail}")


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources are not here; run from the root of a checkout")
    cp = classpath()
    started = time.perf_counter()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        result = measure(a, cp, run_dir, started)
    finally:
        log = os.path.join(run_dir, "harness.log")
        if os.path.exists(log):
            shutil.copy(log, os.path.join(WORK, "harness.log"))
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def measure(a, cp, run_dir, started):
    """Generates the inputs under `run_dir`, runs the harness and checks the
    outputs; returns the result object."""
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # traced, every path is measured layer by layer on this seed's inputs
    paths = TRACED_PATHS if a.trace else (a.workload,)
    plan, gen_s = [], []
    for name in paths:
        input_dir = os.path.join(run_dir, "input", name)
        gen_s = generate(name, a.seed, input_dir, 1 if a.trace else SETUP_REPS)
        plan.append(plan_path(name, a.seed, input_dir))
    plan_file = write_plan(run_dir, plan, trace=a.trace, seconds=a.seconds,
                           setup_reps=SETUP_REPS, warmup_jobs=WARMUP_JOBS[a.workload])
    log = os.path.join(run_dir, "harness.log")
    run_jvm(cp, [plan_file], log, DEADLINE_S - (time.perf_counter() - started))
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)

    checked = []
    for name, r in res["paths"].items():
        check = checks.checker(name, r["spec"], os.path.join(run_dir, "input", name))
        for j in r["warm_up"] + r["jobs"]:
            j["mismatches"], j["files"], j["bytes"], j["routed_rows"] = (
                ([j["error"]], 0, 0, 0) if j["error"] else check.check(j["out"]))
        checked += r["warm_up"] + r["jobs"]
    bad = [j for j in checked if j["mismatches"]]
    for m in (m for j in bad for m in j["mismatches"]):
        print(f"mismatch: {m}", file=sys.stderr)

    if a.trace:
        layers = {k: v for r in res["paths"].values() for k, v in r["layers"].items()}
        metrics = {k: metric(v, unit_of(k)) for k, v in sorted(layers.items())}
        shutil.copy(os.path.join(run_dir, "trace.json"),
                    os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json"))
    else:
        r = res["paths"][a.workload]
        # time the correct jobs; if none was correct, the ones that finished
        good = ([j for j in r["jobs"] if j not in bad]
                or [j for j in r["jobs"] if j["wall_s"] is not None])
        if not good:
            fail("no job finished")
        metrics = end_to_end(r, gen_s, good)
        print(f"set-up {['%.2f' % (g + s) for g, s in zip(gen_s, r['setup_s'])]} s; warm-up "
              f"{['%.2f' % j['wall_s'] for j in r['warm_up']]} s; jobs "
              f"{['%.2f' % j['wall_s'] for j in good]} s", file=sys.stderr)
    print(f"failed_ratio {len(bad) / len(checked):.4f} ({len(bad)} of {len(checked)} jobs)")
    return {"correct": not bad, "attempted": len(checked), "failed": len(bad), "metrics": metrics}


def end_to_end(r, gen_s, good):
    """The end-to-end metrics of one workload's result `r`, given the
    generation times and the jobs to time. Set-up is the median repetition
    of generation and session start, plus the first (cold) job."""
    med = lambda k: statistics.median(j[k] for j in good)  # noqa: E731
    setup = (statistics.median(g + s for g, s in zip(gen_s, r["setup_s"]))
             + r["warm_up"][0]["wall_s"])
    return {
        "setup_s": metric(setup, "s"),
        "job_s": metric(med("wall_s"), "s"),
        "routed_turns_per_s": metric(statistics.median(
            j["routed_rows"] / j["wall_s"] for j in good), "1/s"),
        "job_cpu_s": metric(med("cpu_s"), "s"),
        "sink_files": metric(med("files"), "count"),
        "sink_bytes": metric(med("bytes"), "bytes"),
    }


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio") or name.endswith("_skew"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
