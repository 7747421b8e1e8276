#!/usr/bin/env python3
"""Benchmark of the graft KG engine: one command, two workloads.

    python3 perfbench/run.py --workload kg_build|kg_query \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine from
src/main/scala together with the harness in perfbench/src (sbt, output under
.bench_build/); later runs reuse the build while the sources are unchanged.
The measured program then runs in one JVM at local[nproc]. The last line of
standard output is one JSON object: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1, each by the name and unit declared in
BENCHMARK.json. The exit code is 0 only when every operation succeeded and
every output matched its check.

    python3 perfbench/run.py --self-check

checks the benchmark itself: emitted metric names equal the declared ones,
pipeline stage times add up to no more than the operation's time, and
planted failures (a pipeline stopped after a stage, a query that throws)
are counted as failed operations.
"""
import argparse
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
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
EXPECTED = os.path.join(HERE, "expected_seed1.json")
DEFAULT_SEED = 1  # must equal perfbench.Main.DefaultSeed
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".properties"))]
    files.append(os.path.join(HERE, "build.sbt"))
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compile once per source state; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_JARS=jars)
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.offline" not in opts and os.path.exists(repos):
        opts += (f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
                 " -Dsbt.offline=true")
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false"
                       f" -Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                                cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed; see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fc:
        return fc.read().strip()


def run_once(cp, workload, seed, seconds, trace, plant=None, record=False):
    """One JVM run of the harness; returns its result dict."""
    work = os.path.join(BUILD, "work", workload)
    results = os.path.join(BUILD, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    out = os.path.join(results, f"{workload}-seed{seed}-trace{trace}-{stamp}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # C1 only: under the default tiered JIT the passes keep getting faster
    # for minutes, longer than a run can last, so timings would follow the
    # compiler's progress; C1 settles within a pass or two and compiles less
    cmd = ["java", "-Xmx3g", "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={tmp}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work, "--out", out,
            "--expected", EXPECTED]
    if plant:
        cmd += ["--plant", plant]
    if record:
        cmd += ["--record", "1"]
    log = os.path.join(results, os.path.basename(out)[:-5] + ".log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} run exceeded {RUN_TIMEOUT_S} s; see {log}", 3)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        fail(f"{workload} run ended with code {rc}; see {log}", 3)
    with open(out) as fh:
        res = json.load(fh)
    res["file"] = out
    return res


def untraced_walls(workload):
    """wall_s of earlier untraced runs of `workload` in this checkout."""
    d = os.path.join(BUILD, "results")
    walls = []
    for name in os.listdir(d):
        if name.startswith(workload + "-") and "-trace0-" in name and name.endswith(".json"):
            with open(os.path.join(d, name)) as fh:
                r = json.load(fh)
            if r.get("failed") == 0:
                walls.append(r["end_to_end"]["wall_s"])
    return walls


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def emit(spec, res, trace):
    kind = "per_layer" if trace else "end_to_end"
    got = dict(res[kind])
    names = [m["name"] for m in spec[kind]]
    # a layer this workload never reaches (another workload's pipeline stage
    # or query) reads 0; a metric missing from a layer it does reach is an error
    reached = {n.rsplit(".", 1)[0] for n in got}
    for n in names:
        if n not in got and n.rsplit(".", 1)[0] not in reached:
            got[n] = 0.0
    if set(got) != set(names):
        fail(f"emitted {kind} metrics differ from BENCHMARK.json: missing "
             f"{sorted(set(names) - set(got))}, undeclared {sorted(set(got) - set(names))}", 4)
    for line in res["report"]:
        print(line)
    for m in spec[kind]:
        print(f"  {m['name']:<40} {got[m['name']]:>14.6g} {m['unit']}")
    print(f"  operations attempted {res['attempted']}, failed {res['failed']}")
    return {"correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in spec[kind]}}


def self_check(cp, spec):
    problems = []
    res = run_once(cp, "kg_build", 2, 1, 0, plant="harvest")
    if res["failed"] < 1:
        problems.append("a pipeline stopped after stage harvest was not counted as failed")
    res = run_once(cp, "kg_query", 2, 1, 1, plant="query")
    if res["failed"] < 1:
        problems.append("a query that throws was not counted as failed")
    emit(spec, res, 1)
    for line in res["report"]:
        if "stage wall_s sum" in line:
            problems.append(line)
    for p in problems:
        print("SELF-CHECK FAILED:", p)
    print("self-check", "failed" if problems else "passed")
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["kg_build", "kg_query"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help=f"store this run's output digests as the expected ones for seed {DEFAULT_SEED}")
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}; "
             "run from a full checkout")
    spec = declared()
    cp = build(spark_jars())
    if a.self_check:
        sys.exit(self_check(cp, spec))
    if not a.workload:
        fail("--workload is required")
    if a.record and a.seed != DEFAULT_SEED:
        fail(f"--record stores digests for seed {DEFAULT_SEED} only")
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    res = run_once(cp, a.workload, a.seed, seconds, a.trace, record=a.record)
    if a.trace and a.workload == "kg_build":
        # one build per run: its tracing overhead is read against the
        # untraced builds measured earlier in this checkout
        walls = untraced_walls("kg_build")
        res["per_layer"]["trace_overhead_s"] = (
            res["end_to_end"]["wall_s"] - statistics.median(walls) if walls else 0.0)
        if not walls:
            res["report"].append("tracing overhead unknown: no untraced kg_build run in this checkout yet")
    line = emit(spec, res, a.trace)
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
