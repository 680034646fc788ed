#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the benchmark package (perfbench/,
which compiles ../src/main/scala with it) once per source state, then starts
one JVM directly -- no sbt in the timed path -- for the workload, checks the
outputs that are checked outside the JVM (query_mix's DuckDB oracles), and
prints one JSON result line as the last line of stdout. Workloads:
cdc_replicate, corpus_chain, query_mix (see perfbench/README.md). The build
also has graft.tools.GenData write query_mix's fixture, once per source state.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
FIXTURE = os.path.join(BUILD, "fixture")
# query_mix's fixture: GenData's tables at this multiple of sf0.1's row counts
FIXTURE_MULT = "0.1"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.isdir(r):
            fail(f"missing source directory {os.path.relpath(r, ROOT)}")
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile and write the fixture once per source state; returns the
    runtime classpath."""
    stamp_f = os.path.join(BUILD, "stamp")
    cp_f = os.path.join(BUILD, "classpath")
    want = digest()
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as f:
            if f.read() == want:
                with open(cp_f) as g:
                    return g.read().strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (log: {os.path.relpath(log, ROOT)})")
    cp = lines[-1]
    tmp = FIXTURE + ".tmp"
    with open(os.path.join(BUILD, "fixture.log"), "w") as out:
        r = subprocess.run(java(cp, "graft.tools.GenData", [tmp, FIXTURE_MULT], BUILD),
                           cwd=BUILD, env=jvm_env(BUILD), stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=300)
    if r.returncode != 0:
        fail("fixture generation failed (log: "
             f"{os.path.relpath(os.path.join(BUILD, 'fixture.log'), ROOT)})")
    os.replace(tmp, FIXTURE)
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(want)
    return cp


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def java(cp, main_class, argv, cwd):
    """The JVM command line; temporary files go under `cwd`."""
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
             "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={tmp}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, main_class] + argv)


def jvm_env(cwd):
    return dict(os.environ, SPARK_GRAFT_CPUS=str(cores()),
                SPARK_LOCAL_DIRS=os.path.join(cwd, "tmp"))


def run_jvm(cp, args, work):
    cmd = java(cp, "perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--cores", str(cores()), "--fixture", FIXTURE], work)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=jvm_env(work),
                             stdin=subprocess.DEVNULL, text=True, cwd=work)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{args.workload} did not finish in {JVM_TIMEOUT_S} s")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    results = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not results:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{args.workload} exited with {p.returncode} and no result")
    return json.loads(results[-1][len("PERFBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_f = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_f):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_f) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    listed = spec["per_layer" if args.trace else "end_to_end"]

    cp = build()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, work)
        if args.workload == "query_mix":
            import oracle
            bad = oracle.check(work, res.pop("oracle"))
            res["failed"] = min(res["attempted"], res["failed"] + bad)
            res["correct"] = res["correct"] and bad == 0
        if args.trace:
            out = os.path.join(HERE, ".out")
            os.makedirs(out, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(out, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    if set(got) != {m["name"] for m in listed}:
        fail(f"metrics {sorted(set(got) ^ {m['name'] for m in listed})} "
             "differ from BENCHMARK.json", 3)
    line = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                        for m in listed}}
    if args.trace:
        with open(os.path.join(HERE, ".out", f"layers-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(line, f)
    print(json.dumps(line), flush=True)


def on_signal(signum, _frame):
    # turn a termination request into an exception, so the JVM is stopped
    # and waited for on the way out
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, on_signal)
    main()
