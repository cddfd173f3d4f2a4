#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload daily_rollup --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 20      # every workload, one table
    python3 perfbench/run.py --self-test                      # a corrupted golden is caught

The first call builds the engine and the benchmark with sbt (about a
minute); later calls reuse the build while no source file changed. Each
run starts one JVM, prints its progress lines and, as the LAST line of
standard output, one JSON object:
{"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value": .., "unit": ..}}}.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ["daily_rollup", "dedup_corpus", "refresh_churn"]
RUN_TIMEOUT_S = 170  # a run must end within 180 s
BUILD_TIMEOUT_S = 600  # the first run, build included, within 900 s
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    out += ["perfbench/build.sbt", "perfbench/project/build.properties"]
    return sorted(out)


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    for need in ("src/main/scala/graft", "perfbench/build.sbt", "perfbench/src"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"missing {need}: run from the root of a full checkout of the engine")
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    log("building engine + benchmark with sbt ...")
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false").strip()
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail(f"sbt build exceeded {BUILD_TIMEOUT_S} s")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"sbt build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def run_jvm(cp, jargs, timeout=RUN_TIMEOUT_S):
    """Run perfbench.Main in a fresh temp root; return (exit code, stdout lines)."""
    tmp_parent = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp_parent, exist_ok=True)
    tmp = os.path.join(tmp_parent, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *opens, "-cp", cp, "perfbench.Main",
           "--checkout", ROOT, "--tmp", tmp, *jargs]
    out = []
    # Spark would put its scratch space under SPARK_LOCAL_DIRS, outside the temp root
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    old = {s: signal.signal(s, lambda *a: (kill(), sys.exit(130))) for s in (signal.SIGTERM, signal.SIGINT)}
    timer_deadline = time.time() + timeout
    try:
        t = threading.Timer(timeout, kill)
        t.daemon = True
        t.start()
        for line in proc.stdout:
            line = line.rstrip("\n")
            out.append(line)
            if not line.startswith("{"):
                print(line, file=sys.stderr, flush=True)
        proc.wait()
        t.cancel()
    finally:
        kill()
        proc.wait()
        for s, h in old.items():
            signal.signal(s, h)
        shutil.rmtree(tmp, ignore_errors=True)
    if time.time() > timer_deadline:
        log(f"run exceeded {timeout} s and was stopped")
        return 124, out
    return proc.returncode, out


def git_state():
    if not os.path.isdir(os.path.join(ROOT, ".git")) or not shutil.which("git"):
        return {"git_head": None, "git_dirty": None}
    def git(*a):
        return subprocess.run(["git", *a], cwd=ROOT, capture_output=True, text=True).stdout.strip()
    dirty = bool(git("status", "--porcelain", "--", "src", "build.sbt", "perfbench"))
    return {"git_head": git("rev-parse", "HEAD") or None, "git_dirty": dirty}


def result_of(lines):
    """The result object of a run: its last stdout line, validated."""
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return r


def info_of(lines):
    for l in lines:
        if l.startswith("[perfbench] info "):
            return json.loads(l[len("[perfbench] info "):])
    return {}


def one(cp, a):
    jargs = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace)]
    if a.trace:
        spans = a.spans or os.path.join(ROOT, ".bench_build", "spans",
                                        f"{a.workload}-seed{a.seed}.jsonl")
        jargs += ["--spans", os.path.abspath(spans)]
    code, lines = run_jvm(cp, jargs)
    r = result_of(lines)
    if code != 0 or r is None:
        fail(f"benchmark run failed (exit {code})", 1)
    print("[perfbench] run " + json.dumps({**info_of(lines), **git_state()}))
    print(json.dumps(r))
    return 0


E2E = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("op_p90_s", "s"),
       ("ok_ratio", "ratio"), ("heap_live_mb", "MB")]
CHURN_E2E = [("commit_p50_s", "s"), ("refresh_p50_s", "s"), ("read_p50_s", "s"),
             ("write_amp", "ratio"), ("space_amp", "ratio")]


def all_workloads(cp, a):
    """Every workload untraced, then traced: one row per workload."""
    rows, ok = [], True
    for w in WORKLOADS:
        res = {}
        for trace in (0, 1):
            jargs = ["--workload", w, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(trace)]
            if trace:
                jargs += ["--spans", os.path.join(ROOT, ".bench_build", "spans", f"{w}-seed{a.seed}.jsonl")]
            code, lines = run_jvm(cp, jargs)
            r = result_of(lines)
            if code != 0 or r is None:
                log(f"{w} trace={trace}: run failed (exit {code})")
                ok = False
                r = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
            res[trace] = (r, info_of(lines))
            ok = ok and r["correct"]
        rows.append((w, res))
    print(json.dumps({"run_env": git_state()}))
    head = ["workload"] + [f"{n}[{u}]" for n, u in E2E + CHURN_E2E] + ["trace_overhead_s", "correct"]
    print("\t".join(head))
    for w, res in rows:
        (r0, i0), (r1, _) = res[0], res[1]
        m0, m1 = r0["metrics"], r1["metrics"]
        cells = [w]
        cells += [f"{m0[n]['value']:.4g}" if n in m0 else "-" for n, _ in E2E]
        cells += [f"{i0[n]:.4g}" if n in i0 else "-" for n, _ in CHURN_E2E]
        if "pass_s" in m0 and "trace.pass_s" in m1:
            cells.append(f"{m1['trace.pass_s']['value'] - m0['pass_s']['value']:.4g}")
        else:
            cells.append("-")
        cells.append(str(r0["correct"] and r1["correct"]))
        print("\t".join(cells))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--spans", help="span file of a traced run (default .bench_build/spans/)")
    ap.add_argument("--all", action="store_true", help="run every workload, print one row each")
    ap.add_argument("--self-test", action="store_true", help="check that a corrupted golden is caught")
    ap.add_argument("--record-golden", action="store_true",
                    help="rewrite perfbench/golden.tsv from the current engine")
    ap.add_argument("--verify-dump", help="with --record-golden: a graft.Verify dump of the fixture to cross-check")
    ap.add_argument("--dump-fixture", metavar="DIR", help="write the query workloads' input tables to DIR")
    a = ap.parse_args()
    if not (a.all or a.self_test or a.record_golden or a.dump_fixture or a.workload):
        ap.error("give --workload, --all, --self-test, --record-golden or --dump-fixture")
    cp = build()
    if a.all:
        return all_workloads(cp, a)
    if a.self_test:
        return run_jvm(cp, ["--mode", "self-test"])[0]
    if a.record_golden:
        extra = ["--out", os.path.abspath(a.verify_dump)] if a.verify_dump else []
        return run_jvm(cp, ["--mode", "record-golden", *extra], timeout=900)[0]
    if a.dump_fixture:
        return run_jvm(cp, ["--mode", "dump-fixture", "--out", os.path.abspath(a.dump_fixture)])[0]
    return one(cp, a)


if __name__ == "__main__":
    sys.exit(main())
