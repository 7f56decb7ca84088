#!/usr/bin/env python3
"""Benchmark of the graft engine: builds the engine and the harness from
source, runs one workload in one JVM and prints one JSON result line.

    python3 perfbench/run.py --workload registry_sf001 --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selfcheck           # the benchmark's own test
    python3 perfbench/run.py --record --workload heavy_x10 [--scale sf0.01]
    python3 perfbench/run.py --probe-tiers <sf0.1 dir> [--seconds 2400]

Run it from the root of a checkout. Build output, fixtures and per-run
details go to $CARGO_TARGET_DIR (default .bench_build) in the checkout.
See perfbench/README.md for the workloads and metrics.
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
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
WORKLOADS = ("registry_sf001", "heavy_x10", "dml_mix")
RUN_LIMIT_S = 170
# the op whose expected answer the self-check replaces with a wrong one
WRONG = {"registry_sf001": "q9_having", "heavy_x10": "q1_agg", "dml_mix": "read"}

# the module openings Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars under {home}")
    return jars


def sources():
    out = []
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile engine + harness once per source digest; returns classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    r = subprocess.run([java(), "-Xss8m", "-Xmx3g", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", cp, "@" + argfile])
    if r.returncode != 0:
        fail("compilation failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def heap_gb():
    """The Tier-1 driver heap: min(8, RAM/2) GiB, at least 2."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(8, kb // 2097152))


def git_head():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def jvm_cmd(classes, jars, work, main):
    return [java(), f"-Xmx{heap_gb()}g", *ADD_OPENS,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.callstack.depth=100",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", os.pathsep.join([classes, ENGINE_RES, os.path.join(jars, "*")]),
            main]


def new_work_dir():
    work = os.path.join(build_dir(), f"run-{os.getpid()}-{time.monotonic_ns()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    return work


def run_jvm(classes, jars, workload, seed, seconds, trace, scale="sf0.01",
            extra=(), limit=RUN_LIMIT_S):
    """One JVM run; returns (result dict or None, other stdout lines)."""
    bd = build_dir()
    work = new_work_dir()
    tag = f"{workload}-{scale}-seed{seed}-trace{trace}"
    details = os.path.join(bd, "results", tag + ".json")
    cmd = jvm_cmd(classes, jars, work, "perfbench.Main") + [
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--data", os.path.join(HERE, "data"), "--work", work,
           "--cache", os.path.join(bd, "cache"),
           "--expected", os.path.join(HERE, "expected", f"{workload}-{scale}.tsv"),
           "--details", details, "--scale", scale, *extra]
    env = dict(os.environ, PERFBENCH_GIT_HEAD=git_head())
    log = os.path.join(bd, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             env=env, cwd=work)
        try:
            out, _ = p.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            out = ""
            print(f"perfbench: run exceeded {limit} s", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
            lines = lines[:-1]
        except ValueError:
            result = None
    if result is None:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    return result, lines


def selfcheck(classes, jars):
    """Fast check of the benchmark itself at sf0.001: every metric named in
    BENCHMARK.json prints with its unit, a wrong expected hash counts as a
    wrong result, and a thrown op counts as failed."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    for w in WORKLOADS:
        for trace in (0, 1):
            extra = ["--wrong-expected", WRONG[w], "--throw-op", "1"]
            res, lines = run_jvm(classes, jars, w, 7, 1, trace, "sf0.001", extra)
            want = spec["per_layer" if trace else "end_to_end"]
            if res is None:
                print(f"FAIL {w} trace={trace}: no result")
                ok = False
                continue
            summary = next((json.loads(l)["summary"] for l in lines
                            if l.startswith('{"summary"')), {})
            got = res["metrics"]
            checks = {
                "metric names": sorted(got) == sorted(m["name"] for m in want),
                "metric units": all(got.get(m["name"], {}).get("unit") == m["unit"]
                                    for m in want),
                "wrong hash counted": not res["correct"]
                    and summary.get("wrong_results", 0) >= 1,
                "thrown op counted": res["failed"] == 1
                    and summary.get("failed_ratio", 0) > 0,
            }
            if trace == 0:
                checks["end-to-end metrics nonzero"] = all(
                    v["value"] > 0 for v in got.values())
            for name, passed in checks.items():
                print(f"{'PASS' if passed else 'FAIL'} {w} trace={trace}: {name}")
                ok &= passed
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.01")
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--probe-tiers", metavar="BASE_DIR")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"no engine sources under {ENGINE_SRC}; run from a full checkout")
    jars = spark_jars()
    classes = build(jars)
    if a.selfcheck:
        return selfcheck(classes, jars)
    if a.probe_tiers:
        work = new_work_dir()
        try:
            return subprocess.run(jvm_cmd(classes, jars, work, "perfbench.TierProbe") + [
                os.path.abspath(a.probe_tiers), os.path.join(build_dir(), "tiers"),
                str(int(a.seconds))], cwd=work).returncode
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if a.workload is None:
        fail("--workload is required")
    if a.record:
        res, lines = run_jvm(classes, jars, a.workload, a.seed, 0, 0, a.scale,
                             ["--record", "1"], limit=3600)
        print("\n".join(lines))
        return 0
    res, lines = run_jvm(classes, jars, a.workload, a.seed, a.seconds, a.trace,
                         a.scale)
    if res is None:
        return 1
    for l in lines:
        print(l)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
