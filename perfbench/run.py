#!/usr/bin/env python3
"""graft benchmark: build, generate inputs, run one workload.

    python3 perfbench/run.py --workload sparql_read --seed 1 --seconds 15 --trace 0

Builds the library and the benchmark from source (sbt, offline) on the
first run in a checkout, generates the base fixture once, then runs one
workload in one JVM (Spark local[4], one client, closed loop) and prints
one JSON object as the last line of stdout:
{"correct": ..., "attempted": N, "failed": N, "metrics": {...}}.

Maintainer modes (not used by measured runs):
    --record            rewrite expected/<workload>.json from the default seed
    --selfcheck         run the traced workload twice with the same seed and
                        compare the deterministic counts and digests
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORKLOADS = ("sparql_read", "store_rw")
DEFAULT_SEED = 1
GEN_VERSION = "2"
RUN_LIMIT_S = 170  # every run must end within 180 s
BUILD_LIMIT_S = 840

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (LIB_SRC, BENCH_SRC):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, cwd, limit, env=None, capture=False):
    """Run cmd in its own process group; kill the group at the limit."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {limit:.0f}s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    if p.returncode != 0:
        fail(f"{' '.join(cmd[:2])} exited {p.returncode}")
    return out


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        fail("SPARK_HOME must point at a Spark distribution with a jars/ directory")
    return jars


def build():
    if not os.path.isdir(LIB_SRC):
        fail(f"library sources not found at {os.path.relpath(LIB_SRC, ROOT)}")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    stamp = os.path.join(WORK, "build.stamp")
    want = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.isdir(CLASSES):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
               "compile"], HERE, BUILD_LIMIT_S, env=env)
    with open(stamp, "w") as fh:
        fh.write(want)


def java_cmd(args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = CLASSES + os.pathsep + os.path.join(spark_jars(), "*")
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx4g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "graftbench.Main"] + args + ["--work", WORK])


def env_for_java():
    env = dict(os.environ)
    # the benchmark takes no knob but the workload and the seed
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    env.pop("SPARK_GRAFT_HASH", None)
    return env


def ensure_fixture(deadline):
    marker = os.path.join(WORK, "base", "_VERSION")
    if os.path.exists(marker) and open(marker).read() == GEN_VERSION:
        return
    shutil.rmtree(os.path.join(WORK, "base"), ignore_errors=True)
    run_child(java_cmd(["gen"]), ROOT, max(30, deadline - time.time()), env=env_for_java())
    with open(marker, "w") as fh:
        fh.write(GEN_VERSION)


def run_once(workload, seed, seconds, trace, extra=()):
    """One measured run; returns the result object."""
    t0 = time.time()
    store = os.path.join(WORK, "store")
    shutil.rmtree(store, ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)
    args = ["run", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--expected", os.path.join(HERE, "expected", f"{workload}.json")]
    out = run_child(java_cmd(args + list(extra)), ROOT,
                    max(10, RUN_LIMIT_S - (time.time() - t0)), env=env_for_java(), capture=True)
    lines = [ln for ln in out.splitlines() if ln.startswith("{\"correct\"")]
    if not lines:
        fail("the run printed no result")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    start = time.time()
    os.makedirs(WORK, exist_ok=True)
    build()
    ensure_fixture(start + 900)
    if a.record:
        path = os.path.join(HERE, "expected", f"{a.workload}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if os.path.exists(path):
            os.remove(path)
        res = run_once(a.workload, DEFAULT_SEED, a.seconds, 0, ["--record", path])
    elif a.selfcheck:
        runs = []
        for _ in range(2):
            det = os.path.join(WORK, f"selfcheck-{len(runs)}.json")
            print(json.dumps(run_once(a.workload, a.seed, a.seconds, 1, ["--determinism", det])))
            runs.append(json.load(open(det)))
        # a slower run may stop after fewer passes: compare the operations
        # both ran, and the store's file count only after equal work
        a0, a1 = runs
        keys = sorted(set(a0) & set(a1), key=lambda k: (len(k), k))
        if len(a0) != len(a1):
            keys = [k for k in keys if k != "core.files"]
        diff = [k for k in keys if a0[k] != a1[k]]
        for k in diff:
            print(f"  {k}: {a0[k]} != {a1[k]}", file=sys.stderr)
        print(json.dumps({"workload": a.workload, "seed": a.seed, "compared": len(keys),
                          "differing": diff}))
        sys.exit(1 if diff else 0)
    else:
        res = run_once(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
