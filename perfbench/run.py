#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the destorspark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cluster --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke            # every workload, tiny inputs

The first run compiles the engine's sources together with the benchmark
(perfbench/build.sbt, offline). Each run starts one JVM with a local Spark
session, prints progress on stderr and, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}. The exit code
is non-zero when any output check fails or the run cannot be made.

`--record --workload cluster|backup-chain|driver-queries --seed 1,2,3` runs
only the check pass of that part for each seed and stores the observed
outputs in perfbench/expected.json (driver-queries ignores the seed).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cluster", "backup-chain")
# parts whose expected outputs --record stores; `cluster` runs the
# clustering job and then the query sweep (`driver-queries`)
PARTS = ("cluster", "backup-chain", "driver-queries")
CLASSPATH_FILE = os.path.join(HERE, "target", "bench.classpath")
EXPECTED = os.path.join(HERE, "expected.json")
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_newest():
    newest = os.path.getmtime(os.path.join(HERE, "build.sbt"))
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def build():
    """Compile once per checkout; returns the runtime classpath."""
    if (os.path.exists(CLASSPATH_FILE)
            and os.path.getmtime(CLASSPATH_FILE) >= sources_newest()):
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        raise RuntimeError("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    log("building the engine and the benchmark (sbt, offline)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise RuntimeError("sbt build failed")
    cp = [ln for ln in p.stdout.splitlines()
          if not ln.startswith("[") and ".jar" in ln]
    if not cp:
        raise RuntimeError("sbt printed no classpath")
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp[-1].strip() + "\n")
    log(f"build done in {time.time() - t0:.1f} s")
    return cp[-1].strip()


def heap():
    """Driver heap from MemTotal, the rule of the repository's test command:
    half the memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemTotal:"):
                    g = int(ln.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def run_one(cp, workload, seed, seconds, trace, size, record=False,
            timeout=RUN_TIMEOUT_S):
    work_root = os.path.join(HERE, ".work")
    work = os.path.join(work_root, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    cpus = str(os.cpu_count() or 1)
    if hasattr(os, "sched_getaffinity"):
        cpus = str(len(os.sched_getaffinity(0)))
    cmd = (["java", f"-Xmx{heap()}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--size", size, "--work", os.path.join(work, "run"),
              "--result", result, "--expected", EXPECTED,
              "--spans", os.path.join(HERE, "out")]
           + (["--record"] if record else []))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_HOME", None)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError(f"{workload} did not finish in {timeout} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    try:
        if code != 0 or not os.path.exists(result):
            raise RuntimeError(f"{workload}: the benchmark JVM exited with {code}")
        with open(result) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass


def record(cp, workload, seeds, size):
    """Run the checked pass for each seed (one JVM) and store its outputs."""
    exp = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            exp = json.load(f)
    seed_arg = "0" if workload == "driver-queries" else ",".join(map(str, seeds))
    observed = run_one(cp, workload, seed_arg, 1, 0, size, record=True,
                       timeout=60 + 60 * len(seeds))
    bad = [s for s, v in observed.items() if v is None]
    if bad:
        raise RuntimeError(f"checks failed for seeds {bad}; nothing recorded")
    for seed, values in observed.items():
        key = "*" if workload == "driver-queries" else seed
        exp.setdefault(workload, {}).setdefault(size, {})[key] = values
        log(f"recorded {workload}/{size}/{key}")
    with open(EXPECTED, "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=PARTS,
                    help="cluster or backup-chain; --record also takes driver-queries")
    ap.add_argument("--seed", default="1")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, every workload, traced and untraced")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no engine sources under {ROOT}/src/main/scala; run from a checkout")
        return 2
    if not a.smoke and a.workload is None:
        ap.error("--workload is required")
    if not a.smoke and not a.record and a.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    try:
        cp = build()
        if a.record:
            record(cp, a.workload, [int(s) for s in a.seed.split(",")], a.size)
            return 0
        if a.smoke:
            ok = True
            for w in WORKLOADS:
                for t in (0, 1):
                    res = run_one(cp, w, int(a.seed), 0, t, "smoke")
                    ok = ok and res["correct"]
                    print(json.dumps({"workload": w, "trace": t, **res}))
            return 0 if ok else 1
        res = run_one(cp, a.workload, int(a.seed), a.seconds, a.trace, a.size)
    except (RuntimeError, subprocess.SubprocessError, OSError, ValueError) as e:
        log(f"error: {e}")
        return 2
    print(json.dumps(res), flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
