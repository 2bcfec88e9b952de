#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload mimic_wide --seed 1 --seconds 1 --trace 0

Run it from the repository root. The first call builds the harness
together with the library sources (src/main/scala) with sbt; later calls
reuse the build until a source file changes. Each session is one JVM
that generates the inputs from the seed, runs one full pass of the
workload and checks its outputs; sessions repeat until --seconds have
elapsed and the medians are reported. With --trace 1 it runs an
untraced session that stops after the compared metric (run_s, or
query_p50_ms for ann_serve) and one traced session, and reports the
per-layer metrics plus trace.overhead. The last line of standard output is one JSON object.
Every file it writes is under .perfbench/ (plus sbt's perfbench/target).
"""
import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
HOME = os.path.join(ROOT, ".perfbench")
CLASSPATH = os.path.join(HOME, "classpath.txt")
WORKLOADS = ["mimic_dense", "mimic_wide", "curation_corpus", "ann_serve"]
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")


def build():
    """Compile with sbt unless the recorded classpath is newer than every source."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: src/main/scala/graft not found; run from the repository root")
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            with open(CLASSPATH) as f:
                return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out.stdout)
        sys.exit("perfbench: build failed")
    os.makedirs(HOME, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def session(cp, workload, seed, trace, deadline, baseline=False):
    """One JVM: set-up, one pass, checks. Returns its parsed JSON line."""
    tmp = os.path.join(HOME, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap and young generation keep peak RSS comparable
    # between runs
    cmd = ["java", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m",
           "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--trace", str(trace), "--baseline", "1" if baseline else "0"]
    # Spark would put its shuffle and spill files there instead of under .perfbench
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: session did not finish in time")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        sys.exit("perfbench: session failed (exit %d)" % proc.returncode)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    start = time.monotonic()
    deadline = start + DEADLINE_S
    if a.trace:
        runs = [session(cp, a.workload, a.seed, 0, deadline, baseline=True),
                session(cp, a.workload, a.seed, 1, deadline)]
        result = dict(runs[1])
        (key, traced), = [(k, v) for k, v in result["metrics"].items() if k.startswith("traced.")]
        del result["metrics"][key]
        base = runs[0]["metrics"][key[len("traced."):]]["value"]
        result["metrics"]["trace.overhead"] = {"value": traced["value"] / base, "unit": "ratio"}
    else:
        runs = [session(cp, a.workload, a.seed, 0, deadline)]
        # another session only while one more still fits before the deadline
        while (time.monotonic() - start < a.seconds and
               time.monotonic() + (time.monotonic() - start) / len(runs) < deadline):
            runs.append(session(cp, a.workload, a.seed, 0, deadline))
        result = {"metrics": {k: {"value": statistics.median(r["metrics"][k]["value"] for r in runs),
                                  "unit": v["unit"]}
                              for k, v in runs[0]["metrics"].items()}}
    result = {
        "correct": all(r["correct"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": result["metrics"],
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
