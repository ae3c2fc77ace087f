#!/usr/bin/env python3
"""Run the graft product benchmark.

    python3 perfbench/run.py --workload full_year|hourly_delta \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds graft and the
benchmark with sbt (a few minutes); later runs reuse the build while the
sources are unchanged. The last line of standard output is the JSON result.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
STAMP = os.path.join(TARGET, "perfbench.stamp")
BUILD_TIMEOUT = 850
RUN_TIMEOUT = 175

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# graft build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=3):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads: graft's main sources and build, and the
    benchmark's own."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, env=None, merge_stderr=True):
    """Run `cmd` in its own process group and capture its standard output;
    kill the whole group on timeout and wait until it has ended."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT if merge_stderr else None,
                         text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    return p.returncode, out


def build():
    want = stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.offline" not in opts and os.path.exists(repos):
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos} -Dsbt.offline=true")
    env["SBT_OPTS"] = opts.strip()
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        BENCH, BUILD_TIMEOUT, env)
    if code != 0:
        sys.stderr.write(out or "")
        fail("build failed" if code is not None else "build timed out")
    cp = [l for l in out.splitlines()
          if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not cp:
        sys.stderr.write(out)
        fail("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(want)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-golden", action="store_true",
                    help="rewrite golden.txt from this build's outputs")
    a = ap.parse_args()
    # graft's sources live next to the benchmark in a checkout; anywhere
    # else there is nothing to measure
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found next to the benchmark directory")
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found")
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    work = os.path.join(BENCH, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = "3g"
    cmd = (["java", f"-Xmx{heap}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={os.path.join(work, 'derby')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--dir", BENCH,
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace)]
           + (["--write-golden"] if a.write_golden else []))
    code, out = run_bounded(cmd, ROOT, RUN_TIMEOUT, merge_stderr=False)
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail("benchmark timed out", 5)
    lines = out.splitlines()
    result = lines[-1] if lines else ""
    for l in lines[:-1]:
        print(l)
    if code != 0:
        fail(f"benchmark exited with {code}", code)
    got = set(json.loads(result)["metrics"])
    want = expected_metrics(a.trace == 1)
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(want - got)}, "
             f"unexpected {sorted(got - want)}", 4)
    print(result)


if __name__ == "__main__":
    main()
