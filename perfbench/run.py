#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <xes_service|pair_gen|fixpoint>
                             --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and
the benchmark with sbt (offline) and caches the class path under the
build directory ($CARGO_TARGET_DIR, default `.bench_build`); later runs
start the JVM directly. The input tables are read from
$GRAFT_BENCH_DATA (default `~/testdata`, see TESTDATA.md), which must
hold `sf0.1` and `sf0.01`.

`--pin 1` prints the pinned-output lines of a batch workload instead of
measuring (see README.md).
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

BENCH = "perfbench"
JAVA_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "1g"

# JDK 17 module openings Spark needs outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = ["build.sbt", "project", "src/main", f"{BENCH}/build.sbt",
             f"{BENCH}/project", f"{BENCH}/src/main"]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out.extend(os.path.join(d, f) for f in sorted(files))
    return out


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(out):
    """Class path of the benchmark, rebuilding when any source changed."""
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log("building with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"[run.py] build failed ({p.returncode})")
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    cp = lines[-1].strip()
    if not cp or cp.startswith("[") or "perfbench" not in cp:
        raise SystemExit(f"[run.py] no class path in sbt output: {cp[:200]}")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--pin", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        raise SystemExit("[run.py] run from the root of a checkout with the engine sources")
    data = os.environ.get("GRAFT_BENCH_DATA", os.path.expanduser("~/testdata"))
    for sf in ("sf0.1", "sf0.01"):
        if not os.path.isdir(os.path.join(data, sf)):
            raise SystemExit(f"[run.py] missing input tables {data}/{sf}")

    out = os.path.abspath(os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), BENCH))
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    cp = build(out)

    # A fixed, pre-touched heap keeps peak RSS from depending on when the
    # heap happened to grow; what varies is native memory.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.abspath(os.path.join(BENCH, 'log4j2.properties'))}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--data", data, "--out", out,
              "--pins", os.path.join(BENCH, "pins.tsv"), "--pin", a.pin])
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True, env=env)
    try:
        stdout, _ = proc.communicate(timeout=JAVA_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"[run.py] benchmark JVM exceeded {JAVA_TIMEOUT_S} s")
    if proc.returncode != 0:
        raise SystemExit(f"[run.py] benchmark JVM exited {proc.returncode}")
    lines = [x for x in stdout.splitlines() if x.strip()]
    if a.pin == "1":
        print("\n".join(lines))
        return
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        raise SystemExit(f"[run.py] malformed result: {lines[-1][:200]}")
    for x in lines[:-1]:
        print(x, file=sys.stderr)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
