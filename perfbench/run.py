#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload carve_dense --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness from source with sbt (offline) and caches the runtime classpath
in perfbench/.build; later runs start the JVM directly (sbt runs again
when the sources or the compiled classes change). Every metric is
printed as `metric <name> <value> <unit>`; the last line of standard
output is one JSON object with `correct`, `attempted`, `failed` and
`metrics`. The exit code is non-zero when a check failed or the run
could not complete.
"""
import argparse
import hashlib
import os
import signal
import sqlite3
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, "work")
WORKLOADS = ("carve_dense", "query_mix")
JVM_TIMEOUT_S = 170
PRIME_TIMEOUT_S = 600
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# Per-fixture tables whose rows the browser streams must reproduce.
BROWSER_TABLES = {"history": ("urls", "moz_places"),
                  "cookies": ("cookies", "moz_cookies"),
                  "downloads": ("downloads", "moz_downloads")}
BROWSER_FIXTURES = ("chrome_history", "chrome_cookies", "firefox_places",
                    "firefox_cookies", "firefox_downloads")


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so edits trigger a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(tree):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classes_stamp(classpath):
    """Hash of the name, size and mtime of every file in the classpath's
    class directories: a compile of other sources into the shared
    target/ directories changes it."""
    h = hashlib.sha256()
    for entry in classpath.split(os.pathsep):
        if not os.path.isdir(entry):
            continue
        for d, dirs, files in os.walk(entry):
            dirs.sort()
            for f in sorted(files):
                st = os.stat(os.path.join(d, f))
                h.update(f"{os.path.join(d, f)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(stamp):
    """Compile with sbt unless the sources and the compiled classes are
    those of the last build; return the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(cp_file) as g:
            classpath = g.read()
        with open(stamp_file) as f:
            if f.read() == stamp + " " + classes_stamp(classpath):
                return classpath
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "sbt.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportClasspath"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed; see {os.path.join(BUILD, 'sbt.log')}", 3)
    with open(cp_file) as g:
        classpath = g.read()
    with open(stamp_file, "w") as f:
        f.write(stamp + " " + classes_stamp(classpath))
    return classpath


def browser_rows():
    """Rows per planted copy of each browser fixture, read with sqlite3."""
    out = []
    fixtures = os.path.join(ROOT, "src", "main", "resources", "fixtures")
    for name in BROWSER_FIXTURES:
        con = sqlite3.connect(f"file:{os.path.join(fixtures, name + '.sqlite')}?mode=ro", uri=True)
        try:
            tables = {r[0] for r in con.execute("select name from sqlite_master where type='table'")}
            for kind, candidates in BROWSER_TABLES.items():
                n = sum(con.execute(f"select count(*) from {t}").fetchone()[0]
                        for t in candidates if t in tables)
                out.append(f"{name}.{kind}={n}")
        finally:
            con.close()
    return ",".join(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--write-pins", help="record observed counts into this pins file")
    args = ap.parse_args()

    for p in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"no program sources here: {p} is missing")
    data = os.environ.get("PERFBENCH_DATA", os.path.join(HERE, "data", "sf0.001"))
    stamp = source_stamp()
    classpath = build(stamp)

    # The queries keep their indexes in java.io.tmpdir: one directory per
    # source version, so each version builds and probes its own.
    tmp = os.path.join(WORK, "tmp", stamp[:16])
    os.makedirs(tmp, exist_ok=True)
    jvm = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
    jvm += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK17_OPENS]
    jvm += ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "-cp", classpath, "graft.perfbench.Main",
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", WORK, "--data", data, "--pins", os.path.join(HERE, "pins.tsv"),
            "--browser-rows", browser_rows()]
    cmd = jvm + ["--workload", args.workload]
    if args.write_pins:
        cmd += ["--write-pins", args.write_pins]
    # The first run of a source version, whatever its workload, builds
    # the query indexes of that version in a JVM of its own, next to the
    # compile: no timed pass builds them, and every timed pass starts
    # from the same JIT state.
    primed = os.path.join(tmp, ".primed")
    if not os.path.exists(primed):
        code, _ = run_jvm(jvm + ["--workload", "query_mix", "--prime", "1"],
                          time.monotonic() + PRIME_TIMEOUT_S)
        if code != 0:
            fail(f"priming the query indexes failed: JVM exited with {code}", 4)
        open(primed, "w").close()
    code, result = run_jvm(cmd, time.monotonic() + JVM_TIMEOUT_S)
    if code != 0 or result is None:
        fail(f"benchmark JVM exited with {code}", 4)
    print(result, flush=True)
    if '"correct": true' not in result:
        sys.exit(1)


def run_jvm(cmd, deadline):
    """Run one benchmark JVM, passing its metric lines through; kill it
    at the deadline. Returns the exit code and the JSON result line."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)

    def stop(signum, _frame):  # never leave the JVM behind
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    result = None
    watchdog = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{") and '"correct"' in line:
                result = line
            elif line.startswith("metric "):
                print(line, flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return proc.returncode, result


if __name__ == "__main__":
    main()
