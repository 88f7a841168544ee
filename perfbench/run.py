#!/usr/bin/env python3
"""Entry point of the loader benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --unit-tests
    python3 perfbench/run.py --workload query_board --capture-fingerprints FILE

Run it from the root of a checkout. The first call compiles the program
under test (``src/main/scala``) together with the benchmark sources
(``perfbench/src``) with sbt in offline mode, and caches the classpath
under ``perfbench/target``. Every call then starts one benchmark JVM, which
generates its inputs from the seed, sets up, measures, checks its outputs
and prints one JSON result. That JSON object is always the last line of
stdout. The exit code is 0 only when every correctness check held.
Everything the run writes stays under ``perfbench/``.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "run-classpath.txt")
WORKLOADS = ("daily_drip", "query_board")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit normally injects (JavaModuleOptions.defaultModuleOptions()).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """The Spark distribution whose jars the build compiles against:
    ``SPARK_HOME``, or else the one whose ``spark-submit`` is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH", 3)
    return home


def sbt_env():
    """sbt must resolve from the local caches only: force offline mode."""
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if not opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ("-Dsbt.override.build.repos=true "
                    f"-Dsbt.repository.config={repos}")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    return env


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
            continue
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build_inputs():
    return [PROGRAM_SRC, os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]


def classpath():
    """Compile if any source is newer than the cached classpath."""
    if (os.path.isfile(CLASSPATH_FILE)
            and os.path.getmtime(CLASSPATH_FILE) >= newest_mtime(build_inputs())):
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH", 3)
    os.makedirs(TARGET, exist_ok=True)
    log_path = os.path.join(TARGET, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        try:
            out = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=log,
                stdin=subprocess.DEVNULL, text=True, errors="replace",
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log_path})", 3)
        log.write(out.stdout)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (log: {log_path})", 3)
    lines = [ln.strip() for ln in out.stdout.splitlines()
             if ln.strip().startswith("/") and ".jar" in ln]
    if not lines:
        fail(f"build printed no classpath (log: {log_path})", 3)
    cp = lines[-1]
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def run_unit_tests():
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                         cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL)
    sys.exit(out.returncode)


def is_result(line):
    try:
        obj = json.loads(line)
    except ValueError:
        return False
    return isinstance(obj, dict) and set(obj) == {
        "correct", "attempted", "failed", "metrics"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--unit-tests", action="store_true")
    ap.add_argument("--capture-fingerprints", metavar="FILE",
                    help="query_board: also write the observed fingerprints to FILE")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {PROGRAM_SRC}; "
             "run from the root of a full checkout", 2)
    if args.unit_tests:
        run_unit_tests()
    if args.workload is None:
        fail("--workload is required", 2)
    if args.seconds < 1:
        fail("--seconds must be at least 1", 2)
    if shutil.which("java") is None:
        fail("java is not on PATH", 3)

    cp = classpath()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # A fixed, pre-touched heap with a fixed young generation: heap growth
    # and page faults during the run were the largest source of spread
    # between runs.
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-Xmn256m", "-XX:+AlwaysPreTouch"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dperfbench.heap={JVM_HEAP}",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--data", os.path.join(HERE, "data"),
              "--spec", os.path.join(ROOT, "BENCHMARK.json")]
           + (["--capture-fingerprints", os.path.abspath(args.capture_fingerprints)]
              if args.capture_fingerprints else []))
    # The benchmark JVM talks only to itself: unless the environment names
    # an address, bind Spark to the loopback interface, whatever the host
    # name resolves to.
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            errors="replace", env=env,
                            start_new_session=True)
    timed_out = threading.Event()

    def stop_run():
        timed_out.set()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    watchdog = threading.Timer(RUN_TIMEOUT_S, stop_run)
    watchdog.start()
    result = None
    failed_checks = []
    try:
        for line in proc.stdout:
            if is_result(line.strip()):
                result = line.strip()
            else:
                if line.startswith("check ") and '"ok": false' in line:
                    failed_checks.append(line.strip())
                sys.stdout.write(line)
                sys.stdout.flush()
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out.is_set():
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped", 4)
    if result is None:
        fail(f"benchmark JVM exited with {proc.returncode} and printed no result", 1)
    print(result, flush=True)
    if proc.returncode != 0:
        # the reason, as the last lines of stderr
        for c in failed_checks:
            print(f"perfbench: failed {c}", file=sys.stderr)
        print(f"perfbench: {args.workload} seed {args.seed} exited with "
              f"{proc.returncode}; result: {result}", file=sys.stderr)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
