"""Runs one graft benchmark workload and prints its result.

    python3 graftbench/run.py --workload score --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark on first use (see build.py), then runs
the benchmark JVM in a private work directory under .bench_build, which it
removes afterwards. The last line of standard output is the result object;
`--trace 1` reports the per-layer metrics instead of the end-to-end ones.
`--selftest` runs the benchmark's own checks of its checks instead.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

# A run that has not finished by then is killed, so the script ends within
# the three minutes a run may take.
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when a session is created outside
# spark-submit; they match Spark's own launcher defaults.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(classpath, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + opens + ["-cp", classpath, main] + args


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=["score", "curate", "derive"])
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", choices=["0", "1"])
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        p.error("--workload, --seed, --seconds and --trace are required")

    try:
        classpath = build.ensure_built()
    except build.BuildError as e:
        sys.exit(f"[graftbench] build failed: {e}")

    work = os.path.join(build.BUILD, "work", f"{a.workload or 'selftest'}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.selftest:
        main_class, args = "graftbench.SelfTest", ["--work", work]
    else:
        main_class = "graftbench.Main"
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    # a build (first use only) may take longer; the run itself may not
    deadline = RUN_TIMEOUT_S
    # Spark's scratch space stays inside the work directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(jvm(classpath, work, main_class, args), env=env,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(reason):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"[graftbench] {reason}; the run was stopped")

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda s, _: stop(f"received signal {s}"))
    try:
        out, _ = proc.communicate(timeout=deadline)
    except subprocess.TimeoutExpired:
        stop(f"run exceeded {deadline} s")
    shutil.rmtree(work, ignore_errors=True)
    if a.selftest:
        sys.stdout.write(out)
        sys.exit(proc.returncode)
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        sys.exit(f"[graftbench] JVM exited with {proc.returncode} and no result")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
