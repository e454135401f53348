"""Runs one benchmark workload in one JVM and passes its output through.

    python3 perfbench/run.py --workload star-search --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source first (see build.py). All
scratch files (generated inputs, Spark local dirs, sinks) live under
.bench_build/run-<pid>/ and are removed when the run ends. The last line of
standard output is the JSON result; the exit code is non-zero when an output
check failed or the run did not finish.
"""
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# the JVM must end before the 180 s a run is allowed; the build is not counted
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit (same list as the repository's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main(argv):
    classes = build.build()
    scratch = os.path.join(build.BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + build.spark_jars(),
            "perfbench.Main", "--scratch", scratch] + argv
    proc = subprocess.Popen(cmd, start_new_session=True)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
