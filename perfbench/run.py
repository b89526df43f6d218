"""Run one benchmark run of graft from the root of a checkout.

    python3 perfbench/run.py --workload <nonequi_join|curation_batch|index_serve_mixed>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the program and the harness from source when they changed (see
build.py), then runs ``perfbench.Main`` in one JVM. Progress and per-class
figures go to stderr; the last stdout line is the JSON result. Exits non-zero,
printing no result, when the build, the run or an output check fails to
produce one.
"""

import argparse
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark on JDK 17 needs these when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(root, classes, main, args):
    tmp = os.path.join(root, build.BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    return [build.java(), *opens, "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, main, *args]


def run(cmd):
    """Run the JVM in its own process group; return (exit code, stdout lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was killed", file=sys.stderr)
        return 124, []
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if not args.self_test and (args.workload is None or args.seed is None or not args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    root = os.getcwd()
    try:
        classes = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    if args.self_test:
        code, lines = run(jvm(root, classes, "perfbench.SelfTest", []))
        print("\n".join(lines))
        return code
    code, lines = run(jvm(root, classes, "perfbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", os.path.join(root, build.BUILD_DIR)]))
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    if code != 0 or result is None:
        print(f"perfbench: run failed (exit code {code})", file=sys.stderr)
        return code or 1
    for line in lines[:-1]:
        print(line)
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
