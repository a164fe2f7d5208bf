"""CDC pipeline benchmark.

    python3 perfbench/run.py --workload <scd2_stream|merge_publish>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the program from source (perfbench/build.py), runs one workload in
one JVM on local[nproc] with a fixed heap, and prints the result as one
JSON object on the last line of stdout. Run it from the repository root.
Every run works in a fresh directory under the build directory, removed
afterwards; traced runs leave their spans in <build dir>/traces/.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # write nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("scd2_stream", "merge_publish")
HEAP = "3g"
TIMEOUT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(classes, work, main, args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData"] + opens + [
        "-Duser.timezone=UTC",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
        "-Dperfbench.traceDir=" + os.path.join(build.build_dir(), "traces"),
        "-cp", cp, main] + args)


def run_jvm(classes, main, args, tag):
    work = os.path.join(build.build_dir(), "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(java_cmd(classes, work, main, args + ["--work", work]),
                            stdout=subprocess.PIPE, stderr=sys.stderr, env=env,
                            cwd=build.ROOT, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: {tag} exceeded {TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for line in lines:
        if not line.startswith("PERFBENCH_RESULT "):
            print(line, file=sys.stderr)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: {tag} exited with {proc.returncode}")
    return [line[len("PERFBENCH_RESULT "):] for line in lines
            if line.startswith("PERFBENCH_RESULT ")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    classes = build.build()
    if a.selftest:
        run_jvm(classes, "perfbench.SelfTest", [], "selftest")
        print("perfbench: selftest passed", file=sys.stderr)
        return
    if a.workload is None:
        ap.error("--workload is required")
    results = run_jvm(classes, "perfbench.Main",
                      ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace)],
                      f"{a.workload}-{a.seed}")
    if not results:
        raise SystemExit("perfbench: no result line")
    print(results[-1])


if __name__ == "__main__":
    main()
