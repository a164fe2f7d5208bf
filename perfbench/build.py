"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships with Spark, into <build dir>/classes-<hash>, where the build dir is
$CARGO_TARGET_DIR or .bench_build. A build whose inputs
are unchanged is reused.

    python3 perfbench/build.py            # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark install on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark install with a Scala compiler "
                     "(set SPARK_HOME)")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main + own


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_OK")):
        return out
    for old in glob.glob(os.path.join(build_dir(), "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    os.rename(tmp, out)
    open(os.path.join(out, "_OK"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
