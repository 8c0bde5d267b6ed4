"""Build file of the benchmark package: compiles the program's main sources
and the benchmark harness (perfbench/src) with the Scala compiler that
ships in Spark's jars.

Classes go to ``<build dir>/classes-<hash of the sources>``, so a build dir
shared by two checkouts keeps one build per source tree and compiles each
only once. The build dir is ``$CARGO_TARGET_DIR`` if set, else
``.bench_build``, relative to the repository root.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(
    os.path.dirname(os.path.realpath(shutil.which("spark-submit") or "")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def _sources():
    files = []
    for d in SOURCE_DIRS:
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile unless these sources were built before; return the runtime
    classpath (classes, the program's resources, Spark's jars). Raises when
    the program's sources are missing or do not compile."""
    srcs = _sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "main")) for s in srcs):
        raise RuntimeError("no program sources under src/main/scala")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    out = os.path.join(build_dir(), "classes-" + digest.hexdigest()[:16])
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = tmp + ".sources"
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
        os.remove(argfile)
        if proc.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
            raise RuntimeError("compile failed")
        try:
            os.rename(tmp, out)
        except OSError:  # another run finished the same build first
            shutil.rmtree(tmp, ignore_errors=True)
    return os.pathsep.join([out, os.path.join(ROOT, RESOURCES), os.path.join(SPARK_JARS, "*")])


if __name__ == "__main__":
    print(build())
