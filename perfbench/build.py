"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
one class directory, with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py        # from the repository root

The output lives under .bench_build/perfbench/ and is rebuilt only when
a source file, the JDK or the Spark jars change.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT_SOURCES = os.path.join("src", "main", "scala")
BENCH_SOURCES = os.path.join("perfbench", "src")
OUT = os.path.join(".bench_build", "perfbench")


def spark_jars():
    """Directory of Spark's jars: $SPARK_HOME/jars, else the jars next to
    the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark installation with a Scala "
                         "compiler found (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for base in (ROOT_SOURCES, BENCH_SOURCES):
        if not os.path.isdir(base):
            raise SystemExit(f"perfbench: {base} not found; run from the "
                             "repository root")
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                            capture_output=True).stderr)
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def ensure_built():
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    want = stamp(files, jars)
    have = open(stamp_file).read().strip() if os.path.exists(stamp_file) else ""
    if want != have or not os.path.isdir(classes):
        staging = classes + ".staging"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        jar_cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
        print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
        subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
             "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-nowarn", "-d", staging,
             "-classpath", jar_cp] + files,
            check=True, stdout=sys.stderr)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(staging, classes)
        with open(stamp_file, "w") as fh:
            fh.write(want + "\n")
    return os.pathsep.join([classes, os.path.join(jars, "*")])


if __name__ == "__main__":
    ensure_built()
