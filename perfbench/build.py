"""Compiles the program and the benchmark into one class directory.

    python3 perfbench/build.py

Sources are every `.scala` file under `src/main/scala` (the program)
and under `perfbench/src` (the benchmark). They are compiled with the
Scala compiler that ships in Spark's jars directory (`$SPARK_HOME/jars`,
or the one beside `spark-submit` on the PATH), against the jars there, into
`.bench_build/perfbench/classes`. A stamp of the sources' contents
skips the compile when nothing changed.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark jars directory; set SPARK_HOME")
    return jars


def compiler_classpath(jars):
    parts = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars, f"{name}-2.13.*.jar")))
        if not found:
            raise BuildError(f"no {name} 2.13 jar in {jars}")
        parts.append(found[-1])
    return os.pathsep.join(parts)


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise BuildError(f"no program sources at {program}")
    files = []
    for base in (program, os.path.join(BENCH_DIR, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Returns the class directory, compiling first if the sources changed."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(compiler_classpath(jars).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", compiler_classpath(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError("compile failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"[perfbench] build: {e}")
