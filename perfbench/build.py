"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness) with the Scala compiler that
ships in the Spark distribution, into .bench_build/classes-<source hash>.

A build whose source hash is already present is reused. Usage:
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
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Directory of the Spark distribution's jars: $SPARK_HOME, the
    distribution whose spark-submit is on PATH, or the pyspark package."""
    cands = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    submit = shutil.which("spark-submit")
    if submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        cands.append(os.path.join(home, "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise SystemExit("build: no Spark distribution found (set SPARK_HOME)")


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise SystemExit(f"build: program sources not found under {program}")
    files = sorted(glob.glob(os.path.join(program, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return files


def build(log=sys.stderr):
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, f"classes-{h.hexdigest()[:16]}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars()
    print(f"build: compiling {len(files)} sources into {out}", file=log)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out] + files
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
