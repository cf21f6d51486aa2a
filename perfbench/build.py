"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the benchmark driver (`perfbench/src`)
with the Scala compiler that ships in Spark's jar directory, into one jar
under `.bench_build/perfbench/`, named by a hash of the sources. A jar
that is already built is reused, so only the first run in a checkout
compiles.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark installation with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")
    return engine + bench


def build(out_root):
    """Compile if needed; returns the jar."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    jar = os.path.join(out_root, f"perfbench-{h.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    classes = os.path.join(out_root, "classes.tmp")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit("perfbench: compile failed")
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for base, _, files in os.walk(classes):
            for name in sorted(files):
                path = os.path.join(base, name)
                z.write(path, os.path.relpath(path, classes))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(classes)
    return jar
