"""Build file of the benchmark harness.

Compiles the engine (``src/main/scala`` of the checkout) together with the
harness (``perfbench/harness/src``) with the Scala compiler that ships in
Spark's jar directory, into ``.perfbench/build/<hash>/classes``. The hash
covers every source file, so an unchanged tree reuses its classes and any
edit rebuilds from scratch. Run it alone with ``python3 perfbench/build.py``.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Spark's jar directory: ``$SPARK_HOME/jars``, else next to the
    ``spark-submit`` on PATH."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sub = shutil.which("spark-submit")
    if sub:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(sub))), "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise SystemExit("perfbench: no Spark installation found (set SPARK_HOME)")


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: {engine} not found; run from the repository root")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "harness", "src", "**", "*.scala"), recursive=True))
    return files


def build(root, log=sys.stderr):
    """Return the classes directory for the current sources, compiling
    first if needed."""
    jars = spark_jars()
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(root, ".perfbench", "build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "OK")):
        return classes
    shutil.rmtree(os.path.join(root, ".perfbench", "build"), ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + files
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    res = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    open(os.path.join(out, "OK"), "w").close()
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
