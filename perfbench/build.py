"""Build file of the benchmark: compiles graft and the harness.

Compiles `src/main/scala` together with `perfbench/scala` with the Scala
compiler that ships in Spark's jar directory and packs the classes into
`.bench_build/classes-<hash of the sources>/bench.jar`. A build whose sources are unchanged is reused. Nothing is written outside
the checkout.

    python3 perfbench/build.py          # prints the jar
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root="."):
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    repository's build.sbt takes its unmanaged jars from."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
        if m is None:
            raise SystemExit("set SPARK_HOME: build.sbt names no jar directory")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler under {jars}; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"graft sources not found: {main}")
    files = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(BENCH_DIR, "scala", "**", "*.scala"), recursive=True)
    return sorted(files, key=lambda f: os.path.relpath(f, root))


def build(root, log=sys.stderr):
    files = sources(root)
    jars = os.path.join(spark_jars(root), "*")
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(root, ".bench_build", "classes-" + digest.hexdigest()[:16])
    jar = os.path.join(out, "bench.jar")
    if os.path.exists(jar):
        return jar
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    subprocess.run([java(), "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                    "-cp", jars, "scala.tools.nsc.Main",
                    "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile],
                   check=True, stdout=log, stderr=log)
    with zipfile.ZipFile(os.path.join(tmp, "bench.jar"), "w") as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    os.remove(argfile)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return jar


if __name__ == "__main__":
    print(build(os.getcwd()))
