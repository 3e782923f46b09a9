"""Build of the benchmark: the program's sources (src/main) and the
harness (perfbench/src/main) compiled together into one classes
directory, with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py

Run from the repository root. The compiler, the classpath and the
runtime all come from $SPARK_HOME/jars (else the installation whose
spark-submit is on PATH), so the build needs no build tool, no
dependency cache and no network, and writes only under
perfbench/target. It is skipped while the sources are unchanged.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "classes.stamp")


def spark_home():
    """The Spark installation: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
    return home


def source_dirs(root):
    return [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")]


def source_files(root):
    files = []
    for d in source_dirs(root):
        for base, _, names in os.walk(d):
            files.extend(os.path.join(base, n) for n in names)
    return sorted(files)


def stamp_of(root, files):
    h = hashlib.sha256()
    for p in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile unless the classes already match the sources; returns
    the classes directory."""
    files = source_files(root)
    stamp = stamp_of(root, files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) \
            and open(STAMP).read() == stamp:
        return CLASSES
    jars = os.path.join(spark_home(), "jars")
    out = CLASSES + ".new"
    tmp = os.path.join(TARGET, "tmp")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(tmp, exist_ok=True)
    args = os.path.join(TARGET, "scalac.args")
    with open(args, "w") as f:
        f.writelines(f'"{p}"\n' for p in files if p.endswith(".scala"))
    log = os.path.join(TARGET, "build.log")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
           f"@{args}"]
    with open(log, "w") as f:
        rc = subprocess.call(cmd, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {rc}), see {log}")
    # resources (service registrations) sit next to the classes
    for d in source_dirs(root):
        res = os.path.join(d, "resources")
        if os.path.isdir(res):
            shutil.copytree(res, out, dirs_exist_ok=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(out, CLASSES)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return CLASSES


if __name__ == "__main__":
    print(build(os.getcwd()))
