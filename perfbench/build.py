"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own Scala sources (perfbench/scala) with the Scala
compiler that ships in Spark's jars directory, into
$CARGO_TARGET_DIR/classes (default .bench_build/classes). A build is
reused while every source file is unchanged.

    python3 perfbench/build.py          # from the repository root
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark jars with a Scala compiler under %s (set SPARK_HOME)" % jars)
    return jars


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise BuildError("no program sources under %s/src/main/scala" % root)
    bench = sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                          "scala", "*.scala")))
    return program + bench


def digest(files, root):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure(root, log=sys.stderr):
    """Return the classes directory, compiling first if sources changed."""
    jars = spark_jars()
    files = sources(root)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.sha256")
    want = digest(files, root)
    if os.path.isdir(classes) and os.path.isfile(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                return classes
    os.makedirs(out, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp, "@" + argfile]
    print("[perfbench] compiling %d sources" % len(files), file=log)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(want + "\n")
    return classes


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd()))
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(3)
