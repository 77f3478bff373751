"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark harness (`perfbench/src`) with the Scala compiler that ships
in the Spark jar directory `build.sbt` names as `unmanagedBase`.

Output goes to `<root>/.bench_build/` (or $CARGO_TARGET_DIR when set). A
stamp over the sources' content skips a compile when nothing changed. Usage: python3 perfbench/build.py [root]
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def _sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not prog:
        raise RuntimeError("no program sources under src/main/scala")
    return prog, harness


def _scalac(jars, classpath, out, files):
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    subprocess.run(cmd + files, check=True, stdout=sys.stderr)


def _stamp(root, files):
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    return digest.hexdigest()


def build(root):
    """Compile what is stale; return the runtime classpath. The program and
    the harness have their own class dirs and stamps, so a harness change
    does not recompile the program."""
    root = os.path.abspath(root)
    jars = spark_jars(root)
    prog, harness = _sources(root)
    out_root = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out_root = os.path.join(root, out_root) if not os.path.isabs(out_root) else out_root
    prog_classes = os.path.join(out_root, "classes")
    harness_classes = os.path.join(out_root, "harness_classes")
    prog_stamp = _stamp(root, prog)
    for classes, files, cp, stamp in (
            (prog_classes, prog, None, prog_stamp),
            (harness_classes, harness, prog_classes, prog_stamp + _stamp(root, harness))):
        stamp_file = classes + ".stamp"
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            continue
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        _scalac(jars, cp, classes, files)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([harness_classes, prog_classes, os.path.join(jars, "*")])

if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else "."))
