"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) with the Scala compiler that ships in the
Spark distribution, and packs the classes with the program's class-path
resources (`src/main/resources`) into `.bench_build/perfbench/perfbench.jar`.
The program keeps its converted tables under a fixed absolute directory
(`graft.Tables.strawRoot`); the compiled copy relocates that one directory
into the build directory so every file the benchmark makes stays inside the
checkout. The build stops unless exactly that one line, in `Tables.scala`,
is relocated. It is skipped when the sources, the relocation target and the
toolchain are unchanged.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

PROGRAM_SRC = os.path.join("src", "main", "scala")
PROGRAM_RESOURCES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")
# the program's table root: `def strawRoot = s"<absolute dir>/strawdata/$FormatVersion"`
STRAW_ROOT = re.compile(r'(def strawRoot\s*=\s*s")[^"$]*?/strawdata/')
STRAW_ROOT_FILE = "Tables.scala"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("build: set SPARK_HOME to a Spark 4 distribution")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {home}/jars (set SPARK_HOME)")
    return jars


def files_under(root, suffix=""):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def build(root, out):
    """Compiles into `out`/perfbench.jar when needed; returns the jar."""
    prog = files_under(os.path.join(root, PROGRAM_SRC), ".scala")
    bench = files_under(os.path.join(root, BENCH_SRC), ".scala")
    resources = files_under(os.path.join(root, PROGRAM_RESOURCES))
    if not prog or not bench:
        raise SystemExit(f"build: no program sources under {PROGRAM_SRC} or benchmark sources under {BENCH_SRC}")
    straw_root = os.path.join(out, "strawdata")
    jars = spark_jars()
    h = hashlib.sha256()
    h.update(straw_root.encode())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    for f in prog + bench + resources:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "perfbench.jar")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar

    src_copy = os.path.join(out, "src")
    shutil.rmtree(src_copy, ignore_errors=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    sources = []
    relocated = []
    for f in prog:
        dst = os.path.join(src_copy, os.path.relpath(f, root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        with open(f, encoding="utf-8") as fh:
            text, n = STRAW_ROOT.subn(lambda m: m.group(1) + straw_root + "/", fh.read())
        relocated += [os.path.basename(f)] * n
        with open(dst, "w", encoding="utf-8") as fh:
            fh.write(text)
        sources.append(dst)
    if relocated != [STRAW_ROOT_FILE]:
        raise SystemExit(f"build: expected one `def strawRoot` to relocate, in {STRAW_ROOT_FILE}; "
                         f"found {relocated or 'none'}")
    sources += bench
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for f in files_under(classes):
            z.write(f, os.path.relpath(f, classes))
        for f in resources:  # data source registration and other class-path files
            z.write(f, os.path.relpath(f, os.path.join(root, PROGRAM_RESOURCES)))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar


if __name__ == "__main__":
    print(build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build", "perfbench")))
