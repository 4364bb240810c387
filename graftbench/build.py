"""Build step of the graft benchmark.

Compiles graft's sources (src/main/scala) together with the benchmark's
own (graftbench/src) into .bench_build/graftbench.jar, using the Scala
compiler that ships in Spark's jar directory. The build is skipped when
a stamp of the sources and flags matches the last build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
SCALAC_FLAGS = ["-nowarn"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("graftbench: Spark jars with a Scala compiler not found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("graftbench: java not found")
    return exe


def sources(root):
    return sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(root):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    out = os.path.join(root, ".bench_build", "classes")
    jar = os.path.join(root, ".bench_build", "graftbench.jar")
    srcs = sources(root)
    h = hashlib.sha256(" ".join(SCALAC_FLAGS).encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(root, ".bench_build", "classes.stamp")
    cp = os.pathsep.join([jar, os.path.join(jars, "*")])
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and os.path.exists(jar):
        return cp
    for f in (stamp, jar):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(root, ".bench_build", "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", *SCALAC_FLAGS, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, cwd=out, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("graftbench: compilation failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(out):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), out))
    shutil.rmtree(out)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build(os.path.dirname(HERE)))
