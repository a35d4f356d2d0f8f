"""Build file of the benchmark: compiles the program's main sources
(`src/main/scala`) together with the harness (`perfbench/scala`) into
`<build_dir>/classes`, with the Scala compiler that ships among the Spark
jars. A stamp of the sources' content skips the compile when nothing
changed.

Usage: python3 perfbench/build.py [build_dir]
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars() -> str:
    """The Spark jars the program's own build compiles against
    (`unmanagedBase` in build.sbt), or `$SPARK_HOME/jars`."""
    m = None
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isfile(os.path.join(jars, "scala-compiler-2.13.17.jar")):
        raise SystemExit(f"no Spark jars with the Scala 2.13.17 compiler at {jars}")
    return jars


def sources() -> list:
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    if not os.path.isdir(roots[0]):
        raise SystemExit(f"program sources not found at {roots[0]}")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(build_dir: str) -> str:
    """Compile if the sources changed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("compile failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    d = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(d, exist_ok=True)
    print(build(os.path.abspath(d)))
