"""Build file of the benchmark package.

Compiles the program (src/main/scala) and the benchmark (perfbench/src) with
the Scala compiler that ships among the Spark jars named by the repo's
build.sbt (`unmanagedBase`), into $CARGO_TARGET_DIR (default .bench_build)
under the checkout. A content hash skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
BENCH_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")

# Spark 4 on JDK 17 outside spark-submit (the same list build.sbt passes)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-XX:-UsePerfData",
]


def spark_jars():
    """The jar directory the repo builds against (build.sbt unmanagedBase)."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise SystemExit("no build.sbt: run from the root of a checkout of the repo")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler among the jars in {jars}")
    return jars


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_tree(name, srcs, classpath, jars, depends=""):
    """Compile `srcs` into OUT/classes/<name> unless their hash (and the
    hash of what they depend on) matches the last build; returns the hash."""
    dest = os.path.join(OUT, "classes", name)
    h = hashlib.sha256(depends.encode())
    for p in srcs + [classpath]:
        h.update(p.encode())
        if os.path.isfile(p):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = os.path.join(OUT, f"{name}.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return h.hexdigest()
    if not srcs:
        raise SystemExit(f"no sources to build for {name}")
    subprocess.run(["rm", "-rf", dest], check=True)
    os.makedirs(dest)
    argfile = os.path.join(OUT, f"{name}.sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + OUT,
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"compile of {name} failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return h.hexdigest()


def build():
    """Compile both trees; returns the runtime classpath."""
    os.makedirs(OUT, exist_ok=True)
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    main = os.path.join(OUT, "classes", "main")
    bench = os.path.join(OUT, "classes", "bench")
    main_hash = compile_tree("main", sources(os.path.join(ROOT, "src", "main", "scala")), jar_cp, jars)
    compile_tree("bench", sources(BENCH_SRC), main + os.pathsep + jar_cp, jars, depends=main_hash)
    return os.pathsep.join([bench, main, jar_cp])


if __name__ == "__main__":
    print(build())
