"""Build file of the benchmark: compiles the engine (`src/main/scala`) and the
harness (`perfbench/harness/src`) with the Scala compiler that ships in the
Spark distribution's jar directory, into `.bench_build/perfbench/classes`.

The build is keyed by a digest of every source file and is skipped when the
key matches the last successful build. Run it directly to build only:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The Spark jar directory (engine runtime and Scala compiler): that of
    `$SPARK_HOME`, else the `unmanagedBase` the engine's build.sbt names."""
    jars = None
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        jars = m.group(1) if m else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "src", "**", "*.scala"),
                               recursive=True))
    return main + harness


def classpath():
    return os.path.join(OUT, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile if the sources changed; returns the runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classpath()
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp",
         os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
         "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(os.path.join(OUT, "classes"), ignore_errors=True)
    os.rename(tmp, os.path.join(OUT, "classes"))
    with open(stamp, "w") as f:
        f.write(key)
    return classpath()


if __name__ == "__main__":
    print(build())
