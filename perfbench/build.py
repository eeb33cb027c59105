#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the harness.

Usage: python3 perfbench/build.py [TARGET_DIR]

Compiles `src/main/scala` (the engine, as the repository builds it) and
`perfbench/src` (the harness) with the Scala compiler that ships in the
Spark distribution's jars ($SPARK_HOME/jars, the same jars build.sbt
compiles against), into TARGET_DIR/classes-<hash>. The hash
covers every source file, so an unchanged tree reuses its classes and a
changed one builds afresh. Prints the classes directory. Run it from the
repository root; it needs no network and writes only under TARGET_DIR.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys



def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark installation on
    PATH whose jars hold a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("build: set SPARK_HOME to a Spark 4 installation")


SPARK_JARS = spark_jars()


def sources():
    engine = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob("perfbench/src/*.scala"))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala "
                         "(run from the repository root)")
    return engine + harness


def build(target):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.abspath(os.path.join(target, "classes-" + h.hexdigest()[:16]))
    if os.path.exists(os.path.join(out, ".built")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(os.path.abspath(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", SPARK_JARS + "/*", "scala.tools.nsc.Main", "-usejavacp",
           "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    os.remove(argfile)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".built"), "w").close()
    return out


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))
