"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/scala) with
the Scala compiler among the Spark jars the sbt build uses, into
.bench_build/classes-<source hash>/. A build whose sources are unchanged is
reused.

Usage: python3 perfbench/build.py   (prints the classes directory)
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
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark jars the sbt build compiles against (its `unmanagedBase`),
    or $SPARK_HOME/jars when set."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler under {jars}")
    return os.path.join(jars, "*")


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise SystemExit(f"perfbench: program sources not found at {prog}")
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    res = os.path.join(ROOT, "src", "main", "resources")
    resources = sorted(f for f in glob.glob(os.path.join(res, "**", "*"), recursive=True) if os.path.isfile(f))
    return files, res, resources


def build():
    """Return the classes directory, compiling first if needed."""
    files, res_root, resources = sources()
    h = hashlib.sha256()
    for f in files + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars()
    argfile = os.path.join(BUILD, "scalac-args.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", jars, "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    rc = subprocess.call(cmd, stdout=sys.stderr)
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"perfbench: scalac failed ({rc})")
    for f in resources:
        dst = os.path.join(out, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(out, ".ok"), "w").close()
    # drop builds of other source states
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build())
