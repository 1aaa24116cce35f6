"""Build file of the benchmark: compiles the program (src/main/scala,
with src/main/resources on the class path) together with the benchmark's
own sources (perfbench/src) using the Scala compiler that ships among
the Spark jars the program's build.sbt names. Output is reused while no
source changes.

Run standalone with `python3 perfbench/build.py` from the repository root.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The jar directory build.sbt compiles against (`unmanagedBase`),
    else $SPARK_HOME/jars."""
    candidates = []
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if os.path.isdir(c) and any(n.startswith("scala-compiler") for n in os.listdir(c)):
            return c
    raise SystemExit("perfbench: no Spark jar directory with a Scala compiler found")


def _files(top, suffix):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def build(root, out_dir):
    """Compiles if needed; returns the class path entries to run with."""
    program = os.path.join(root, "src", "main", "scala")
    resources = os.path.join(root, "src", "main", "resources")
    if not os.path.isdir(program):
        raise SystemExit(f"perfbench: program sources not found under {program}")
    sources = _files(program, ".scala") + _files(os.path.join(HERE, "src"), ".scala")
    jars = spark_jars(root)
    h = hashlib.sha256(jars.encode())
    for p in sources + (_files(resources, "") if os.path.isdir(resources) else []):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "classes.stamp")
    fresh = os.path.isfile(stamp_file) and open(stamp_file).read() == stamp
    if not fresh:
        os.makedirs(out_dir, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="classes-", dir=out_dir)
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", cp] + sources
        print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr)
        if subprocess.run(cmd).returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SystemExit("perfbench: compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.replace(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    entries = [classes] + ([resources] if os.path.isdir(resources) else [])
    return entries + [os.path.join(jars, "*")]


if __name__ == "__main__":
    root = os.getcwd()
    build(root, os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
