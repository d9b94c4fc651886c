#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (benchmark/src) into one class directory under
.bench_build/, with the Scala compiler that ships among the Spark jars the
project builds against (build.sbt's unmanagedBase). A build is keyed by
the content of every source file, so an unchanged tree is built once.

Usage: python3 benchmark/build.py      (prints the class directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("benchmark", "src")]
COMPILE_TIMEOUT_S = 800


class BuildError(RuntimeError):
    pass


def spark_jars(root=ROOT):
    """The jar directory build.sbt compiles against (unmanagedBase)."""
    path = os.path.join(root, "build.sbt")
    try:
        with open(path, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        raise BuildError(f"no build.sbt at {root}: not a checkout of the program")
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources(root=ROOT):
    out = []
    for d in SOURCE_DIRS:
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {d}")
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_key(root=ROOT):
    h = hashlib.sha256()
    for p in sources(root) + [os.path.join(root, "build.sbt")]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build(root=ROOT, log=sys.stderr):
    """Compile if needed; return the class directory."""
    jars = spark_jars(root)
    srcs = sources(root)
    out = os.path.join(root, ".bench_build", "classes-" + source_key(root))
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", os.path.join(tmp, "classes"), "@" + argfile]
    print(f"dedupbench: compiling {len(srcs)} sources", file=log, flush=True)
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=COMPILE_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile timed out")
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + p.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(os.path.join(tmp, "classes"), out)
    shutil.rmtree(tmp, ignore_errors=True)
    open(os.path.join(out, ".complete"), "w").close()
    # older builds of other trees are dead weight
    for name in os.listdir(os.path.dirname(out)):
        p = os.path.join(os.path.dirname(out), name)
        if name.startswith("classes-") and p != out:
            shutil.rmtree(p, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"dedupbench: {e}", file=sys.stderr)
        sys.exit(2)
