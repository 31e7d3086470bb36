"""Build file of the lifecycle benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (lifebench/src/main/scala, plus lifebench/src/test/scala
for the self-test) with the Scala compiler that ships in Spark's jar
directory, into .bench_build/<main|test>/classes. A build is skipped
when the stamp of every source file's path and content is unchanged.

    python3 lifebench/build.py [--test]
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars) or not any(
            f.startswith("scala-compiler") for f in os.listdir(jars)):
        raise SystemExit(f"no Spark jar directory with a Scala compiler at {jars}")
    return jars


def source_dirs(test):
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HERE, "src", "main", "scala")]
    if test:
        dirs.append(os.path.join(HERE, "src", "test", "scala"))
    return dirs


def sources(test):
    files = []
    for d in source_dirs(test):
        if not os.path.isdir(d):
            raise SystemExit(f"source directory missing: {os.path.relpath(d, ROOT)}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(test=False):
    """Compile if stale; return the classes directory."""
    files = sources(test)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(ROOT, ".bench_build", "test" if test else "main")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", classes,
           "@" + argfile]
    print(f"[lifebench] compiling {len(files)} sources", file=sys.stderr)
    rc = subprocess.call(cmd, stdout=sys.stderr)
    if rc != 0:
        raise SystemExit(f"compile failed (exit {rc})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(test="--test" in sys.argv[1:]))
