"""Build of the benchmark: compiles the engine (`src/main/scala`) and the
harness (`perfbench/harness`) with the Scala compiler that ships with Spark,
into `.bench_build/classes`. A build is reused while no source changes. The
Spark jars are the ones `build.sbt` names as its `unmanagedBase`.

Run from the repo root: `python3 perfbench/build.py`."""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build"


def sources():
    found = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not found:
        raise SystemExit("build: no engine sources under src/main/scala")
    return found + sorted(glob.glob("perfbench/harness/**/*.scala", recursive=True))


def spark_classpath():
    with open("build.sbt") as f:
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not found:
        raise SystemExit("build: build.sbt names no unmanagedBase jar dir")
    jars = sorted(glob.glob(f"{found.group(1)}/*.jar"))
    if not jars:
        raise SystemExit(f"build: no jars under {found.group(1)}")
    return ":".join(jars)


def build():
    """Returns the classpath of the built engine and harness."""
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode() + b"\0")
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    cp = spark_classpath()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return f"{classes}:{cp}"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
            "-nowarn", "-d", classes, "-classpath", cp] + srcs
    proc = subprocess.run(args, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build: scalac failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return f"{classes}:{cp}"


if __name__ == "__main__":
    build()
