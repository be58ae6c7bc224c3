"""Build file of the benchmark: compiles the engine (src/main at the repo
root) together with the benchmark's own sources into one class directory.

It calls the Scala compiler that ships with the Spark jars directly, so a
build needs no sbt, no network and writes nothing outside this directory.
The Spark jars are the ones the repository's build.sbt names as its
`unmanagedBase`, or $SPARK_JARS when set. Builds are keyed by a hash of
every input file and reused when unchanged.

    python3 linkbench/build.py          # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
ENGINE = ROOT / "src" / "main"


def spark_jars():
    if "SPARK_JARS" in os.environ:
        return Path(os.environ["SPARK_JARS"])
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise SystemExit("linkbench: no Spark jar directory: set SPARK_JARS or unmanagedBase in build.sbt")
    return Path(m.group(1))


def jars(spark):
    return sorted(str(p) for p in spark.glob("*.jar"))


def sources():
    files = sorted(p for d in (ENGINE, HERE / "src") for p in d.rglob("*")
                   if p.is_file() and p.suffix in (".scala", ".java"))
    resources = sorted(p for p in (ENGINE / "resources").rglob("*") if p.is_file()) \
        if (ENGINE / "resources").is_dir() else []
    return files, resources


def stamp(files):
    h = hashlib.sha256()
    for p in files + [Path(__file__).resolve()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Returns (class directory, Spark jar directory), compiling first when
    the inputs changed."""
    if not ENGINE.is_dir():
        raise SystemExit(f"linkbench: engine sources not found at {ENGINE}")
    spark = spark_jars()
    compiler = sorted(p for p in spark.glob("scala-*.jar")
                      if p.name.split("-")[1] in ("compiler", "library", "reflect"))
    files, resources = sources()
    out = BUILD / stamp(files + resources)
    if (out / "OK").is_file():
        return out / "classes", spark
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = BUILD / "tmp"
    classes = tmp / "classes"
    classes.mkdir(parents=True)
    cp = ":".join(jars(spark))
    scala = [str(p) for p in files if p.suffix == ".scala"]
    java = [str(p) for p in files if p.suffix == ".java"]
    print(f"linkbench: compiling {len(files)} source files", file=log, flush=True)
    steps = [["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(map(str, compiler)), "scala.tools.nsc.Main",
              "-nowarn", "-classpath", cp, "-d", str(classes)] + scala + java]
    if java:
        steps.append(["javac", "-nowarn", "-cp", f"{classes}:{cp}", "-d", str(classes)] + java)
    for step in steps:
        if subprocess.run(step, stdout=log, stderr=log).returncode != 0:
            raise SystemExit(f"linkbench: {step[0]} failed to compile the sources")
    for r in resources:
        dst = classes / r.relative_to(ENGINE / "resources")
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy2(r, dst)
    (tmp / "OK").write_text("ok\n")
    tmp.rename(out)
    return out / "classes", spark


if __name__ == "__main__":
    print(build()[0])
