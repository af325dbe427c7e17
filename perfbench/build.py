#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src/main/scala)
with the Scala compiler that ships in the Spark distribution's jars, and,
with --tests, the benchmark's self-tests (perfbench/src/test/scala).

Output goes to .bench_build/ at the repository root. A build is skipped when
a stamp of every input file's path and content is unchanged.

    python3 perfbench/build.py [--tests]
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build"
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "")) / "jars"
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def scala_files(*dirs):
    return sorted(p for d in dirs if d.is_dir() for p in d.rglob("*.scala"))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_classpath():
    if not SPARK_JARS.is_dir():
        raise BuildError(f"no Spark jars at '{SPARK_JARS}': set SPARK_HOME to a Spark 4 "
                         "installation")
    return str(SPARK_JARS / "*")


def compile_to(dest, sources, classpath, resources=None, depends=None):
    """Compiles `sources` into `dest` unless its stamp, which also covers
    the stamp of the `depends` build output, is current."""
    resource_files = sorted(p for p in resources.rglob("*") if p.is_file()) \
        if resources and resources.is_dir() else []
    want = stamp(sources + resource_files)
    if depends is not None:
        want += "+" + (depends / ".stamp").read_text()
    stamp_file = dest / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want:
        return dest
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = os.pathsep.join(str(SPARK_JARS / f"scala-{m}-{SCALA_VERSION}.jar")
                               for m in ("compiler", "library", "reflect"))
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", str(tmp), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    for f in resource_files:
        target = tmp / f.relative_to(resources)
        target.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, target)
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    return dest


def build(tests=False):
    """Returns the runtime classpath, building what is out of date."""
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"no program sources at {program}")
    spark = spark_classpath()
    classes = compile_to(OUT / "classes",
                         scala_files(program, BENCH / "src" / "main" / "scala"),
                         spark, resources=ROOT / "src" / "main" / "resources")
    cp = [str(classes), spark]
    if tests:
        test_classes = compile_to(OUT / "test-classes",
                                  scala_files(BENCH / "src" / "test" / "scala"),
                                  os.pathsep.join(cp), depends=classes)
        cp.insert(0, str(test_classes))
    return os.pathsep.join(cp)


if __name__ == "__main__":
    try:
        build(tests="--tests" in sys.argv[1:])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
