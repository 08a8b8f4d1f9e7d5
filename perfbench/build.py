#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library sources (``src/main/scala`` of the checkout) together
with the benchmark's own sources (``perfbench/src``) using the Scala
compiler that ships in the Spark distribution's ``jars`` directory, so the
build needs nothing beyond Spark and a JDK.  Output goes to
``.bench_build/perfbench`` under the checkout root; a stamp over every
source file makes a repeated build a no-op.

    python3 perfbench/build.py           # build
    python3 perfbench/build.py test      # build, then run the benchmark's own tests
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
BUILD_DIR = ROOT / ".bench_build" / "perfbench"

# Spark 4 on JDK 17 needs these opens when a SparkSession is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPENS = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(RuntimeError):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home, "bin", "java") if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        raise BuildError("no java executable (set JAVA_HOME or put java on PATH)")
    return str(exe)


def spark_jars() -> Path:
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    one next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("Spark not found (set SPARK_HOME or put spark-submit on PATH)")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home, "jars")
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"{jars} holds no scala-compiler jar")
    return jars


def _sources(*dirs: Path) -> list:
    out = []
    for d in dirs:
        if not d.is_dir():
            raise BuildError(f"source directory {d} is missing")
        out += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return out


def _stamp(files: list, jars: Path) -> str:
    h = hashlib.sha256()
    for name in sorted(p.name for p in jars.glob("*.jar")):
        h.update(name.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(files: list, out: Path, classpath: str, jars: Path) -> None:
    stamp_file = out.parent / (out.name + ".stamp")
    stamp = _stamp(files, jars)
    if out.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    args_file = out.parent / (out.name + ".args")
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", str(out), f"@{args_file}"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    stamp_file.write_text(stamp)


def build() -> str:
    """Compiles library + benchmark; returns the runtime classpath."""
    jars = spark_jars()
    classes = BUILD_DIR / "classes"
    _compile(_sources(LIB_SRC, BENCH_DIR / "src"), classes, f"{jars}/*", jars)
    return f"{classes}{os.pathsep}{jars}/*"


def build_tests() -> str:
    cp = build()
    test_classes = BUILD_DIR / "test-classes"
    _compile(_sources(BENCH_DIR / "test"), test_classes, cp, spark_jars())
    return f"{test_classes}{os.pathsep}{cp}"


def run_tests() -> int:
    cp = build_tests()
    work = BUILD_DIR / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        return subprocess.run(
            [java(), *JVM_OPENS, "-Xmx1g", f"-Djava.io.tmpdir={work / 'tmp'}",
             "-cp", cp, "graft.perfbench.SelfTest", str(work)],
            cwd=ROOT).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        if sys.argv[1:] == ["test"]:
            sys.exit(run_tests())
        if sys.argv[1:]:
            sys.exit("usage: build.py [test]")
        build()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
