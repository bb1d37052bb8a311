"""Build the benchmark: compile the repository's main sources and the
benchmark's own sources with the Scala compiler that ships with Spark.

    python3 perfbench/build.py          # prints the classpath directory

The output lands in `.bench_build/perfbench-<hash>/` under the checkout,
keyed by a hash of every input, so an unchanged tree builds once.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) \
        if sbt.is_file() else None
    if not m:
        raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase")
    return Path(m.group(1))


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def build_dir():
    return ROOT / ".bench_build"


def spark_classpath():
    jars = sorted(spark_jars().glob("*.jar"))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {spark_jars()}")
    return [str(j) for j in jars]


def inputs():
    main = ROOT / "src" / "main"
    if not (main / "scala").is_dir():
        raise SystemExit("build: the repository's src/main/scala is missing")
    files = sorted(p for p in main.rglob("*") if p.is_file())
    files += sorted((BENCH / "src").rglob("*.scala"))
    return files + [Path(__file__).resolve()]


def build():
    """Compile if needed; return the directory of compiled classes."""
    files = inputs()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = build_dir() / f"perfbench-{h.hexdigest()[:16]}"
    classes = out / "classes"
    if classes.is_dir():
        return classes
    tmp = build_dir() / f"tmp-build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    sources = [str(f) for f in files if f.suffix == ".scala"]
    cp = ":".join(spark_classpath())
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp / "classes"), "-classpath", cp] + sources
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    resources = ROOT / "src" / "main" / "resources"
    if resources.is_dir():
        shutil.copytree(resources, tmp / "classes", dirs_exist_ok=True)
    for stale in build_dir().glob("perfbench-*"):
        shutil.rmtree(stale, ignore_errors=True)
    tmp.rename(out)
    return classes


HEAP = "3g"


def java_command(classes):
    """The JVM command line that runs code from `classes` with Spark."""
    tmpdir = build_dir() / "tmp"
    tmpdir.mkdir(parents=True, exist_ok=True)
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed-size heap: no heap growth during the warm-up or the loop;
    # fixed JIT compiler threads, whose CPU time the benchmark reads
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.sql.session.timeZone=UTC"] + opens + [
            "-cp", ":".join([str(classes)] + spark_classpath())]


if __name__ == "__main__":
    print(build())
