#!/usr/bin/env python3
"""Build file of the end-to-end benchmark.

Compiles the program (`src/main/scala`) and the benchmark driver
(`e2ebench/scala`) from source with the Scala compiler that ships in the
Spark distribution's jar directory, into `.bench_build/e2ebench/` of the
checkout. Each of the two compiles is cached under a hash of its sources,
so only the first run in a checkout pays for it.

    python3 e2ebench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "e2ebench"
OUT = ROOT / ".bench_build" / "e2ebench"


# Flags of every JVM the benchmark starts: no hsperfdata file outside the checkout, and
# the module opens Spark needs on JDK 17 outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
JVM_FLAGS = ["-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


class BuildError(Exception):
    pass


def _sources(d: Path):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _digest(files, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the jar directory the project's own build
    names (`unmanagedBase` in `build.sbt`)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise BuildError("no Spark jar directory: set SPARK_HOME")
    return Path(m.group(1))


def spark_classpath() -> str:
    jars = sorted(spark_jars().glob("*.jar"))
    if not jars:
        raise BuildError(f"no Spark jars under {spark_jars()}")
    return os.pathsep.join(str(j) for j in jars)


def _compile(name: str, files, classpath: str) -> Path:
    dest = OUT / f"{name}-{_digest(files, classpath)}"
    if (dest / ".done").exists():
        return dest
    if dest.exists():
        shutil.rmtree(dest)
    dest.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(dest),
           "-classpath", classpath] + [str(f) for f in files]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if proc.returncode != 0:
        shutil.rmtree(dest, ignore_errors=True)
        raise BuildError(f"scalac failed for {name}:\n{proc.stdout[-4000:]}")
    (dest / ".done").write_text("ok\n")
    return dest


def build() -> str:
    """Compile what is missing and return the runtime classpath."""
    program = _sources(ROOT / "src" / "main" / "scala")
    bench = _sources(BENCH / "scala")
    if not program:
        raise BuildError(f"no program sources under {ROOT / 'src/main/scala'}")
    if not bench:
        raise BuildError(f"no benchmark sources under {BENCH / 'scala'}")
    sparkcp = spark_classpath()
    prog_dir = _compile("program", program, sparkcp)
    bench_dir = _compile("bench", bench, os.pathsep.join([str(prog_dir), sparkcp]))
    return os.pathsep.join([str(bench_dir), str(prog_dir), sparkcp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
