#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the repository's main sources together with the benchmark's own
sources into `.bench_build/classes` with the Scala compiler that ships in
the Spark distribution (`$SPARK_HOME/jars`, else the jar directory
build.sbt names), so nothing is fetched and nothing is written outside the
checkout. A stamp of
the sources' contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the jar directory the repository's own
    build uses (`unmanagedBase` in build.sbt)."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        if not m:
            sys.exit("perfbench: set SPARK_HOME, or declare unmanagedBase in build.sbt")
        jars = Path(m.group(1))
    if not (jars / "scala-compiler-2.13.17.jar").exists():
        sys.exit(f"perfbench: no Spark distribution with a Scala 2.13.17 compiler at {jars}")
    return jars


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    bench = ROOT / "perfbench" / "src"
    if not main.is_dir() or not bench.is_dir():
        sys.exit(f"perfbench: sources missing under {ROOT} (need src/main/scala and perfbench/src)")
    return sorted(main.rglob("*.scala")) + sorted(bench.rglob("*.scala"))


def build() -> Path:
    """Compile if the sources changed; return the classes directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = CLASSES / ".stamp"
    if stamp.exists() and stamp.read_text() == h.hexdigest():
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-nowarn", "-d", str(CLASSES), f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    stamp.write_text(h.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())


# Spark 4 on JDK 17 needs these opens when the session is built outside
# spark-submit (the list of org.apache.spark.launcher.JavaModuleOptions).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java_command(main: str, args: list, work: Path, heap: str = "3g") -> list:
    """The java command running `main` from the built classes, with every
    scratch path Spark and the JVM use kept under `work`."""
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    return (["java", f"-Xmx{heap}", "-Xss4m"] + OPENS + [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
        "-cp", f"{CLASSES}:{spark_jars()}/*", main] + [str(a) for a in args])
