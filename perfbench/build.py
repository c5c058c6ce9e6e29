"""Build file of the benchmark package.

Compiles the program (`src/main/scala` at the repository root) and the
benchmark client (`perfbench/src`) with the Scala compiler that ships in
the Spark distribution, into `.bench_build/classes`. Nothing is fetched:
the compiler and every dependency come from the jar directory the root
`build.sbt` names as `unmanagedBase` (or `$SPARK_HOME/jars`).

A build is skipped when the sources are unchanged since the last one.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = Path(__file__).resolve().parent / "src"
SCALA = "2.13.17"


def spark_jars():
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if m:
        return Path(m.group(1))
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    raise SystemExit("build: no jar directory in build.sbt and SPARK_HOME unset")


def sources():
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not any(f.is_relative_to(PROGRAM_SRC) for f in files):
        raise SystemExit(f"build: no program sources under {PROGRAM_SRC}")
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def classpath():
    """Runtime classpath: compiled classes, then every Spark jar."""
    return f"{BUILD / 'classes'}:{spark_jars()}/*"


def build():
    """Compile if needed; return the source stamp of the build."""
    files = sources()
    s = stamp(files)
    done = BUILD / "classes.stamp"
    if done.exists() and done.read_text() == s:
        return s
    jars = spark_jars()
    compiler = ":".join(str(jars / f"scala-{p}-{SCALA}.jar")
                        for p in ("compiler", "library", "reflect"))
    out = BUILD / "classes"
    if out.exists():
        subprocess.run(["rm", "-rf", str(out)], check=True)
    out.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    done.write_text(s)
    return s


if __name__ == "__main__":
    print(build())
