"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the harness
(perfbench/src) with the Scala compiler that ships among Spark's jars, into
.bench_build/perfbench/classes under the repository root. A build is
skipped when no source changed since the last one.

Spark's jars are found through SPARK_HOME, or else through the
`unmanagedBase` the root build.sbt compiles against.

Usage: python3 perfbench/build.py   (prints the run classpath)
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
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources missing: {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def build():
    """Compile if needed; return the classpath to run the harness with."""
    jars = spark_jars()
    if not list(jars.glob("scala-compiler*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.stamp"
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = OUT / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", f"{jars}/*", f"@{argfile}"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    stamp_file.write_text(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
