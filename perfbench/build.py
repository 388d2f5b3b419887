"""Build the engine and the benchmark with the Scala compiler that ships
in the Spark distribution (no sbt): one scalac pass over the engine's
main sources, the benchmark's sources and its self-test.

    python3 perfbench/build.py            # prints the classes directory

Output goes to $CARGO_TARGET_DIR (default .bench_build) under the
checkout root; a stamp of the source contents skips unchanged rebuilds.
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
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = [BENCH / "src", BENCH / "tests"]


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory the project's build.sbt
    compiles against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("no SPARK_HOME and no unmanagedBase in build.sbt")
    return Path(m.group(1))


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources():
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}")
    out = []
    for d in [ENGINE_SRC] + BENCH_SRC:
        if d.is_dir():
            out += sorted(p for p in d.rglob("*.scala"))
    return out


def build() -> Path:
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = build_dir() / "classes"
    stamp_file = classes / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = build_dir() / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)]
    cmd += [str(p) for p in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("build failed")
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


def java_cmd(classes: Path, main: str, args, tmp: Path) -> list:
    """The JVM command line for one of the benchmark's mains: the JDK 17
    module opens Spark needs outside spark-submit, UTC, temporary files
    under `tmp`."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{spark_jars()}/*", main]
    return cmd + [str(a) for a in args]


if __name__ == "__main__":
    print(build())
