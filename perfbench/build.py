"""Build file of the benchmark: compiles the engine sources
(``src/main/scala``) together with the benchmark's own sources
(``perfbench/scala``) with the Scala compiler that ships among the Spark
jars, into ``.bench_build/classes`` of the checkout.

The jar directory is the ``unmanagedBase`` named in the repository's
``build.sbt`` (or ``$SPARK_HOME/jars``). A stamp over every source file
skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def jar_dir() -> Path:
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources missing: {engine}")
    found = sorted(engine.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))
    if not found:
        raise BuildError("no Scala sources")
    return found


def ensure_built() -> str:
    """Compile if the sources changed; return the runtime classpath."""
    jars = jar_dir()
    srcs = sources()
    h = hashlib.sha256(str(jars).encode())
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return classpath
    if classes.exists():
        for f in sorted(classes.rglob("*"), reverse=True):
            f.rmdir() if f.is_dir() else f.unlink()
    classes.mkdir(parents=True, exist_ok=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", f"{jars}/*", f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    stamp_file.write_text(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
