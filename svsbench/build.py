"""Build file of the benchmark package.

Compiles the library sources (``src/main/scala``) together with the
benchmark sources (``svsbench/src``) using the Scala compiler that ships
in the Spark distribution's jar directory, so no build tool, network or
dependency cache is needed. Output goes to
``svsbench/.build/<source digest>/classes`` and is reused while no
source changes.

Usage: ``python3 svsbench/build.py`` (prints the classes directory).
"""

import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
BUILD_DIR = BENCH_DIR / ".build"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    first one beside a spark-submit on PATH that ships a Scala compiler."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        Path(d).resolve().parent for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        jars = home / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources() -> list:
    lib = REPO / "src" / "main" / "scala"
    bench = BENCH_DIR / "src"
    if not lib.is_dir():
        raise BuildError(f"library sources not found at {lib}")
    files = sorted(lib.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def digest(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(REPO)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(log=sys.stderr) -> tuple:
    """Returns (classes dir, source digest), compiling if needed."""
    files = sources()
    dig = digest(files)
    out = BUILD_DIR / dig
    classes = out / "classes"
    if (out / "ok").exists():
        return classes, dig
    jars = spark_jars()
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="build-", dir=BUILD_DIR))
    try:
        (tmp / "classes").mkdir()
        argfile = tmp / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cp = f"{jars}/*"
        cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", str(tmp / "classes"), "-classpath", cp,
               f"@{argfile}"]
        print(f"svsbench: compiling {len(files)} sources", file=log, flush=True)
        res = subprocess.run(cmd, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            raise BuildError("compilation failed:\n" + res.stdout[-4000:])
        (tmp / "ok").write_text(dig + "\n")
        for old in BUILD_DIR.iterdir():
            if old.is_dir() and old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        os.replace(tmp, out)
    finally:
        if tmp.exists():
            shutil.rmtree(tmp, ignore_errors=True)
    return classes, dig


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"svsbench: {e}", file=sys.stderr)
        sys.exit(2)
