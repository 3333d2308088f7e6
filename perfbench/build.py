"""Build file of the benchmark's JVM side.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (perfbench/src) using the Scala compiler that ships in
Spark's jars directory ($SPARK_HOME/jars), into .bench_build/perfbench.
The classes are packed into one jar, keyed by a hash of every source, so a
checkout builds once and reuses the jar on later runs. (A jar, not a
directory, so that run.py can keep a JVM class-data-sharing archive of it.)

    python3 perfbench/build.py      # prints the jar's path
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return str(exe)


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set")
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    srcs = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not srcs:
        raise BuildError("no sources to compile")
    return srcs


def build() -> Path:
    """Returns the jar of compiled classes, compiling if needed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    for j in sorted(p.name for p in jars.glob("*.jar")):
        h.update(j.encode())
    jar = OUT / f"perfbench-{h.hexdigest()[:16]}.jar"
    if jar.exists():
        return jar
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = OUT / f"classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    cmd = [java(), "-Xmx2g", "-Xss16m", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(tmp)] + [str(s) for s in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    for old in OUT.glob("perfbench-*"):
        old.unlink()
    part = jar.with_suffix(".part")
    with zipfile.ZipFile(part, "w") as z:
        for f in sorted(tmp.rglob("*")):
            z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp, ignore_errors=True)
    part.rename(jar)
    return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
