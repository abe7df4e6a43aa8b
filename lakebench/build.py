"""Build step of the lake benchmark.

Compiles graft's engine sources (src/main/scala) together with the
benchmark's own sources (lakebench/src) into one class directory with the
Scala compiler that ships in the Spark distribution's jars, so the build
needs nothing beyond the Spark install the engine itself compiles against.
The output directory is keyed by a hash of every input file, so a checkout
compiles once and later runs reuse the classes.

    python3 lakebench/build.py [build-dir]
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = ROOT / "lakebench" / "src"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to spark-submit on PATH, else the pyspark package's."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    try:
        import pyspark  # noqa: PLC0415

        candidates.append(Path(pyspark.__file__).parent / "jars")
    except ImportError:
        pass
    for c in candidates:
        if any(c.glob("scala-compiler-*.jar")) and any(c.glob("spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH")
    return found


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def _inputs() -> list:
    if not ENGINE_SRC.is_dir() or not BENCH_SRC.is_dir():
        raise BuildError(f"sources missing: need {ENGINE_SRC} and {BENCH_SRC}")
    scala = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not scala:
        raise BuildError("no Scala sources found")
    res = sorted(p for p in ENGINE_RES.rglob("*") if p.is_file()) if ENGINE_RES.is_dir() else []
    return scala + res


def build(out: Path) -> Path:
    """Returns the class directory, compiling it first if needed."""
    inputs = _inputs()
    h = hashlib.sha256()
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    key = h.hexdigest()[:16]
    dest = out / "lakebench" / f"classes-{key}"
    if (dest / ".built").exists():
        return dest
    tmp = out / "lakebench" / f"compiling-{key}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    jars = spark_jars()
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in inputs if p.suffix == ".scala") + "\n")
    classpath = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp / "classes"), "-classpath", classpath, f"@{argfile}"]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=840)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    if ENGINE_RES.is_dir():
        shutil.copytree(ENGINE_RES, tmp / "classes", dirs_exist_ok=True)
    (tmp / "classes" / ".built").touch()
    shutil.rmtree(dest, ignore_errors=True)
    (tmp / "classes").rename(dest)
    shutil.rmtree(tmp, ignore_errors=True)
    return dest


if __name__ == "__main__":
    try:
        print(build(Path(sys.argv[1]) if len(sys.argv) > 1 else build_dir()))
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
