"""Build file of the benchmark: compiles the graft library sources together
with the benchmark runner (perfbench/src) into one class directory.

The library is built from source with the Scala compiler that ships in the
Spark distribution's jars, so a fresh checkout needs only a JDK and a Spark
installation (found through SPARK_HOME, or through `spark-submit` on PATH).
The build is skipped when a previous build of exactly the same sources is
present. Run directly to build: `python3 perfbench/build.py`.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "src"
LIB_SRC = ROOT / "src" / "main" / "scala"
LIB_RES = ROOT / "src" / "main" / "resources"


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("build: no Spark installation found (set SPARK_HOME)")
    return Path(home) / "jars"


def sources() -> list:
    if not LIB_SRC.is_dir():
        raise SystemExit(f"build: library sources missing at {LIB_SRC}")
    files = sorted(LIB_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise SystemExit("build: no Scala sources")
    return files


def classpath() -> str:
    """Runtime class path: compiled classes, library resources, Spark jars."""
    return os.pathsep.join([str(build_dir() / "classes"), str(LIB_RES),
                            str(spark_jars() / "*")])


def build(log=sys.stderr) -> Path:
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    key = digest.hexdigest()
    out = build_dir()
    classes = out / "classes"
    stamp = out / "classes.sha256"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == key:
        return classes
    out.mkdir(parents=True, exist_ok=True)
    staging = out / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir()
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    jars = str(spark_jars() / "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(staging),
           "-classpath", jars, "@" + str(argfile)]
    print(f"build: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp.write_text(key)
    return classes


if __name__ == "__main__":
    print(build())
