"""Build file of the benchmark: compiles graft's `src/main/scala` together
with the benchmark's own `perfbench/src` into `<build>/classes`.

The Scala compiler and every library come from the Spark distribution
(`$SPARK_HOME/jars`, or the `jars` directory beside the `spark-submit`
found on PATH), the same jars the sbt build uses, so the build needs no
network and no sbt. A build is skipped
when the hash of all sources matches the last successful build.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


class BuildError(Exception):
    pass


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    bench = ROOT / "perfbench" / "src"
    main_files = sorted(main.rglob("*.scala")) if main.is_dir() else []
    if not main_files:
        raise BuildError(f"no graft sources under {main}")
    return main_files + sorted(bench.rglob("*.scala"))


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the first `jars` directory holding Spark
    core beside a `spark-submit` on PATH (wrappers such as pip's pyspark
    script have none beside them)."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return Path(home) / "jars"
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d or ".") / "spark-submit"
        if submit.is_file():
            jars = submit.resolve().parent.parent / "jars"
            if any(jars.glob("spark-core_*.jar")):
                return jars
    raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")


def classpath() -> str:
    jars = spark_jars()
    if not jars.is_dir():
        raise BuildError(f"Spark jars not found at {jars}")
    return str(jars / "*")


def build() -> Path:
    """Compile if the sources changed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    out.mkdir(parents=True, exist_ok=True)
    staging = out / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir()
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath(), "-d", str(staging), f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError(f"scalac failed with code {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
