"""Build file of the benchmark: compiles graft's main sources and the
benchmark harness with the Scala compiler that ships in the Spark
distribution, so a checkout builds with no sbt state and no network.

    python3 perfbench/build.py          # prints the runtime classpath

Output goes to `$CARGO_TARGET_DIR` (default `.bench_build`) under the
checkout root and is reused while the sources' hash is unchanged.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
GRAFT_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"


def spark_jars():
    """The Spark distribution's jars: $SPARK_JARS_DIR, else $SPARK_HOME/jars,
    else the jars of the installed pyspark package."""
    if os.environ.get("SPARK_JARS_DIR"):
        return Path(os.environ["SPARK_JARS_DIR"])
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    try:
        import pyspark
    except ImportError:
        raise SystemExit("build: no Spark distribution found (set SPARK_HOME or SPARK_JARS_DIR)")
    return Path(pyspark.__file__).parent / "jars"


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def _sources():
    if not GRAFT_SRC.is_dir():
        raise SystemExit(f"build: {GRAFT_SRC.relative_to(ROOT)} not found — run from a graft checkout")
    return sorted(GRAFT_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def source_hash():
    h = hashlib.sha256()
    for p in _sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; return (classpath, source hash)."""
    srcs = _sources()
    jars = spark_jars()
    if not list(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {jars} (set SPARK_JARS_DIR)")
    digest = source_hash()
    out = build_dir() / "classes"
    stamp = build_dir() / "classes.sha256"
    cp_jars = f"{jars}/*"
    if not (stamp.exists() and stamp.read_text() == digest and out.is_dir()):
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        argfile = build_dir() / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in srcs))
        print(f"[perfbench] compiling {len(srcs)} Scala sources", file=log, flush=True)
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp_jars, "scala.tools.nsc.Main",
             "-nowarn", "-d", str(out), "-classpath", cp_jars, f"@{argfile}"],
            stdout=log, stderr=log)
        if r.returncode != 0:
            raise SystemExit(f"build: scalac exited {r.returncode}")
        stamp.write_text(digest)
    return f"{out}:{cp_jars}", digest


if __name__ == "__main__":
    print(build()[0])
