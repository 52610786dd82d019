"""Compile the engine and the benchmark harness with the Scala compiler that
ships in Spark's jar directory. No build tool and no dependency resolution:
the classpath is exactly Spark's jars — the directory the engine's own
`build.sbt` names as `unmanagedBase`, or `$SPARK_HOME/jars` when set.

Outputs go to `.bench_build/` at the repository root and are reused while
the sources are unchanged.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = Path(__file__).resolve().parent / "jvm"


def _spark_jars():
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) \
        if sbt.exists() else None
    return Path(m.group(1)) if m else None


SPARK_JARS = _spark_jars()

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked JVMs).
ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")]


class BuildFailed(RuntimeError):
    pass


def _sources():
    engine = sorted(ENGINE_SRC.rglob("*.scala")) if ENGINE_SRC.is_dir() else []
    if not engine:
        raise BuildFailed(f"no engine sources under {ENGINE_SRC.relative_to(ROOT)}")
    bench = sorted(BENCH_SRC.glob("*.scala"))
    resources = sorted(p for p in ENGINE_RES.rglob("*") if p.is_file()) \
        if ENGINE_RES.is_dir() else []
    return engine, bench, resources


def _stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _scalac(out, classpath, files):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    args = BUILD / f"{out.name}.args"
    args.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", str(SPARK_JARS / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", str(out), f"@{args}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildFailed(f"scalac failed for {out.name}:\n{r.stdout[-4000:]}")


def build():
    """Compile if needed; return the runtime classpath."""
    if SPARK_JARS is None or not list(SPARK_JARS.glob("scala-compiler*.jar")):
        raise BuildFailed(f"no Scala compiler in Spark's jar directory ({SPARK_JARS})")
    engine, bench, resources = _sources()
    BUILD.mkdir(exist_ok=True)
    spark_cp = str(SPARK_JARS / "*")
    engine_out, bench_out = BUILD / "engine", BUILD / "bench"
    stamp_file = BUILD / "stamp"
    stamp = _stamp(engine + bench + resources)
    if not stamp_file.exists() or stamp_file.read_text() != stamp:
        stamp_file.unlink(missing_ok=True)
        print("building engine and harness ...", file=sys.stderr, flush=True)
        _scalac(engine_out, spark_cp, engine)
        _scalac(bench_out, os.pathsep.join([str(engine_out), spark_cp]), bench)
        stamp_file.write_text(stamp)
    return os.pathsep.join([str(engine_out), str(ENGINE_RES), str(bench_out), spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildFailed as e:
        sys.exit(f"build failed: {e}")
