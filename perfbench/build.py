"""Build file of the benchmark: compiles the engine (src/main) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution the engine builds against, into the build directory.

    python3 perfbench/build.py        # prints the classpath it built

Outputs are keyed by a hash of their sources, so an unchanged tree is not
rebuilt. The build directory is $CARGO_TARGET_DIR (default .bench_build),
relative to the repository root.
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = (ROOT / "build.sbt").read_text() if (ROOT / "build.sbt").is_file() else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            raise BuildError("set SPARK_HOME: no unmanagedBase in build.sbt")
        jars = Path(m.group(1))
    if not (jars / f"scala-compiler-{SCALA_VERSION}.jar").is_file():
        raise BuildError(f"no scala-compiler-{SCALA_VERSION}.jar under {jars} (set SPARK_HOME)")
    return jars


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (d if d.is_absolute() else ROOT / d) / "perfbench"


def sources(*dirs: Path, exts=(".scala", ".java")) -> list:
    out = []
    for d in dirs:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d}")
        out += sorted(p for p in d.rglob("*") if p.is_file() and p.suffix in exts)
    if not out:
        raise BuildError(f"no sources under {', '.join(map(str, dirs))}")
    return out


def digest(paths: list, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def compile_tree(name: str, srcs: list, classpath: list, resources: Path, jars: Path,
                 key: str) -> Path:
    out = build_dir() / f"{name}-{key}"
    if (out / ".done").is_file():
        return out
    tmp = build_dir() / f"{name}-{key}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join([str(tmp)] + [str(c) for c in classpath] + [str(jars / "*")])
    java_srcs = [str(p) for p in srcs if p.suffix == ".java"]
    scala_srcs = [str(p) for p in srcs if p.suffix == ".scala"]
    if java_srcs:
        run(["javac", "-J-XX:-UsePerfData", "-encoding", "UTF-8", "-nowarn", "-d", str(tmp),
             "-cp", cp] + java_srcs)
    compiler_cp = os.pathsep.join(str(jars / f"scala-{m}-{SCALA_VERSION}.jar")
                                  for m in ("compiler", "library", "reflect"))
    run(["java", "-Xss8m", "-Xmx1g", "-XX:-UsePerfData", "-cp", compiler_cp,
         "scala.tools.nsc.Main",
         "-encoding", "UTF-8", "-nowarn", "-d", str(tmp), "-classpath", cp] + scala_srcs)
    if resources is not None and resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    (tmp / ".done").write_text(key)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def run(cmd: list) -> None:
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"{cmd[0]} failed ({r.returncode}):\n{r.stdout[-4000:]}")


def build() -> list:
    """Compile engine and harness if needed; return the classpath entries."""
    jars = spark_jars()
    engine_srcs = sources(ROOT / "src" / "main" / "scala", ROOT / "src" / "main" / "java")
    engine_res = ROOT / "src" / "main" / "resources"
    if not engine_res.is_dir():
        raise BuildError(f"missing {engine_res}")
    bench_srcs = sources(BENCH / "src", exts=(".scala",))
    build_dir().mkdir(parents=True, exist_ok=True)
    with open(build_dir() / ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        engine_key = digest(engine_srcs + sorted(p for p in engine_res.rglob("*") if p.is_file()))
        engine = compile_tree("engine", engine_srcs, [], engine_res, jars, engine_key)
        bench = compile_tree("harness", bench_srcs, [engine], None, jars,
                             digest(bench_srcs, engine_key))
    return [bench, engine]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(str(p) for p in build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
