"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala, resources from
src/main/resources) together with the benchmark's own sources
(perfbench/src) using the Scala compiler that ships in Spark's jars
directory. The output directory is keyed by a digest of every input file,
so an unchanged checkout builds once.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD_DIR = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = ROOT / "perfbench" / "src"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = str(Path(os.path.realpath(exe)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else "java"


def _files(d: Path, suffix: str = ""):
    return sorted(p for p in d.rglob("*") if p.is_file() and p.name.endswith(suffix))


def build() -> Path:
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources not found at {ENGINE_SRC.relative_to(ROOT)}")
    jars = spark_jars()
    sources = _files(ENGINE_SRC, ".scala") + _files(BENCH_SRC, ".scala")
    resources = _files(ENGINE_RES) if ENGINE_RES.is_dir() else []
    digest = hashlib.sha256()
    for p in sources + resources:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    digest.update(" ".join(sorted(os.listdir(jars))).encode())
    out = BUILD_DIR / f"classes-{digest.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out

    tmp = BUILD_DIR / f"tmp-classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = [glob.glob(str(jars / f"scala-{n}-2.13*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError("the Scala 2.13 compiler jars are missing from Spark's jars")
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", str(jars / "*"), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compilation failed (exit {r.returncode})")
    argfile.unlink()
    for p in resources:
        dst = tmp / p.relative_to(ENGINE_RES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    (tmp / ".complete").write_text("")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    for old in BUILD_DIR.glob("classes-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
