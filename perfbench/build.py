"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own Scala sources with the Scala compiler bundled in Spark's
jars, into a content-addressed directory under `.bench_build/`.

A build is reused while no source, resource or jar name changes.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
MAIN_SRC = ROOT / "src" / "main" / "scala"
MAIN_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: `$SPARK_HOME/jars`, else next to `spark-submit`."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def _sources() -> list:
    if not MAIN_SRC.is_dir():
        raise BuildError(f"no program sources under {MAIN_SRC.relative_to(ROOT)}")
    srcs = sorted(MAIN_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not srcs:
        raise BuildError("no Scala sources found")
    return srcs


def _stamp(srcs: list, jars: Path) -> str:
    h = hashlib.sha256()
    res = sorted(p for p in MAIN_RES.rglob("*") if p.is_file()) if MAIN_RES.is_dir() else []
    for p in srcs + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    return h.hexdigest()[:16]


def build(log=sys.stderr) -> Path:
    """Compile if needed; returns the classes directory."""
    jars = spark_jars()
    srcs = _sources()
    out = BUILD / f"classes-{_stamp(srcs, jars)}"
    if (out / ".complete").exists():
        return out
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / f"tmp-classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = tmp / "sources.txt"
    args.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", str(tmp), "-nowarn", f"@{args}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    args.unlink()
    if MAIN_RES.is_dir():
        shutil.copytree(MAIN_RES, tmp, dirs_exist_ok=True)
    (tmp / ".complete").write_text("ok\n")
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
