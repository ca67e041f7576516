"""Build file of the benchmark: compiles graft's engine sources
(`src/main/scala`) together with the benchmark program (`perfbench/src`)
with the Scala compiler that ships in Spark's jars directory
(`$SPARK_HOME/jars`, else the `unmanagedBase` of the repository's
build.sbt).

    python3 perfbench/build.py        # prints the classes directory

The output goes to `$CARGO_TARGET_DIR` (default `.bench_build`) under a
directory named by a hash of every source file, so an unchanged tree is
not rebuilt.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)',
                      (ROOT / "build.sbt").read_text())
        jars = Path(m.group(1)) if m else Path("jars")
    found = sorted(jars.glob("*.jar"))
    if not found:
        sys.exit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return found


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def build():
    """Compile if needed; return (classes dir, classpath list)."""
    jars = spark_jars()
    files = sorted(f for d in SOURCES for f in d.rglob("*.scala"))
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit(f"perfbench: graft's sources are missing under {ROOT}/src")
    h = hashlib.sha256()
    for f in files + [Path(j.name) for j in jars]:
        h.update(str(f.relative_to(ROOT) if f.is_absolute() else f).encode())
        if f.is_absolute():
            h.update(f.read_bytes())
    out = build_dir() / f"classes-{h.hexdigest()[:16]}"
    cp = [str(j) for j in jars]
    if out.is_dir():
        return out, cp
    tmp = Path(f"{out}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = build_dir() / f"scalac-{os.getpid()}.args"
    args.write_text("\n".join(str(f) for f in files))
    try:
        res = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={build_dir()}", "-cp", os.pathsep.join(cp),
             "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
             "-classpath", os.pathsep.join(cp), f"@{args}"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=800)
    finally:
        args.unlink(missing_ok=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"perfbench: compile failed\n{res.stdout[-4000:]}")
    (tmp / "log4j2.properties").write_text(
        (ROOT / "perfbench" / "log4j2.properties").read_text())
    try:
        tmp.rename(out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    for old in build_dir().glob("classes-*"):
        if old != out and ".tmp" not in old.name:
            shutil.rmtree(old, ignore_errors=True)
    return out, cp


if __name__ == "__main__":
    print(build()[0])
