"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's Scala sources into one class directory, with scalac run
straight from the Spark jar directory the project build names
(`unmanagedBase` in build.sbt), so no dependency resolution is involved.

The output lands in `.bench_build/<source hash>/classes`; a tree whose
sources are unchanged is compiled once.

    python3 perfbench/build.py      # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = ("src/main/scala", "src/main/resources", "perfbench/scala")


def spark_jars() -> Path:
    """The jar directory of the project's Spark: $SPARK_HOME/jars when set,
    else build.sbt's `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    if not m:
        sys.exit("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return Path(m.group(1))


def classpath(jars: Path) -> str:
    return os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))


def sources():
    files = []
    for d in SOURCE_DIRS:
        files += sorted(p for p in (ROOT / d).rglob("*") if p.is_file())
    return files


def ensure() -> Path:
    """Returns the class directory for the current sources, compiling it if
    it is not there yet."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    out = ROOT / ".bench_build" / digest.hexdigest()[:16]
    classes = out / "classes"
    if (out / "ok").exists():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    jars = spark_jars()
    compiler = [str(next(jars.glob(f"scala-{n}-2.*.jar")))
                for n in ("compiler", "library", "reflect")]
    scala = [str(f) for f in files if f.suffix == ".scala"]
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(scala) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath(jars),
           "-d", str(classes), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        sys.exit(f"compilation failed ({r.returncode})")
    shutil.copytree(ROOT / "src/main/resources", classes, dirs_exist_ok=True)
    (out / "ok").write_text("")
    return classes


if __name__ == "__main__":
    print(ensure())
