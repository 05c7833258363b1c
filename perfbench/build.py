"""Build for the benchmark: compiles the system's main sources together
with the benchmark's own Scala sources into one class directory.

The output lands in `$CARGO_TARGET_DIR` (default `.bench_build`) under a
name derived from the sources' content, so an unchanged tree is built
once and a changed one is rebuilt. The Scala compiler and Spark come
from the Spark distribution's jar directory: `$SPARK_HOME/jars`, else
the `unmanagedBase` the sbt build compiles against.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class BuildError(Exception):
    pass


def spark_jars():
    places = []
    if os.environ.get("SPARK_HOME"):
        places.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m:
        places.append(Path(m.group(1)))
    for jars in places:
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark jars with a Scala compiler (set SPARK_HOME)")


def out_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"system sources not found at {main}")
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "scala").glob("*.scala"))
    if not files:
        raise BuildError("no Scala sources to build")
    return files


def build():
    """Returns the class directory, compiling it first if needed."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    classes = out_dir() / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".built").exists():
        return classes
    tmp = classes.with_name(classes.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with code {r.returncode}")
    argfile.unlink()
    (tmp / ".built").touch()
    for old in out_dir().glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
