"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's jars
directory, into .perfbench/build/{program,bench}. A stamp of the source
contents skips a compile when nothing changed.

    python3 perfbench/build.py          # prints the run classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench" / "build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars directory build.sbt names as unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
        if m is None:
            raise BuildError("no Spark jars: set SPARK_HOME or name unmanagedBase in build.sbt")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def _stamp(files: list) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _compile(name: str, scala: list, resources: list, resource_base: Path, classpath: str,
             depends: str = "") -> Path:
    """Compiles `scala` into OUT/<name> unless the stamp of the inputs (and of
    what they depend on) is unchanged."""
    classes = OUT / name
    stamp_file = OUT / f"{name}.stamp"
    stamp = _stamp(scala + resources) + classpath + depends
    if stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    tmp = OUT / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / f"{name}.sources"
    argfile.write_text("\n".join(str(p) for p in scala) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", classpath, f"@{argfile}"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed on {name} with exit code {r.returncode}")
    for p in resources:
        dst = tmp / p.relative_to(resource_base)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy2(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


def build() -> str:
    """Builds the program, then the benchmark; returns the run classpath."""
    jars = f"{spark_jars()}/*"
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"program sources not found: {main}")
    res = ROOT / "src" / "main" / "resources"
    resources = sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []
    program = _compile("program", sorted(main.rglob("*.scala")), resources, res, jars)
    bench_src = sorted((ROOT / "perfbench" / "src").glob("*.scala"))
    bench = _compile("bench", bench_src, [], ROOT, f"{program}:{jars}",
                     (OUT / "program.stamp").read_text())
    return f"{bench}:{program}:{jars}"


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
