"""Build file of the benchmark: compiles the program's sources together
with the harness into perfbench/build/classes.

The program is built from source, with the Scala compiler and Spark jars
found in the directory the repository's build.sbt names as its
`unmanagedBase`. A build is skipped when a hash of every source matches
the last one.

    python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "build"


class BuildError(Exception):
    pass


def jar_dir():
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise BuildError(f"no build.sbt next to {HERE.name}/: not a checkout of the program")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    d = pathlib.Path(m.group(1))
    if not d.is_dir():
        raise BuildError(f"jar directory {d} is missing")
    return d


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError("no program sources under src/main/scala")
    files = sorted(program.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files


def classpath():
    return f"{OUT / 'classes'}{os.pathsep}{jar_dir() / '*'}"


def build(log=sys.stderr):
    jars = jar_dir()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = OUT / "stamp"
    if stamp.is_file() and stamp.read_text() == h.hexdigest():
        return
    compiler = sorted(jars.glob("scala-compiler-*.jar"))
    library = sorted(jars.glob("scala-library-*.jar"))
    reflect = sorted(jars.glob("scala-reflect-*.jar"))
    if not (compiler and library and reflect):
        raise BuildError(f"no Scala compiler jars in {jars}")
    shutil.rmtree(OUT, ignore_errors=True)
    (OUT / "classes").mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp",
           os.pathsep.join(str(j) for j in compiler + library + reflect),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
           "-d", str(OUT / "classes"), f"@{argfile}"]
    print(f"building {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    stamp.write_text(h.hexdigest())


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
