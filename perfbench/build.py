#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in the Spark distribution's jars, against those same jars — the classpath
build.sbt gives the project. Output goes to .bench_build/classes-<stamp>,
where the stamp hashes every source file, so an unchanged tree reuses its
build and any edit rebuilds.

    python3 perfbench/build.py        # prints the classes directory
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
BUILD_DIR = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark jars directory: $SPARK_HOME/jars, else build.sbt's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME or keep build.sbt's unmanagedBase")


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not (ROOT / "build.sbt").is_file() or not main.is_dir():
        raise BuildError(f"not a graft checkout: {ROOT} has no build.sbt and src/main/scala")
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no sources")
    return files


def stamp(files, jars: Path) -> str:
    h = hashlib.sha256()
    for f in files + [Path(__file__).resolve()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    return h.hexdigest()[:16]


def build(log=sys.stderr) -> Path:
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    out = BUILD_DIR / f"classes-{stamp(files, jars)}"
    if (out / ".complete").is_file():
        return out
    tmp = BUILD_DIR / f"tmp-classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD_DIR / f"sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    print(f"[build] compiling {len(files)} sources into {out.name}", file=log, flush=True)
    try:
        proc = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    finally:
        argfile.unlink(missing_ok=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    (tmp / ".complete").write_text("ok\n")
    # keep only the newest build
    for old in BUILD_DIR.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


def classpath() -> str:
    return f"{build()}{os.pathsep}{spark_jars() / '*'}"


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
