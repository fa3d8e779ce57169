#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the benchmark's
own sources (perfbench/scala) into one class directory, using the Scala
compiler that ships among Spark's jars ($SPARK_HOME/jars). No sbt, no
dependency resolution: the engine's only compile dependencies are those jars.

The output lands in <build dir>/perfbench/classes-<hash of the sources> and
is reused while the sources are unchanged. The build dir is $CARGO_TARGET_DIR
when set, else .bench_build.

usage: python3 perfbench/build.py      (prints the class directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_TREES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
RESOURCES = ROOT / "src" / "main" / "resources"  # read at run time from the class path


class BuildError(Exception):
    pass


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (d if d.is_absolute() else ROOT / d) / "perfbench"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark distribution (its jars/ dir)")
    return Path(home) / "jars"


def _jar(jars: Path, prefix: str) -> str:
    found = sorted(glob.glob(str(jars / f"{prefix}-2.13*.jar")))
    if not found:
        raise BuildError(f"no {prefix} jar in {jars}")
    return found[-1]


def sources() -> list:
    for tree in SOURCE_TREES:
        if not tree.is_dir():
            raise BuildError(f"missing source tree {tree.relative_to(ROOT)}")
    return sorted(p for tree in SOURCE_TREES for p in tree.rglob("*.scala"))


def build() -> Path:
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(_jar(jars, "scala-compiler").encode())
    out = build_dir() / f"classes-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler_cp = os.pathsep.join(_jar(jars, p) for p in ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-cp", str(jars / "*"), "-d", str(tmp)] + [str(p) for p in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    (tmp / ".complete").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
