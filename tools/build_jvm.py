"""Rebuild tera_spark/jvm/tera_spark-fs.jar from the Java sources beside it.

    python tools/build_jvm.py

Compiles tera_spark/jvm/src with ``javac --release 17`` against the jars of
the installed pyspark and writes the jar with sorted entries and fixed entry
times, so the same sources and compiler give the same bytes. The jar is
committed: compiling at session start would add javac's seconds to every
session's set-up. tests/test_localfs.py checks that the committed classes
match what the sources compile to.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

import pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from tera_spark.session import LOCALFS_JAR as JAR  # noqa: E402

SRC_DIR = os.path.join(os.path.dirname(JAR), "src")


def compile_classes() -> dict[str, bytes]:
    """Compile every source under SRC_DIR; return ``{entry name: class bytes}``."""
    cp = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    sources = sorted(glob.glob(os.path.join(SRC_DIR, "**", "*.java"), recursive=True))
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(
            ["javac", "--release", "17", "-Xlint:all,-path", "-Werror", "-cp", cp, "-d", out, *sources],
            check=True,
        )
        classes = {}
        for path in sorted(glob.glob(os.path.join(out, "**", "*.class"), recursive=True)):
            with open(path, "rb") as fh:
                classes[os.path.relpath(path, out).replace(os.sep, "/")] = fh.read()
    return classes


def jar_classes() -> dict[str, bytes]:
    with zipfile.ZipFile(JAR) as zf:
        return {n: zf.read(n) for n in zf.namelist() if n.endswith(".class")}


def write_jar(classes: dict[str, bytes]) -> None:
    with zipfile.ZipFile(JAR, "w") as zf:
        for name in sorted(classes):
            zf.writestr(zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)), classes[name])


def main() -> int:
    classes = compile_classes()
    write_jar(classes)
    print(f"wrote {JAR}: {', '.join(sorted(classes))}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
