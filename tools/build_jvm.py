#!/usr/bin/env python
"""Compile reindexer_spark/jvm/*.java into the jar get_spark puts on the
driver classpath.

Usage: python tools/build_jvm.py [--out JAR]

Runs ``javac --release 17`` against ``$SPARK_HOME/jars/*`` (pyspark's own
Spark home when the variable is unset) and writes the classes into a jar
whose entries carry a fixed timestamp, so rebuilding unchanged sources
rewrites the same bytes.  The default output is the committed
``reindexer_spark/jvm/reindexer-fs.jar``; rebuild it after editing a source.
"""
from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_DIR = os.path.join(ROOT, "reindexer_spark", "jvm")
JAR = os.path.join(SRC_DIR, "reindexer-fs.jar")
MANIFEST = "Manifest-Version: 1.0\r\n\r\n"


def spark_home() -> str:
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def _entry(name: str) -> zipfile.ZipInfo:
    info = zipfile.ZipInfo(name)  # 1980-01-01 00:00: the same bytes every build
    info.compress_type = zipfile.ZIP_DEFLATED
    return info


def build(out: str = JAR) -> str:
    sources = sorted(glob.glob(os.path.join(SRC_DIR, "*.java")))
    classpath = os.path.join(spark_home(), "jars", "*")
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", classpath, "-d", classes, *sources],
            check=True,
        )
        names = sorted(
            os.path.relpath(os.path.join(d, f), classes)
            for d, _, files in os.walk(classes)
            for f in files
        )
        with zipfile.ZipFile(out, "w") as jar:
            jar.writestr(_entry("META-INF/MANIFEST.MF"), MANIFEST)
            for name in names:
                with open(os.path.join(classes, name), "rb") as fh:
                    jar.writestr(_entry(name.replace(os.sep, "/")), fh.read())
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=JAR, help="jar to write (default: %(default)s)")
    print(build(ap.parse_args().out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
