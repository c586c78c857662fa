"""Rebuild the engine's Hadoop file-system jar from its Java sources.

    python tools/build_jvm.py

Compiles ``mrcond_spark/jvm/src`` with ``javac --release 8`` against the
Hadoop client API jar of the Spark installation PySpark runs
(``$SPARK_HOME/jars``, else the jars shipped inside ``pyspark``) and writes
``mrcond_spark/jvm/mrcond-spark-fs.jar``. The jar holds only the class
files, in name order, with a fixed timestamp, so the same compiler gives
the same bytes. Sessions load the committed jar and never compile.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "mrcond_spark", "jvm")
SRC_DIR = os.path.join(JVM_DIR, "src")
JAR = os.path.join(JVM_DIR, "mrcond-spark-fs.jar")
#: the zip epoch, for every entry: the jar's bytes depend only on the classes
STAMP = (1980, 1, 1, 0, 0, 0)


def hadoop_api_jar() -> str:
    from pyspark.find_spark_home import _find_spark_home

    jars = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    if len(jars) != 1:
        raise RuntimeError(f"expected one hadoop-client-api jar, found {jars}")
    return jars[0]


def compile_classes(out_dir: str) -> dict[str, bytes]:
    """Compile the sources into ``out_dir``; returns each class file's
    bytes by its path inside the jar."""
    sources = sorted(glob.glob(os.path.join(SRC_DIR, "**", "*.java"), recursive=True))
    subprocess.run(
        ["javac", "--release", "8", "-cp", hadoop_api_jar(), "-d", out_dir, *sources],
        check=True,
    )
    classes = {}
    for path in glob.glob(os.path.join(out_dir, "**", "*.class"), recursive=True):
        with open(path, "rb") as f:
            classes[os.path.relpath(path, out_dir).replace(os.sep, "/")] = f.read()
    return classes


def write_jar(classes: dict[str, bytes], jar: str) -> None:
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for name in sorted(classes):
            z.writestr(zipfile.ZipInfo(name, STAMP), classes[name], zipfile.ZIP_DEFLATED)


def main() -> None:
    with tempfile.TemporaryDirectory() as out:
        classes = compile_classes(out)
    write_jar(classes, JAR)
    print(f"wrote {JAR}: {len(classes)} classes", file=sys.stderr)


if __name__ == "__main__":
    main()
