"""``get_spark`` sessions: Tungsten pages and broadcast blocks stay below
G1's humongous threshold, and the driver JVM starts on a class-data-sharing
archive (see ``mrcond_spark/session.py``'s design notes)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from mrcond_spark import session
from mrcond_spark.session import (
    FS_JAR,
    archive_complete,
    archive_key,
    cds_options,
    collectable_buffer_size,
    driver_class_path,
    get_spark,
)

#: a ``long[]`` or ``byte[]`` header under HotSpot's compressed layout
ARRAY_HEADER = 16
#: ``TaskMemoryManager``'s page-table size: the pages one task can hold
PAGE_TABLE_SIZE = 8192


def test_pages_and_broadcast_blocks_are_collectable(spark):
    jvm = spark.sparkContext._jvm
    bean_class = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_class)
    region = int(bean.getVMOption("G1HeapRegionSize").getValue())
    sc = spark.sparkContext._jsc.sc()
    page = sc.env().memoryManager().pageSizeBytes()
    block = sc.conf().getSizeAsBytes("spark.broadcast.blockSize", "4m")
    assert page + ARRAY_HEADER <= region // 2, (page, region)
    assert block + ARRAY_HEADER <= region // 2, (block, region)
    assert PAGE_TABLE_SIZE * page >= jvm.java.lang.Runtime.getRuntime().maxMemory()


@pytest.mark.parametrize(
    "heap, page",
    [
        ("2g", "256k"),
        ("4g", "512k"),
        ("8g", "1m"),
        ("16g", "2m"),
        ("64g", "8m"),
        # JDK 17 rounds heap/2048 up to a power of two (6g -> 4 MB regions)
        # and clamps it to 1-32 MB; a bare number is MiB, as Spark reads it
        ("6g", "1m"),
        ("512m", "256k"),
        ("100g", "8m"),
        ("8192", "1m"),
        ("8G", "1m"),
    ],
)
def test_page_is_a_quarter_of_the_g1_region(heap, page):
    assert collectable_buffer_size(heap) == page


def test_unreadable_heap_is_refused():
    with pytest.raises(ValueError):
        collectable_buffer_size("eight gigs")


# --------------------------------------------------------------------------
# the class-data-sharing archive
# --------------------------------------------------------------------------
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_JARS = os.path.join(_find_spark_home(), "jars", "*")
MAGIC = bytes.fromhex("a8ab0bf0")


def test_archive_key_follows_the_jars_and_the_heap(tmp_path):
    (tmp_path / "lib").mkdir()
    jar, lib_jar = tmp_path / "a.jar", tmp_path / "lib" / "b.jar"
    jar.write_bytes(b"a")
    lib_jar.write_bytes(b"b")
    cp = os.pathsep.join([str(jar), str(tmp_path / "lib" / "*")])
    key = archive_key(cp, "8g")
    assert archive_key(cp, "8g") == key
    assert archive_key(cp, "4g") != key
    os.utime(lib_jar, ns=(0, 10**9))
    touched = archive_key(cp, "8g")
    assert touched != key
    jar.write_bytes(b"aa")
    os.utime(jar, ns=(0, 10**9))
    os.utime(lib_jar, ns=(0, 10**9))
    assert archive_key(cp, "8g") not in (key, touched)


def test_jars_come_before_the_conf_dir():
    assert driver_class_path() == os.pathsep.join([FS_JAR, SPARK_JARS])
    assert driver_class_path("/x/a.jar:/y/*") == os.pathsep.join([FS_JAR, "/x/a.jar:/y/*", SPARK_JARS])


def test_running_jvm_resolves_every_jar_before_the_conf_dir(spark):
    cp = spark.sparkContext._jvm.java.lang.System.getProperty("java.class.path").split(os.pathsep)
    conf = next(i for i, e in enumerate(cp) if os.path.isdir(e) and os.listdir(e))
    spark_jars = os.path.dirname(SPARK_JARS)
    assert cp[0] == FS_JAR
    assert {e for e in cp[:conf] if e.startswith(spark_jars)} == {
        os.path.join(spark_jars, j) for j in os.listdir(spark_jars) if j.endswith(".jar")
    }


class _Launched(Exception):
    pass


def test_caller_options_survive_the_merge(monkeypatch):
    """With no JVM running, ``get_spark`` hands the launcher the caller's
    classpath and Java options next to its own."""
    options = {}

    def launch(builder):
        options.update(builder._options)
        raise _Launched

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "cds_options", lambda cp, mem: ["-XX:EngineFlag"])
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", launch)
    with pytest.raises(_Launched):
        get_spark(extra_conf={"spark.driver.extraClassPath": "/x/a.jar",
                              "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/x/tmp"})
    assert options["spark.driver.extraClassPath"] == os.pathsep.join([FS_JAR, "/x/a.jar", SPARK_JARS])
    assert options["spark.driver.extraJavaOptions"] == "-XX:EngineFlag -Djava.io.tmpdir=/x/tmp"


def _archive(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "CDS_DIR", str(tmp_path))
    cp = driver_class_path()
    return cp, os.path.join(tmp_path, f"spark-cds-{archive_key(cp, '1g')}.jsa")


def test_a_key_is_recorded_once_and_then_mapped(tmp_path, monkeypatch):
    cp, archive = _archive(tmp_path, monkeypatch)
    stale = tmp_path / "spark-cds-0000000000000000.jsa"
    stale.write_bytes(MAGIC)
    assert cds_options(cp, "1g") == [f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds*=off"]
    assert not stale.exists()
    # the recorder has not written the archive yet, or its dump failed
    assert cds_options(cp, "1g") == []
    with open(archive, "wb") as f:
        f.write(MAGIC + bytes(60))
    assert cds_options(cp, "1g") == [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds*=off"]


def test_an_archive_without_its_header_is_not_mapped(tmp_path, monkeypatch):
    cp, archive = _archive(tmp_path, monkeypatch)
    assert cds_options(cp, "1g")[0].startswith("-XX:ArchiveClassesAtExit=")
    with open(archive, "wb") as f:
        f.write(bytes(64))
    assert not archive_complete(archive)
    assert cds_options(cp, "1g") == []


def test_no_archive_without_a_writable_directory(tmp_path, monkeypatch):
    cp, _ = _archive(tmp_path / "missing", monkeypatch)
    assert cds_options(cp, "1g") == []
    assert not os.path.exists(tmp_path / "missing")


CHILD = textwrap.dedent("""
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from mrcond_spark import session
    session.CDS_DIR = sys.argv[2]
    spark = session.get_spark("cds-child", cpus=2, extra_conf={"spark.driver.memory": "1g"})
    assert spark.range(100).selectExpr("sum(id)").collect()[0][0] == 4950
    # a Python job connects the JVM to the driver's accumulator server
    assert spark.sparkContext.parallelize(range(100), 2).map(lambda x: x + 1).sum() == 5050
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    print(json.dumps({
        "pid": session.SparkContext._gateway.proc.pid,
        "class_path": jvm.java.lang.System.getProperty("java.class.path"),
        "java": jvm.java.lang.System.getProperty("java.home"),
        "maps": bean.getVMOption("SharedArchiveFile").getValue(),
        "records": bean.getVMOption("ArchiveClassesAtExit").getValue(),
    }))
""")


def _run_child(cds_dir: str, logs) -> dict:
    """Run ``CHILD`` until its Python process exits. Its output goes to
    files: a pipe would stay open, and keep this side waiting, for as long
    as the JVM that inherited it runs."""
    out, err = logs / "stdout", logs / "stderr"
    with open(out, "w") as o, open(err, "w") as e:
        code = subprocess.run([sys.executable, "-c", CHILD, ROOT, cds_dir], stdout=o, stderr=e,
                              timeout=600).returncode
    assert code == 0, err.read_text()[-3000:]
    # the context is stopped before the JVM exits, not torn from under it
    assert "EOFError" not in err.read_text()
    lines = out.read_text().splitlines()
    assert not [ln for ln in lines if "[cds" in ln], lines[:5]
    return json.loads(lines[-1])


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def test_first_launch_records_the_archive_and_the_next_maps_it(tmp_path):
    cds_dir = tmp_path / "cds"
    cds_dir.mkdir()
    first = _run_child(str(cds_dir), tmp_path)
    assert not _running(first["pid"]), "the recording JVM outlived its driver"
    archive = first["records"]
    assert os.path.dirname(archive) == str(cds_dir) and archive_complete(archive)
    second = _run_child(str(cds_dir), tmp_path)
    assert (second["maps"], second["records"]) == (archive, "")
    assert not _running(second["pid"])
    assert second["class_path"] == first["class_path"]
    check = subprocess.run(
        [os.path.join(second["java"], "bin", "java"), "-Xshare:on",
         f"-XX:SharedArchiveFile={archive}", "-cp", second["class_path"], "-version"],
        capture_output=True, text=True, timeout=120)
    assert check.returncode == 0, check.stdout + check.stderr
