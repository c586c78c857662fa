"""The engine's local Hadoop file systems (``mrcond_spark/jvm``): the same
permissions and link status as the stock classes, wired into every engine
session, no process started per checkpoint commit, and a committed jar that
its sources rebuild byte for byte.
"""

from __future__ import annotations

import os
import shutil
import stat
import sys
import time
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from mrcond_spark.session import FS_JAR
from mrcond_spark.streaming.pipeline import start_cdc_query
from mrcond_spark.streaming.sink import MemoryPublisher
from mrcond_spark.streaming.source import file_replay_stream

from test_streaming import insert_event, write_envelope_file

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
import build_jvm  # noqa: E402


def _hadoop(spark):
    return spark.sparkContext._jvm.org.apache.hadoop


def _raw(spark, fs):
    """``fs``, a raw local file system, initialised."""
    jvm = spark.sparkContext._jvm
    fs.initialize(jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration())
    return fs


@pytest.fixture(scope="module")
def both(spark):
    """(stock, engine) raw local file systems."""
    jvm = spark.sparkContext._jvm
    return (_raw(spark, jvm.org.apache.hadoop.fs.RawLocalFileSystem()),
            _raw(spark, jvm.mrcond_spark.hadoop.NioRawLocalFileSystem()))


@pytest.mark.parametrize(
    "kind,start,mode",
    [("file", 0o777, 0o600), ("file", 0o000, 0o644), ("file", 0o644, 0o700),
     ("file", 0o600, 0o755), ("dir", 0o700, 0o755), ("dir", 0o755, 0o1777),
     ("dir", 0o2755, 0o700)],
    ids=["file-0600", "file-0644", "file-0700", "file-0755", "dir-0755",
         "dir-01777", "setgid-dir-0700"],
)
def test_set_permission_matches_stock(spark, both, tmp_path, kind, start, mode):
    """Mode 01777 and a directory carrying set-id bits take the stock path
    (NIO cannot set those bits, and a four-digit shell chmod keeps a
    directory's set-id bits); the rest take NIO."""
    hadoop = _hadoop(spark)
    modes = []
    for fs, name in zip(both, ("stock", "engine")):
        p = tmp_path / name
        p.mkdir() if kind == "dir" else p.write_text("x")
        os.chmod(p, start)
        fs.setPermission(hadoop.fs.Path(str(p)), hadoop.fs.permission.FsPermission(f"{mode:o}"))
        modes.append(stat.S_IMODE(os.stat(p).st_mode))
    assert modes[0] == modes[1], [oct(m) for m in modes]


def _link_status(spark, fs, path: str):
    """What ``getFileLinkStatus`` reports, or the class of what it raises."""
    try:
        st = fs.getFileLinkStatus(_hadoop(spark).fs.Path(path))
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    target = st.getSymlink().toString() if st.isSymlink() else None
    return st.getPath().toString(), st.getLen(), st.isDirectory(), st.isSymlink(), target


@pytest.mark.parametrize("case", ["file", "dir", "symlink", "dangling", "missing"])
@pytest.mark.parametrize("qualified", [False, True], ids=["plain", "file-uri"])
def test_file_link_status_matches_stock(spark, both, tmp_path, case, qualified):
    """Stock reads the link of the path's string form, so a ``file:`` path
    never reads as a symlink there, and a dangling one does not exist."""
    (tmp_path / "file").write_text("twelve bytes")
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "symlink")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    path = ("file:" if qualified else "") + str(tmp_path / case)
    stock, engine = (_link_status(spark, fs, path) for fs in both)
    assert engine == stock
    if case == "missing":
        assert stock == "java.io.FileNotFoundException"
    elif case in ("symlink", "dangling") and not qualified:
        assert stock[3], "stock did not see the symlink"


def test_engine_session_uses_engine_file_systems(spark, tmp_path):
    """Dropping either ``fs.*.impl`` setting from ``get_spark`` must fail here."""
    hadoop = _hadoop(spark)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == "mrcond_spark.hadoop.NioLocalFileSystem"
    assert fs.getRawFileSystem().getClass().getName() == "mrcond_spark.hadoop.NioRawLocalFileSystem"
    afs = hadoop.fs.FileContext.getLocalFSFileContext(conf).getDefaultFileSystem()
    assert afs.getClass().getName() == "mrcond_spark.hadoop.NioLocalFs"

    events, ckpt = str(tmp_path / "events"), str(tmp_path / "ckpt")
    for f in range(3):
        write_envelope_file(events, f"b{f}.json",
                            [insert_event(10 * f + i, {"n": i}) for i in range(10)])
    pub = MemoryPublisher()
    # a collected session's artifact directory is deleted with `rm -rf` from
    # a Cleaner thread: let that run for every earlier session first
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    before = _reaped_child_ticks(spark)
    cq = start_cdc_query(file_replay_stream(spark, events), pub, "fs-wiring", ckpt,
                         available_now=True)
    cq.query.awaitTermination(120)
    assert _reaped_child_ticks(spark) == before, "the JVM ran processes during the replay"
    assert len(pub.messages["fs-wiring"]) == 30

    # the stock modes under Hadoop's default umask 022, .crc siblings kept
    files = 0
    for root, dirs, names in os.walk(ckpt):
        assert all(stat.S_IMODE(os.stat(os.path.join(root, d)).st_mode) == 0o755 for d in dirs)
        for n in names:
            assert stat.S_IMODE(os.stat(os.path.join(root, n)).st_mode) == 0o644, n
            if not n.endswith(".crc"):
                files += 1
                assert f".{n}.crc" in names
    assert files >= 9  # offsets, commits and source log for 3 batches


def _reaped_child_ticks(spark) -> int:
    """User + system clock ticks of the driver JVM's reaped children."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[13]) + int(fields[14])


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs a JDK's javac")
def test_committed_jar_matches_its_sources(tmp_path):
    """After editing the sources, rebuild with ``tools/build_jvm.py``. The
    committed jar was compiled by OpenJDK 17's javac; another release's
    javac may emit different bytes for the same sources."""
    rebuilt = build_jvm.compile_classes(str(tmp_path))
    with zipfile.ZipFile(FS_JAR) as z:
        committed = {n: z.read(n) for n in z.namelist() if n.endswith(".class")}
    assert sorted(committed) == sorted(rebuilt)
    for name, data in rebuilt.items():
        assert committed[name] == data, name
