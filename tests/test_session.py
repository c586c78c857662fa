"""Tungsten pages and broadcast blocks of ``get_spark`` sessions stay below
G1's humongous threshold (see ``mrcond_spark/session.py``'s design notes)."""

from __future__ import annotations

import pytest

from mrcond_spark.session import collectable_buffer_size

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
