"""Local-mode driver heap sizing (session.default_driver_memory)."""

from __future__ import annotations

from flink_rtcef_spark.session import MAX_DRIVER_MEM_MB, default_driver_memory

GB = 2**30


def test_driver_memory_is_half_of_physical():
    assert default_driver_memory(15 * GB) == "7680m"
    assert default_driver_memory(8 * GB) == "4096m"


def test_driver_memory_never_exceeds_16g():
    assert MAX_DRIVER_MEM_MB == 16 * 1024
    for gb in (32, 33, 64, 512):
        assert default_driver_memory(gb * GB) == "16384m"


def test_driver_memory_floor_on_tiny_hosts():
    assert default_driver_memory(GB) == "1024m"


def test_driver_memory_reads_this_host():
    mb = int(default_driver_memory()[:-1])
    assert 1024 <= mb <= MAX_DRIVER_MEM_MB
