"""Session defaults come from the host, not from constants."""

from __future__ import annotations

import os

from jaccard_ml_spark.session import (
    driver_memory_mb,
    host_cpus,
    host_memory_bytes,
)

MIB = 1 << 20


def test_derived_heap_never_exceeds_memory():
    for mem in (100 * MIB, 300 * MIB, 1 << 30, 15 << 30, 64 << 30,
                1 << 40, host_memory_bytes()):
        heap = driver_memory_mb(mem)
        assert 0 < heap * MIB <= mem // 2, (mem, heap)
    # above 64 GiB the heap stops at 31 GiB (compressed object pointers)
    assert driver_memory_mb(1 << 40) == 31 * 1024


def test_host_memory_and_cpus_within_the_machine():
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < host_memory_bytes() <= physical
    assert 1 <= host_cpus() <= len(os.sched_getaffinity(0))
