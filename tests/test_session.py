"""Session defaults derived from the machine: driver heap from physical
RAM, and the scan-split floor from the local master's core count."""

from __future__ import annotations

import os

import pytest

from tripleforge.session import driver_memory, local_cores

GIB = 2**30


@pytest.mark.parametrize(
    "phys,heap",
    [(15.7 * GIB, "7g"), (16 * GIB, "8g"), (256 * GIB, "24g"), (GIB, "1g")],
)
def test_driver_memory_is_half_of_ram_within_bounds(phys, heap):
    assert driver_memory(int(phys)) == heap


def test_driver_memory_fits_this_machine():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(driver_memory()[:-1]) * GIB <= max(phys // 2, GIB)


@pytest.mark.parametrize(
    "master,cores",
    [
        ("local", 1),
        ("local[3]", 3),
        ("local[3,2]", 3),
        ("local[*]", len(os.sched_getaffinity(0))),
        ("local[*,4]", len(os.sched_getaffinity(0))),
        ("spark://host:7077", None),
        ("yarn", None),
        (None, None),
    ],
)
def test_local_cores(master, cores):
    assert local_cores(master) == cores
