"""Session factory defaults."""

from __future__ import annotations

import os

from spark_signals.session import _default_driver_memory


def test_default_driver_memory_fits_the_host():
    # local mode runs every task in the driver JVM: a heap ceiling above
    # physical memory gets the JVM OOM-killed partway through a long run
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    gb = int(_default_driver_memory().removesuffix("g"))
    assert 1 <= gb <= 90
    assert gb * 2**30 <= max(total // 2, 2**30)
