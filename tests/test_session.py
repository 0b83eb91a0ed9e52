"""Session defaults fit the host they start on."""

from __future__ import annotations

import re

from htm_streamer_spark.session import host_driver_memory


def test_host_driver_memory_is_at_most_40pct_of_host_ram():
    with open("/proc/meminfo") as f:
        kib = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    got = host_driver_memory()
    assert re.fullmatch(r"[1-9]\d*g", got)
    assert int(got[:-1]) <= max(1, int(kib * 1024 * 0.4 / 2**30))
