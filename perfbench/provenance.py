"""Box provenance recorded with every run, so a contended run shows itself."""

from __future__ import annotations

import os


def _cpu_ticks() -> list[int]:
    """Aggregate ``cpu`` line of /proc/stat: user nice system idle iowait
    irq softirq steal ..."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def _loadavg() -> list[float]:
    try:
        return list(os.getloadavg())
    except OSError:
        return []


class Provenance:
    def __init__(self, master: str):
        self.info = {"nproc": os.cpu_count(), "master": master,
                     "loadavg_start": _loadavg()}
        self._ticks = _cpu_ticks()

    def finish(self) -> dict:
        end = _cpu_ticks()
        self.info["loadavg_end"] = _loadavg()
        if self._ticks and end:
            d = [b - a for a, b in zip(self._ticks, end)]
            total = sum(d) or 1
            self.info["idle_share"] = round((d[3] + d[4]) / total, 4)
            self.info["steal_share"] = round(
                (d[7] if len(d) > 7 else 0) / total, 4)
        return self.info
