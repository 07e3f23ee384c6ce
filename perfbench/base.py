"""What the three workloads share: per-cycle layer records and the byte
accounting behind ``write_amp`` and ``space_amp``."""

from __future__ import annotations

import os
import statistics
from pathlib import Path


def listing(dirs: list[Path]) -> dict[str, tuple[int, int]]:
    """Every regular file under ``dirs`` with its (size, mtime_ns)."""
    out: dict[str, tuple[int, int]] = {}
    for d in dirs:
        for root, _subdirs, files in os.walk(d):
            for f in files:
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict[str, tuple[int, int]],
                  after: dict[str, tuple[int, int]]) -> int:
    """Bytes of the files that are new or rewritten between two listings."""
    return sum(size for p, (size, mt) in after.items()
               if before.get(p) != (size, mt))


def size_of(*dirs: Path) -> int:
    return sum(size for size, _ in listing(list(dirs)).values())


class Workload:
    spans: tuple[str, ...] = ()  # layer spans; each call is one operation
    no_python_spans: tuple[str, ...] = ()  # spans that start no Python worker
    layer_metrics: tuple[str, ...] = ()  # per-layer records, by name

    def __init__(self, spark, gen_mod, size: str, seed: int):
        self.spark = spark
        self.gen = gen_mod
        self.cfg = self.SIZES[size]
        self.seed = seed

    def reset(self, out: Path) -> None:
        """Fresh engine state under ``out``; inputs are kept."""
        self.cur = 0
        self.layers: dict[str, list[tuple[int, float]]] = {}
        self.landed: list[int] = []
        self.written: list[int] = []
        self._before: dict[str, tuple[int, int]] = {}

    def engine_dirs(self) -> list[Path]:
        return []

    def record(self, key: str, value: float) -> None:
        self.layers.setdefault(key, []).append((self.cur, float(value)))

    def account(self) -> None:
        """Bytes the engine wrote in the cycle just run (new or rewritten
        files); run outside the timed window."""
        after = listing(self.engine_dirs())
        self.written.append(written_bytes(self._before, after))
        self._before = after

    def final_check(self, c: int) -> list[tuple[str, str, bool]]:
        """Checks over the whole sequence, after its last cycle ``c``."""
        return []

    def traced_extras(self, c: int) -> None:
        """Counts that cost extra work, taken in traced runs only."""

    def extra_e2e(self, first: int) -> dict[str, float]:
        """End-to-end metrics of this workload only."""
        return {}

    def layer_medians(self, first: int) -> dict[str, float]:
        """Median of every layer record over cycles ``first`` onwards."""
        out = {}
        for key, vals in self.layers.items():
            timed = [v for c, v in vals if c >= first]
            if timed:
                out[key] = statistics.median(timed)
        return out

    def amplification(self, first: int, on_disk: int, retained: int) -> dict[str, float]:
        """``write_amp`` over the cycles from ``first``, and ``space_amp``."""
        return {"write_amp": sum(self.written[first:]) / sum(self.landed[first:]),
                "space_amp": on_disk / retained}
