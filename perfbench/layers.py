"""Probes around the engine's layers, called from the benchmark only.

Nothing here edits the program: the sources probe rebinds the public
``sources.io`` functions to timing wrappers while a traced pass runs and
restores the originals afterwards; the other helpers read what Spark and
``/proc`` already record.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

#: The public ``sources.io`` functions the traced run times and counts.
SOURCES_FUNCS = ("load_table", "spread", "fixture_dir")


class SourcesProbe:
    """Counts and times calls into ``sources.io`` while installed.

    Modules that did ``from ...sources.io import load_table`` hold their own
    reference to the function, so installing rebinds every package module
    attribute that is the original function, not only ``io``'s own.
    """

    def __init__(self, io) -> None:
        self._io = io
        self._originals = {name: getattr(io, name) for name in SOURCES_FUNCS}
        self._bound: list[tuple[object, str, object]] = []
        self._last_loaded = None
        self.counts: dict[str, float] = {}
        self.reset()

    def reset(self) -> None:
        self.counts = {
            "load_table_calls": 0,
            "load_table_s": 0.0,
            "spread_calls": 0,
            "spread_repartitions": 0,
            "fixture_dir_calls": 0,
            "fixture_dir_s": 0.0,
        }

    def take(self) -> dict[str, float]:
        counts = self.counts
        self.reset()
        return counts

    def _wrappers(self) -> dict[str, object]:
        orig = self._originals

        def load_table(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                df = orig["load_table"](*args, **kwargs)
            finally:
                self.counts["load_table_s"] += time.perf_counter() - t0
                self.counts["load_table_calls"] += 1
            self._last_loaded = df
            return df

        def spread(*args, **kwargs):
            self._last_loaded = None
            df = orig["spread"](*args, **kwargs)
            self.counts["spread_calls"] += 1
            # spread() returns load_table's frame unless it repartitioned it.
            if df is not self._last_loaded:
                self.counts["spread_repartitions"] += 1
            return df

        def fixture_dir(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig["fixture_dir"](*args, **kwargs)
            finally:
                self.counts["fixture_dir_s"] += time.perf_counter() - t0
                self.counts["fixture_dir_calls"] += 1

        return {"load_table": load_table, "spread": spread, "fixture_dir": fixture_dir}

    def install(self) -> None:
        wrappers = self._wrappers()
        by_id = {id(f): name for name, f in self._originals.items()}
        package = self._io.__name__.split(".")[0]
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or mod_name.split(".")[0] != package:
                continue
            for attr, value in list(vars(mod).items()):
                name = by_id.get(id(value))
                if name is not None and value is self._originals[name]:
                    self._bound.append((mod, attr, value))
                    setattr(mod, attr, wrappers[name])

    def remove(self) -> None:
        for mod, attr, value in self._bound:
            setattr(mod, attr, value)
        self._bound.clear()


def catalyst_ms(df) -> dict[str, int]:
    """Analysis/optimization/planning times of ``df``'s own query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[phase] = summary.get().durationMs() if summary.isDefined() else 0
    return out


def to_pandas_keeping_arrow(df):
    """``df.toPandas()``, also returning the Arrow batches it converted.

    The batches give the oracle gate exact Python values (Decimal scale,
    integer vs float, NaN vs NULL) without executing the query a second
    time.  The hook is set on this one DataFrame object only.
    """
    batches: list = []
    collect = df._collect_as_arrow

    def keep(*args, **kwargs):
        out = collect(*args, **kwargs)
        batches.extend(out)
        return out

    df._collect_as_arrow = keep
    return df.toPandas(), batches


def fingerprint(pdf) -> str:
    """Row-order-insensitive digest of a pandas result, its columns included."""
    import pandas as pd

    rows = pd.util.hash_pandas_object(pdf, index=False).to_numpy()
    rows.sort()
    h = hashlib.sha256(repr((list(pdf.columns), len(pdf))).encode())
    h.update(rows.tobytes())
    return h.hexdigest()[:16]


def tree_bytes(root: str) -> int:
    """Total size of the regular files under ``root`` (0 if it is absent)."""
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return total


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` (peak resident set) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_ticks() -> tuple[int, int]:
    """Steal and total CPU ticks of the whole machine, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's start time."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
