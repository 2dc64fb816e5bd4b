"""Single-thread layer benchmarks run in the driver process (traced run
only): filter kernels through ``filterz_spark.filters`` (which call
``filterz_spark.native`` when it loaded) and sketch update/merge through
``filterz_spark.sketches``."""

from __future__ import annotations

import time

import numpy as np
from filterz_spark.filters import build_filter
from filterz_spark.hashing import splitmix64_array
from filterz_spark.sketches import SKETCH_KINDS

from .core import CONFIGS, REFERENCE_BUILD_MKEYS, median
from .rollup import SKETCHES

SIZES = {"main": {"section": 1_000_000, "large": 20_000_000, "rows": 1_000_000},
         "smoke": {"section": 20_000, "large": 50_000, "rows": 20_000}}


def _median_wall(fn, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return median(walls)


def filters(seed: int, size: str) -> tuple[dict, list[str]]:
    cfg = SIZES[size]
    m, report = {}, []
    # SplitMix64 outputs of distinct counters are distinct (its finalizer is
    # a bijection), as xor and ribbon construction require
    section = splitmix64_array(seed, cfg["section"])
    absent = splitmix64_array(seed + 1, cfg["section"])
    for name, (kind, params) in CONFIGS.items():
        holder = {}

        def build():
            holder["f"] = build_filter(kind, section, **params)

        wall = _median_wall(build, 3)
        m[f"native.build_mkeys_per_s.{name}.section"] = section.size / wall / 1e6
        f = holder["f"]
        f.check(absent[:1000])
        pwall = _median_wall(lambda: f.check(absent), 3)
        m[f"native.probe_ns_per_key.{name}"] = pwall / absent.size * 1e9
    large = splitmix64_array(seed + 2, cfg["large"])
    for name, (kind, params) in CONFIGS.items():
        t0 = time.perf_counter()
        f = build_filter(kind, large, **params)
        wall = time.perf_counter() - t0
        del f
        rate = large.size / wall / 1e6
        m[f"native.build_mkeys_per_s.{name}.20m"] = rate
        ref = REFERENCE_BUILD_MKEYS[name]
        report.append(f"  {name:13s} {large.size / 1e6:5.1f}M keys  "
                      f"{rate:6.2f} M/s   reference {ref:5.1f} M/s   "
                      f"ratio {rate / ref:5.3f}")
    return m, report


def sketches(seed: int, size: str) -> dict:
    n = SIZES[size]["rows"]
    hashes = splitmix64_array(seed + 3, n)
    floats = -np.log1p(-(hashes >> np.uint64(11)).astype(np.float64) / 2.0 ** 53)
    m = {}
    for kind, (col, params) in SKETCHES.items():
        values = hashes if col == "u" else floats
        cls = SKETCH_KINDS[kind]
        halves = []

        def update():
            halves.clear()
            for part in np.array_split(values, 2):
                sk = cls.zero(**params)
                sk.update(part)
                halves.append(sk)

        wall = _median_wall(update, 3)
        m[f"sketches.update_ns_per_row.{kind}"] = wall / n * 1e9
        a, b = halves
        mwall = _median_wall(lambda: a.merge(b), 5)
        m[f"sketches.merge_us.{kind}"] = mwall * 1e6
        m[f"sketches.state_bytes.{kind}"] = len(a.merge(b).serialize())
    return m
