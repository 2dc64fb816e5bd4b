"""rollup: global and per-group sketches plus the epoch sketch store.

A seeded event stream with a user id ``u`` (long), a value ``v`` (double)
and a Zipf-skewed string group key ``g`` (``grouped_sketch_states``
declares ``g string``). ``v`` is a seeded permutation of the grid
``(i + 0.5) / N`` pushed through the exponential quantile function, so the
exact rank of any value is known in closed form.
"""

from __future__ import annotations

import json
import math
import os
import shutil

import numpy as np
import pandas as pd
from filterz_spark.sketches import deserialize_sketch
from filterz_spark.spark.merge import (grouped_sketch_states, partial_states,
                                       sketch_column, tree_merge)
from filterz_spark.spark.sketch_store import merge_sketch_range, write_sketch_epoch
from pyspark.sql import functions as F

from .core import median, sha256

SIZES = {
    "main": {"rows": 250_000, "users": 50_000, "epochs": 4},
    "smoke": {"rows": 20_000, "users": 4_000, "epochs": 3},
}
GROUPS = 2000
SKETCHES = {  # kind -> (column, params)
    "hll": ("u", {"p": 14}),
    "cms": ("u", {"depth": 5, "width": 8192}),
    "kll": ("v", {"k": 200}),
    "tdigest": ("v", {"delta": 200}),
}
GROUPED_P = 12
STORE_P = 14
# the rank-error bounds the library's sketch tests hold these sketches to
RANK_BOUND = {"kll": 0.02, "tdigest": 0.01}
QUANTILES = {"kll": (0.05, 0.25, 0.5, 0.75, 0.95),
             "tdigest": (0.01, 0.1, 0.5, 0.9, 0.99)}
RANGE_QUERIES = 2  # range reads per pass over the same interior range
_PRIMES = (1_000_003, 1_000_033, 1_000_037, 1_000_039, 1_000_081, 1_000_099)


class Rollup:
    name = "rollup"

    def __init__(self, spark, seed: int, size: str, cores: int, work: str):
        self.spark = spark
        self.seed = seed
        self.parts = cores
        cfg = SIZES[size]
        self.n = cfg["rows"]
        self.users = cfg["users"]
        self.n_epochs = cfg["epochs"]
        self.epochs = [f"e{i:02d}" for i in range(self.n_epochs)]
        # interior range: without the first and the last epoch
        self.lo, self.hi = self.epochs[1], self.epochs[-2]
        self.mult = _PRIMES[seed % len(_PRIMES)]
        self.offset = (seed * 7919) % self.n
        self.store_root = os.path.join(work, "store")
        self.events = None
        self.passes: list[dict] = []
        self._n_pass = 0

    def setup(self) -> None:
        self.release()
        n = self.n
        grid = (F.pmod(F.col("id") * F.lit(self.mult) + F.lit(self.offset),
                       F.lit(n)) + F.lit(0.5)) / F.lit(float(n))
        u01 = ((F.xxhash64("id", F.lit(self.seed + 7))
                .bitwiseAND(F.lit((1 << 52) - 1)).cast("double"))
               / F.lit(float(1 << 52)))
        rank = F.least(F.floor(F.pow(u01 + F.lit(1e-12), F.lit(-0.8))),
                       F.lit(GROUPS))
        self.events = (self.spark.range(0, n, numPartitions=self.parts).select(
            F.pmod(F.xxhash64("id", F.lit(self.seed)), F.lit(self.users)).alias("u"),
            (-F.log1p(-grid)).alias("v"),
            F.concat(F.lit("g"), rank.cast("long").cast("string")).alias("g"),
            F.concat(F.lit("e"), F.lpad(
                F.floor(F.col("id") * F.lit(self.n_epochs) / F.lit(n))
                .cast("string"), 2, "0")).alias("epoch"),
        ).cache())
        self.events.count()

    def rebind(self, spark) -> None:
        """Start over on a new session: the old one's caches are gone."""
        self.spark = spark
        self.events = None
        self.passes = []

    def release(self) -> None:
        if self.events is not None:
            self.events.unpersist()

    def truth(self) -> None:
        """Exact answers, computed on the driver from one collect."""
        tbl = self.events.select("u", F.xxhash64("u").alias("h"), "g").toArrow()
        u = tbl.column("u").to_numpy()
        h = tbl.column("h").to_numpy()
        users, first, counts = np.unique(u, return_index=True, return_counts=True)
        self.distinct = int(users.size)
        top = np.lexsort((users, -counts))[:16]
        self.top_users = [(int(h[first[i]]), int(counts[i])) for i in top]
        pairs = pd.DataFrame({"g": tbl.column("g").to_pandas(), "u": u})
        self.group_distinct = (pairs.drop_duplicates().groupby("g").size()
                               .nlargest(1).to_dict())
        rng = self.events.where((F.col("epoch") >= self.lo)
                                & (F.col("epoch") <= self.hi))
        self.range_hll = sketch_column(rng, "u", "hll", {"p": STORE_P}).serialize()

    def run_pass(self, rec) -> None:
        out = {"sketch_s": {}, "sketch": {}}
        for kind, (col, params) in SKETCHES.items():
            with rec.span(f"sketch.{kind}") as sp:
                sk = sketch_column(self.events, col, kind, params)
            out["sketch_s"][kind] = sp["wall"]
            out["sketch"][kind] = sk
            rec.same(f"rollup.sha256.{kind}", sha256(sk.serialize()))
        with rec.span("grouped") as sp:
            rows = grouped_sketch_states(self.events, "g", "u", "hll",
                                         {"p": GROUPED_P}).collect()
        out["grouped_s"] = sp["wall"]
        out["grouped"] = rows
        rec.same("rollup.groups", len(rows))
        rec.same("rollup.sha256.grouped", sha256(b"".join(
            r["g"].encode() + bytes(r["payload"])
            for r in sorted(rows, key=lambda r: r["g"]))))

        self._n_pass += 1
        shutil.rmtree(self.store_root, ignore_errors=True)
        path = os.path.join(self.store_root, f"p{self._n_pass}")
        with rec.span("store.write") as sp:
            for e in self.epochs:
                with rec.span("store.epoch"):
                    write_sketch_epoch(self.events.where(F.col("epoch") == e),
                                       "u", path, e, kind="hll",
                                       params={"p": STORE_P})
        out["store_s"] = sp["wall"]
        out["range_s"] = []
        for _ in range(RANGE_QUERIES):
            with rec.span("store.range") as sp:
                merged = merge_sketch_range(self.spark, path, epoch_min=self.lo,
                                            epoch_max=self.hi)
            out["range_s"].append(sp["wall"])
            rec.check("rollup.store_range_bit_identical",
                      merged.serialize() == self.range_hll,
                      "range-merged HLL differs from a direct sketch_column")
        out["store_bytes"] = _du(path)
        self.passes.append(out)

    def checks(self, rec) -> None:
        last = self.passes[-1]["sketch"]
        bound = 3 * 1.04 / math.sqrt(2 ** SKETCHES["hll"][1]["p"])
        est = last["hll"].estimate()
        rec.check("rollup.hll_error", abs(est - self.distinct) <= bound * self.distinct,
                  f"estimate {est:.0f} vs exact {self.distinct}")
        cms = last["cms"]
        hs = np.array([h for h, _ in self.top_users], dtype=np.int64).view(np.uint64)
        got = cms.query(hs)
        for (h, c), q in zip(self.top_users, got):
            rec.check("rollup.cms_no_undercount", int(q) >= c,
                      f"user hash {h}: {int(q)} < exact {c}")
        for kind in ("kll", "tdigest"):
            sk = last[kind]
            for q in QUANTILES[kind]:
                x = sk.quantile(q)
                err = abs(self._exact_rank(x) - q)
                rec.check(f"rollup.{kind}_rank_error", err <= RANK_BOUND[kind],
                          f"q={q}: rank error {err:.4f}")
        gbound = 3 * 1.04 / math.sqrt(2 ** GROUPED_P)
        states = {r["g"]: r for r in self.passes[-1]["grouped"]}
        for g, d in self.group_distinct.items():
            r = states.get(g)
            est = (deserialize_sketch(r["kind"], bytes(r["payload"]),
                                      json.loads(r["params"])).estimate()
                   if r is not None else 0.0)
            rec.check("rollup.grouped_hll_error", abs(est - d) <= gbound * d,
                      f"group {g}: estimate {est:.0f} vs exact {d}")

    def _exact_rank(self, x: float) -> float:
        """Share of generated values <= x: values are -ln(1 - (j + 0.5)/N)
        for j = 0..N-1, each exactly once."""
        u = -math.expm1(-x) if x > 0 else 0.0
        return min(max(math.floor(u * self.n - 0.5) + 1, 0), self.n) / self.n

    def write_read(self) -> list[tuple[float, float]]:
        """Per pass: (sketch + grouped + store write walls, range queries)."""
        return [(sum(p["sketch_s"].values()) + p["grouped_s"] + p["store_s"],
                 sum(p["range_s"])) for p in self.passes]

    def figures(self) -> dict:
        ps = self.passes
        return {
            "rollup.sketch_rows_per_s": median([len(SKETCHES) * self.n
                                                / sum(p["sketch_s"].values())
                                                for p in ps]),
            "rollup.grouped_rows_per_s": median([self.n / p["grouped_s"] for p in ps]),
            "rollup.store_epochs_per_s": median([self.n_epochs / p["store_s"]
                                                 for p in ps]),
            "rollup.range_query_s": median([s for p in ps for s in p["range_s"]]),
        }

    def decompose(self, rec) -> dict:
        """Traced decomposition of each global sketch into per-partition
        partials and the fan-in tree; store figures."""
        m = {}
        for kind, (col, params) in SKETCHES.items():
            states = partial_states(self.events, col, kind, params).cache()
            with rec.span(f"merge.partials.{kind}") as pp:
                states.write.format("noop").mode("overwrite").save()
            with rec.span(f"merge.tree.{kind}") as tp:
                tree_merge(states)
            states.unpersist()
            m[f"merge.partials_s.{kind}"] = pp["wall"]
            m[f"merge.tree_s.{kind}"] = tp["wall"]
        # executor fan-in rounds (fanin 32) over one state per partition,
        # plus the driver's final merge
        rounds, n = 1, self.parts
        while n > 32:
            n = (n + 31) // 32
            rounds += 1
        m["merge.rounds"] = rounds
        m["grouped.groups"] = len(self.passes[-1]["grouped"])
        epochs = [s for s in rec.spans if s["name"] == "store.epoch"]
        m["store.write_s_per_epoch"] = median([s["wall"] for s in epochs])
        m["store.jobs_per_epoch"] = median([rec.jobs(s) for s in epochs])
        m["store.bytes_written"] = self.passes[-1]["store_bytes"]
        m["store.merge_s"] = median(rec.walls("store.range"))
        return m

    def from_log(self, tr, m: dict) -> None:
        m["grouped.partials_s"] = tr.stage_wall("grouped", map_only=True)
        m["grouped.shuffle_bytes"] = tr.per_pass("grouped", "shuffle_write_bytes")
        for op in [f"sketch.{k}" for k in SKETCHES] + [
                "grouped", "store.epoch", "store.range"]:
            tr.timeline(op)


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
    return total
