"""membership: the reference's section model.

Seeded distinct keys in partitions (sections) of ~1M keys are built into the
three headline filter configs with ``build_filter_index`` +
``collect_index``, then a seeded low-hit probe set (mostly absent keys) is
probed through ``broadcast_index`` + ``probe_membership``.

Keys are made JVM-side: present keys are ``(i << 1) ^ S`` and absent keys
``((j << 1) | 1) ^ S`` for a seeded 62-bit ``S``, so the two sets are
disjoint by parity and every probe's true label is known exactly.
"""

from __future__ import annotations

import math

from filterz_spark.spark.build import build_filter_index, hashed_keys
from filterz_spark.spark.probe import (broadcast_index, collect_index,
                                       probe_membership)
from pyspark.sql import functions as F

from .core import CONFIGS, median, sha256

HIT_COST_S = 200e-6  # the reference prices each hit as a 200 us read


def sbbf_fpr(bits_per_key: int, block_bits: int = 512, lane_bits: int = 64,
             lanes: int = 8) -> float:
    """False-positive rate of a split-block Bloom filter (the library's:
    64-byte blocks of eight 64-bit lanes, one bit set per lane per key):
    blocked-Bloom formula with Poisson block loads."""
    lam = block_bits / bits_per_key
    p, total = math.exp(-lam), 0.0
    for x in range(int(lam * 10) + 50):
        if x:
            p *= lam / x
        total += p * (1.0 - (1.0 - 1.0 / lane_bits) ** x) ** lanes
    return total


# per-filter FPR of the ideal structure: split-block formula for sbbf;
# 2^-fingerprint_bits for xor and ribbon. probe.fpr_ratio.<cfg> is measured
# against it.
PER_FILTER_FPR = {
    "sbbf24": sbbf_fpr(24),
    "xorf3_16": 2.0 ** -16,
    "ribbon128_16": 2.0 ** -16,
}


def filter_fpr(cfg: str, num_keys: int) -> float:
    """FPR of one filter of ``num_keys`` keys as the structure is specified,
    the bound the probe check holds it to.

    The SBBF (ref src/sbbf.zig, which ``filters/sbbf.py`` mirrors) reads
    only the low 33 bits of the 64-bit hash: the block from bits 0-31, each
    lane's bit from bits 27-32 of ``hash * SALT[lane]``. A probe whose low
    33 bits equal an inserted key's is always a hit, which adds
    ``num_keys / 2^33`` to the split-block formula (1.2e-4 at 1M keys, more
    than the formula's 9.1e-5). Random 64-bit hashes measure 0.94-0.99x
    this sum at 0.1M, 1M and 2M keys."""
    if cfg.startswith("sbbf"):
        return PER_FILTER_FPR[cfg] + num_keys / 2.0 ** 33
    return PER_FILTER_FPR[cfg]


# index bits / ideal bits, as the library's own filter tests bound them
SPACE_FACTOR = {"sbbf24": 1.001, "xorf3_16": 1.25, "ribbon128_16": 1.10}

SIZES = {
    "main": {"sections": 2, "keys_per_section": 1_000_000, "probes": 500_000},
    # 100k keys per section: the size the library's filter tests hold the
    # space factors at (they grow for smaller filters)
    "smoke": {"sections": 2, "keys_per_section": 100_000, "probes": 200_000},
}
PRESENT_EVERY = 1024  # ~1 probe in 1024 is a present key


class Membership:
    name = "membership"

    def __init__(self, spark, seed: int, size: str):
        self.spark = spark
        self.seed = seed
        self.parts = SIZES[size]["sections"]
        self.n_keys = SIZES[size]["keys_per_section"] * self.parts
        self.n_probes = SIZES[size]["probes"]
        self.mask = (seed * 0x9E3779B97F4A7C15 + 0x5DEECE66D) & ((1 << 62) - 1)
        self.keys = self.probes = None
        self.passes: list[dict] = []

    # ----------------------------------------------------------- set-up

    def setup(self) -> None:
        self.release()
        s = F.lit(self.mask)
        self.keys = (self.spark.range(0, self.n_keys, numPartitions=self.parts)
                     .select(F.shiftleft("id", 1).bitwiseXOR(s).alias("k"))
                     .cache())
        present = (F.xxhash64("id", F.lit(self.seed)) % PRESENT_EVERY) == 0
        pick = F.pmod(F.xxhash64("id", F.lit(self.seed + 1)), F.lit(self.n_keys))
        key = F.when(present, F.shiftleft(pick, 1).bitwiseXOR(s)).otherwise(
            F.shiftleft("id", 1).bitwiseOR(F.lit(1)).bitwiseXOR(s))
        self.probes = (self.spark.range(0, self.n_probes, numPartitions=self.parts)
                       .select(key.alias("k"), present.alias("present"))
                       .cache())
        self.keys.count()
        self.probes.count()

    def rebind(self, spark) -> None:
        """Start over on a new session: the old one's caches are gone."""
        self.spark = spark
        self.keys = self.probes = None
        self.passes = []

    def release(self) -> None:
        for df in (self.keys, self.probes):
            if df is not None:
                df.unpersist()

    def truth(self) -> None:
        self.n_present = self.probes.filter("present").count()

    # ------------------------------------------------------------- pass

    def run_pass(self, rec) -> None:
        out = {}
        for cfg, (kind, params) in CONFIGS.items():
            with rec.span(f"build.{cfg}") as sp:
                idx = collect_index(build_filter_index(
                    self.keys, "k", kind, params, num_partitions=self.parts))
            keys = sum(r["num_keys"] for r in idx)
            mem = sum(r["mem_usage"] for r in idx)
            ideal = sum(r["ideal_mem_usage"] for r in idx)
            rows = sorted(idx, key=lambda r: (r["partition_id"], r["payload"]))
            rec.same(f"membership.shards.{cfg}", len(idx))
            rec.same(f"membership.bits.{cfg}", mem * 8)
            rec.same(f"membership.sha256.{cfg}",
                     sha256(b"".join(r["payload"] for r in rows)))
            rec.check(f"membership.keys.{cfg}", keys == self.n_keys,
                      f"{keys} keys indexed, {self.n_keys} generated")
            rec.check(f"membership.space.{cfg}",
                      mem <= ideal * SPACE_FACTOR[cfg],
                      f"{mem / ideal:.4f}x ideal > {SPACE_FACTOR[cfg]}")
            with rec.span(f"probe.{cfg}") as pp:
                with rec.span(f"probe.broadcast.{cfg}"):
                    handle = broadcast_index(self.spark, idx)
                with rec.span(f"probe.pass.{cfg}"):
                    hit = F.col("maybe_present")
                    row = (probe_membership(self.probes, "k", handle)
                           .agg(F.count("*").alias("n"),
                                F.sum(hit.cast("long")).alias("hits"),
                                F.sum((F.col("present") & ~hit).cast("long"))
                                .alias("fn"),
                                F.sum((~F.col("present") & hit).cast("long"))
                                .alias("fp"))
                           .collect()[0])
            handle.unpersist()
            self._check_probe(rec, cfg, [r["num_keys"] for r in idx], row)
            out[cfg] = {"build_s": sp["wall"], "keys": keys, "bits": mem * 8,
                        "shards": len(idx), "probe_s": pp["wall"],
                        "probes": row["n"], "hits": row["hits"],
                        "fp": row["fp"], "build_ns": [r["build_ns"] for r in idx],
                        "index_bytes": mem}
        self.passes.append(out)

    def _check_probe(self, rec, cfg, shard_keys, row) -> None:
        rec.check(f"membership.probes.{cfg}", row["n"] == self.n_probes,
                  f"{row['n']} probe rows, {self.n_probes} generated")
        rec.check(f"membership.false_negatives.{cfg}", row["fn"] == 0,
                  f"{row['fn']} present keys probed absent")
        absent = self.n_probes - self.n_present
        p = 1.0 - math.prod(1.0 - filter_fpr(cfg, n) for n in shard_keys)
        expected = absent * p
        limit = expected + 4.0 * math.sqrt(max(expected, 1.0)) + 4.0
        rec.check(f"membership.fpr.{cfg}", row["fp"] <= limit,
                  f"{row['fp']} false positives > limit {limit:.1f}")
        rec.same(f"membership.hits.{cfg}", row["hits"])

    def checks(self, rec) -> None:
        """Per-pass outputs are checked as they are produced."""

    # ----------------------------------------------------------- metrics

    def write_read(self) -> list[tuple[float, float]]:
        """Per pass: (build wall, probe wall), summed over the configs."""
        return [(sum(c["build_s"] for c in p.values()),
                 sum(c["probe_s"] for c in p.values())) for p in self.passes]

    def figures(self) -> dict:
        def per_pass(fn):
            return median([fn(p) for p in self.passes])

        return {
            "membership.build_keys_per_s": per_pass(
                lambda p: sum(c["keys"] for c in p.values())
                / sum(c["build_s"] for c in p.values())),
            "membership.probe_keys_per_s": per_pass(
                lambda p: sum(c["probes"] for c in p.values())
                / sum(c["probe_s"] for c in p.values())),
            "membership.bits_per_key": per_pass(
                lambda p: sum(c["bits"] for c in p.values()) / self.n_keys),
            "membership.est_query_cost_s": per_pass(lambda p: sum(
                c["hits"] * HIT_COST_S + c["probe_s"] for c in p.values())),
        }

    def decompose(self, rec) -> dict:
        """Each build's parts run on their own: the hash + repartition
        shuffle, the Arrow pass (Python worker + kernel) over pre-partitioned
        cached keys, and the collect; plus index and probe figures."""
        m = {}
        last = self.passes[-1]
        with rec.span("build.shuffle") as sp:
            (hashed_keys(self.keys, "k").repartition(self.parts, "h")
             .write.format("noop").mode("overwrite").save())
        m["build.shuffle_s"] = sp["wall"]
        part = hashed_keys(self.keys, "k").repartition(self.parts, "h").cache()
        part.count()
        for cfg, (kind, params) in CONFIGS.items():
            idx_df = build_filter_index(part, "h", kind, params,
                                        pre_partitioned=True).cache()
            with rec.span(f"build.arrow_pass.{cfg}") as ap:
                idx_df.write.format("noop").mode("overwrite").save()
            with rec.span(f"build.collect.{cfg}") as cp:
                collect_index(idx_df)
            att = idx_df.groupBy("partition_id").agg(
                F.count("*").alias("shards"), F.max("attempts").alias("attempts")
            ).agg(F.sum("shards"), F.sum("attempts")).collect()[0]
            idx_df.unpersist()
            ns = last[cfg]["build_ns"]
            m[f"build.kernel_s.{cfg}"] = sum(ns) / 1e9
            m[f"build.kernel_crit_s.{cfg}"] = max(ns) / 1e9
            m[f"build.attempts_per_shard.{cfg}"] = att[0] / att[1]
            m[f"build.arrow_pass_s.{cfg}"] = ap["wall"]
            m[f"build.collect_s.{cfg}"] = cp["wall"]
            m[f"index.bytes.{cfg}"] = last[cfg]["index_bytes"]
            m[f"index.shards.{cfg}"] = last[cfg]["shards"]
        part.unpersist()
        bc = [w for c in CONFIGS for w in rec.walls(f"probe.broadcast.{c}")]
        ps = [w for c in CONFIGS for w in rec.walls(f"probe.pass.{c}")]
        m["probe.broadcast_s"] = median(bc)
        m["probe.pass_s"] = median(ps)
        m["probe.hits"] = sum(c["hits"] for c in last.values())
        absent = self.n_probes - self.n_present
        m["probe.fpr"] = (sum(c["fp"] for c in last.values())
                          / (len(CONFIGS) * absent))
        for cfg, c in last.items():
            bound = 1.0 - (1.0 - PER_FILTER_FPR[cfg]) ** c["shards"]
            m[f"probe.fpr_ratio.{cfg}"] = c["fp"] / absent / bound
        return m

    def from_log(self, tr, m: dict) -> None:
        m["build.shuffle_write_bytes"] = tr.per_pass("build.shuffle",
                                                     "shuffle_write_bytes")
        for cfg in CONFIGS:
            tr.timeline(f"build.{cfg}", {"native kernel (critical path)":
                                         m[f"build.kernel_crit_s.{cfg}"]})
            tr.timeline(f"probe.{cfg}")
