"""neardup: exact dedup, then MinHash -> LSH candidates -> exact Jaccard
verification -> connected components, all with library defaults.

The corpus is ``generate_batch(ids, vocab="zipf")`` from
``filterz_spark.sources.pages`` over a seeded id range, plus seeded planted
copies: exact duplicates, strong near-duplicates (a few tokens replaced,
Jaccard >= 0.8) and weak ones (Jaccard around 0.5). The generated corpus
alone has no near-duplicate pairs at Jaccard >= 0.3.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pyarrow as pa
from filterz_spark.ops.dedup import (exact_dedup, lsh_candidate_pairs,
                                     minhash_signature_arrays, ngram_jaccard_pairs)
from filterz_spark.ops.relational import dedup_components
from filterz_spark.sources.pages import generate_batch
from pyspark.sql import functions as F

from .core import median

SIZES = {"main": {"docs": 400}, "smoke": {"docs": 300}}
COPY_BASE = 1 << 40  # planted copy of doc i gets id COPY_BASE + i
K = 2  # shingle width: the library default
NUM_HASHES = 8  # MinHash bands: the library default
MIN_JACCARD = 0.3
# planted copies per 1000 docs: exact, strong (~2% tokens replaced), weak
EXACT, STRONG, WEAK = 30, 300, 50
STRONG_RATE, WEAK_RATE = 2, 25  # replaced tokens per 100
RECHECK = 64  # verified pairs rechecked driver-side per run
STAGES = ("exact", "signature", "candidate", "verify", "components")


def _mix(x: np.ndarray) -> np.ndarray:
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def plant_kind(rid: np.ndarray, seed: int) -> np.ndarray:
    """0 none, 1 exact copy, 2 strong near copy, 3 weak near copy."""
    salt = np.uint64(seed * 0x2545F4914F6CDD1D & (2 ** 64 - 1))
    r = (_mix(rid.astype(np.uint64) ^ salt)
         % np.uint64(1000)).astype(np.int64)
    return np.select([r < EXACT, r < EXACT + STRONG, r < EXACT + STRONG + WEAK],
                     [1, 2, 3], 0)


def perturb(rid: int, text: str, rate: int) -> str:
    toks = text.split(" ")
    h = _mix(np.uint64(rid) * np.uint64(1_000_003)
             + np.arange(len(toks), dtype=np.uint64))
    for i in np.flatnonzero(h % np.uint64(100) < np.uint64(rate)):
        toks[i] = f"x{int(h[i]):x}"
    return " ".join(toks)


def make_docs(rid: np.ndarray, seed: int) -> tuple[list[int], list[str]]:
    texts = generate_batch(rid, vocab="zipf")["text"]
    kinds = plant_kind(rid, seed)
    ids, out = [int(r) for r in rid], list(texts)
    for r, t, k in zip(rid, texts, kinds):
        if k == 1:
            copy = t
        elif k == 2:
            copy = perturb(int(r), t, STRONG_RATE)
        elif k == 3:
            copy = perturb(int(r), t, WEAK_RATE)
        else:
            continue
        ids.append(COPY_BASE + int(r))
        out.append(copy)
    return ids, out


def _gen_fn(seed: int):
    def fn(batches):
        for batch in batches:
            ids, texts = make_docs(batch.column(0).to_numpy(zero_copy_only=False),
                                   seed)
            yield pa.RecordBatch.from_pydict({
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string())})
    return fn


def shingle_set(text: str) -> set:
    """The library's word k-gram shingles (docs shorter than k words give
    one whole-doc shingle)."""
    ws = text.split(" ")
    n = max(len(ws) - K + 1, 1)
    return {" ".join(ws[i:i + K]) for i in range(n)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def km_md5_signature(text: str) -> list[int]:
    """The library's default ``km_md5`` MinHash signature: per shingle, one
    md5 split into two 56-bit halves (h1, h2); band b's minhash is the
    minimum of ``h1 + b * h2``."""
    hs = []
    for sh in shingle_set(text):
        d = hashlib.md5(sh.encode()).hexdigest()
        hs.append((int(d[:14], 16), int(d[14:28], 16)))
    return [min(h1 + b * h2 for h1, h2 in hs) for b in range(NUM_HASHES)]


def lsh_collides(a: str, b: str) -> bool:
    """Whether two docs share a (band, minhash) bucket: the LSH stage's
    candidate rule."""
    return any(x == y for x, y in zip(km_md5_signature(a),
                                      km_md5_signature(b)))


class Neardup:
    name = "neardup"

    def __init__(self, spark, seed: int, size: str, cores: int):
        self.spark = spark
        self.seed = seed
        self.parts = cores
        self.n_base = SIZES[size]["docs"]
        self.base = 1 + (seed % 100_000) * 10_000_000
        self.docs = None
        self.passes: list[dict] = []
        self._cached: list = []

    def setup(self) -> None:
        self.release()
        self.docs = (self.spark.range(self.base, self.base + self.n_base,
                                      numPartitions=self.parts)
                     .mapInArrow(_gen_fn(self.seed), "doc_id long, text string")
                     .cache())
        self.n_docs = self.docs.count()

    def rebind(self, spark) -> None:
        """Start over on a new session: the old one's caches are gone."""
        self.spark = spark
        self.docs = None
        self._cached = []
        self.passes = []

    def release(self) -> None:
        if self.docs is not None:
            self.docs.unpersist()
        self._drop()

    def _drop(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def truth(self) -> None:
        rid = np.arange(self.base, self.base + self.n_base, dtype=np.uint64)
        planted = rid[plant_kind(rid, self.seed) > 0]
        texts = dict(zip(*make_docs(planted, self.seed)))
        # a copy whose perturbation replaced no token is an exact duplicate
        self.n_exact = sum(texts[int(r)] == texts[COPY_BASE + int(r)]
                           for r in planted)
        self.strong_pairs = {
            (int(r), COPY_BASE + int(r)) for r in planted
            if texts[int(r)] != texts[COPY_BASE + int(r)]
            and jaccard(texts[int(r)], texts[COPY_BASE + int(r)]) >= 0.8}
        # the strong pairs the library's default LSH makes candidates; its
        # km_md5 bands are correlated (``h1 + b * h2``: one shingle can hold
        # the minimum of every band), so this misses more pairs than eight
        # independent bands would. dedup.planted_recall reports the share.
        self.lsh_pairs = {(a, b) for a, b in self.strong_pairs
                          if lsh_collides(texts[a], texts[b])}

    def run_pass(self, rec) -> None:
        self._drop()
        keep = self._cached.append
        with rec.span("dedup") as whole:
            with rec.span("dedup.exact") as s_exact:
                groups = exact_dedup(self.docs).cache()
                keep(groups)
                kept = self.docs.join(
                    groups.select(F.col("keep_id").alias("doc_id")),
                    "doc_id", "left_semi").cache()
                keep(kept)
                n_kept = kept.count()
            with rec.span("dedup.signature") as s_sig:
                sig = minhash_signature_arrays(kept).cache()
                keep(sig)
                sig.count()
            with rec.span("dedup.candidate") as s_cand:
                cand = lsh_candidate_pairs(kept, signatures=sig).cache()
                keep(cand)
                n_cand = cand.count()
            with rec.span("dedup.verify") as s_ver:
                pairs = ngram_jaccard_pairs(kept, min_jaccard=MIN_JACCARD,
                                            candidates=cand).cache()
                keep(pairs)
                n_pairs = pairs.count()
            with rec.span("dedup.components") as s_comp:
                comp = dedup_components(pairs, kept.select("doc_id")).cache()
                keep(comp)
                n_clusters = comp.select("cluster_id").distinct().count()
        rec.check("neardup.exact_dedup", n_kept == self.n_docs - self.n_exact,
                  f"{n_kept} docs kept, expected {self.n_docs - self.n_exact}")
        for key, val in (("kept", n_kept), ("candidates", n_cand),
                         ("verified_pairs", n_pairs), ("components", n_clusters)):
            rec.same(f"neardup.{key}", val)
        self.last = {"kept": kept, "sig": sig, "pairs": pairs, "comp": comp}
        self.passes.append({
            "wall": whole["wall"], "exact": s_exact["wall"], "signature": s_sig["wall"],
            "candidate": s_cand["wall"], "verify": s_ver["wall"],
            "components": s_comp["wall"], "candidates": n_cand,
            "verified_pairs": n_pairs, "clusters": n_clusters})

    def checks(self, rec) -> None:
        pairs = [(r["doc_a"], r["doc_b"], r["jaccard"])
                 for r in self.last["pairs"].collect()]
        found = {(a, b) for a, b, _ in pairs} & self.strong_pairs
        self.recall = len(found) / max(len(self.strong_pairs), 1)
        # exact: a planted pair with J >= 0.8 is returned if and only if its
        # km_md5 signatures share a band (verification is exact)
        rec.check("neardup.planted_found", found == self.lsh_pairs,
                  f"{len(self.lsh_pairs - found)} planted pairs with J >= 0.8 "
                  f"sharing a band not returned, {len(found - self.lsh_pairs)} "
                  f"returned without sharing one")
        rec.check("neardup.planted_present", len(self.strong_pairs) > 0,
                  "no planted pair with J >= 0.8")
        sample = random.Random(self.seed).sample(pairs, min(RECHECK, len(pairs)))
        ids = sorted({d for a, b, _ in sample for d in (a, b)})
        texts = dict((r["doc_id"], r["text"]) for r in
                     self.docs.where(F.col("doc_id").isin(ids)).collect())
        for a, b, j in sample:
            true = jaccard(texts[a], texts[b])
            rec.check("neardup.recheck", true >= MIN_JACCARD and abs(true - j) <= 5e-5,
                      f"pair ({a}, {b}): library {j}, recheck {true:.5f}")
        sigs = self.last["sig"].where(F.col("doc_id").isin(ids)).collect()
        for r in sigs:
            rec.check("neardup.signature",
                      [int(x) for x in r["sig"]] == km_md5_signature(texts[r["doc_id"]]),
                      f"doc {r['doc_id']}: library signature differs from a "
                      "driver-side km_md5 recompute")
        labels = dict((r["doc_id"], r["cluster_id"])
                      for r in self.last["comp"].collect())
        want = _components(labels.keys(), [(a, b) for a, b, _ in pairs])
        rec.check("neardup.components", labels == want,
                  f"{sum(labels.get(k) != v for k, v in want.items())} docs "
                  "labelled differently from a driver-side union-find")
        self.iters = _propagation_rounds(labels.keys(), [(a, b) for a, b, _ in pairs])

    def write_read(self) -> list[tuple[float, float]]:
        """Per pass: (exact dedup + signatures + LSH candidates,
        verification + components)."""
        return [(p["exact"] + p["signature"] + p["candidate"],
                 p["verify"] + p["components"]) for p in self.passes]

    def figures(self) -> dict:
        return {"neardup.docs_per_s": median([self.n_docs / p["wall"]
                                              for p in self.passes])}

    def decompose(self, rec) -> dict:
        m = {}
        for stage in STAGES:
            m[f"dedup.{stage}_s"] = median([p[stage] for p in self.passes])
        last = self.passes[-1]
        m["dedup.candidates"] = last["candidates"]
        m["dedup.verified_pairs"] = last["verified_pairs"]
        m["dedup.verify_yield"] = last["verified_pairs"] / last["candidates"]
        m["dedup.components_iters"] = self.iters
        m["dedup.planted_recall"] = self.recall
        return m

    def from_log(self, tr, m: dict) -> None:
        for stage in STAGES:
            tr.timeline(f"dedup.{stage}")


def _components(nodes, edges) -> dict:
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _propagation_rounds(nodes, edges) -> int:
    """Rounds of min-label propagation until no label changes, plus the
    round that confirms it: the work ``dedup_components`` iterates over."""
    label = {n: n for n in nodes}
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    rounds = 1
    while True:
        new = {n: min([label[n]] + [label[m] for m in adj.get(n, ())])
               for n in label}
        if new == label:
            return rounds
        label = new
        rounds += 1
