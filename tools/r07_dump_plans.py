"""Dump .explain('formatted') for every query the round-7 optimization
touched, from a given repo root — run once against the round-start
worktree (suffix 'before') and once against the current tree ('after').

Usage: python tools/r07_dump_plans.py <repo_root> <out_dir> <suffix>
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.abspath(sys.argv[1])
OUT = os.path.abspath(sys.argv[2])
SUFFIX = sys.argv[3]
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.01"


def main():
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(REPO, "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    from pyspark.sql import functions as F

    from filterz_spark.spark.session import get_session
    spark = get_session(cores=8, **{"spark.ui.showConsoleProgress": "false"})
    qs = entry.queries()
    os.makedirs(OUT, exist_ok=True)

    def dump(name, df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(OUT, f"{name}_{SUFFIX}.txt"), "w") as f:
            f.write(buf.getvalue())
        print("dumped", name, flush=True)

    for name in ("minhash_signatures", "lsh_candidate_pairs", "decontaminate",
                 "curated_training_set", "rolling_fingerprints", "line_dedup",
                 "duplicate_spans", "url_canonical_dedup",
                 "lm_quality_buckets", "semdedup", "pack_sequences"):
        try:
            dump(name, qs[name](spark, SF))
        except Exception as e:
            print("SKIP", name, repr(e), flush=True)

    # bench-only legs
    from filterz_spark.ops.dedup import lsh_candidate_pairs
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    dump("minhash_lsh_band", lsh_candidate_pairs(
        docs, 8, 3, hash_family="band_md5"))

    # the sketch legs' driver-merge input: before = partials + the orderBy
    # tree_merge used to run (range exchange whose boundary sampling
    # re-executed the partials); after = the plain partials frame collected
    # unordered
    from filterz_spark.spark.merge import partial_states
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    values = li.select(F.xxhash64("l_partkey").alias("pk"))
    parts = partial_states(values, "pk", "hll", {"p": 14}, value_kind="pass")
    dump("hll_distinct", parts.orderBy("partition_id")
         if SUFFIX == "before" else parts)
    spark.stop()


if __name__ == "__main__":
    main()
