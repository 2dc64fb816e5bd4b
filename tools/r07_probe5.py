"""Round-7 probe #5: km-family LSH with LONG bucket keys (no string
casts) vs the current string form, and write_sketch_epoch final-stage
cost."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))
    from filterz_spark.spark.session import get_session
    from filterz_spark.ops.dedup import lsh_candidate_pairs, shingles

    spark = get_session(cores=cores, shuffle_partitions=cores,
                        **{"spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = {}

    def timed(name, fn, r=reps):
        best = None
        for _ in range(r):
            t0 = time.monotonic()
            fn()
            dt = time.monotonic() - t0
            best = dt if best is None or dt < best else best
        out[name] = round(best, 3)
        print(f"{name}: {out[name]}", file=sys.stderr, flush=True)

    sc.setJobDescription("km current (string buckets)")
    timed("km_current", lambda: lsh_candidate_pairs(
        docs, 8, 3).count())

    def km_longs():
        num_hashes, k = 8, 3
        sh = shingles(docs, k=k)
        hs = (sh.select("doc_id", F.md5("shingle").alias("mh"))
              .select("doc_id",
                      F.conv(F.substring("mh", 1, 14), 16, 10)
                      .cast("long").alias("h1"),
                      F.conv(F.substring("mh", 15, 14), 16, 10)
                      .cast("long").alias("h2")))
        mins = [F.min(F.col("h1") + F.lit(b) * F.col("h2")).alias(f"m{b}")
                for b in range(num_hashes)]
        agg = hs.groupBy("doc_id").agg(*mins)
        sig = agg.select("doc_id", F.posexplode(F.array(
            *[F.col(f"m{b}") for b in range(num_hashes)])).alias(
            "band", "minhash"))
        buckets = (sig.groupBy("band", "minhash")
                   .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
                   .filter(F.size("ids") >= 2)
                   .filter(F.size("ids") <= 10_000))
        e = buckets.select("ids", F.posexplode("ids").alias("i", "doc_a"))
        pairs = e.select(
            "doc_a",
            F.explode(F.slice("ids", F.col("i") + 2,
                              F.size("ids") - F.col("i") - 1)).alias("doc_b"))
        return (pairs.groupBy("doc_a", "doc_b")
                .agg(F.count("*").cast("long").alias("n_bands")))

    sc.setJobDescription("km long buckets")
    timed("km_longs", lambda: km_longs().count())
    out["km_current_rows"] = lsh_candidate_pairs(
        docs, 8, 3).count()
    out["km_longs_rows"] = km_longs().count()

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
