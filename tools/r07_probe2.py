"""Round-7 probe #2: decompose curate, minhash-family signature vs pair
stages, the tree_merge orderBy double-execution, and one epoch write."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "2"))
    from filterz_spark.spark.session import get_session
    from filterz_spark.ops.dedup import (minhash_signature_arrays,
                                         lsh_candidate_pairs,
                                         ngram_decontaminate)
    from filterz_spark.ops.text import normalize_text
    from filterz_spark.spark.merge import partial_states, tree_merge

    spark = get_session(cores=cores, shuffle_partitions=cores,
                        **{"spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs32 = docs.repartition(cores)
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

    # --- minhash family decomposition (docs32) ---
    sc.setJobDescription("km sig pass")
    timed("km_sig_noop", lambda: noop(
        minhash_signature_arrays(docs32, 8, 3, "km_md5")))
    sc.setJobDescription("band sig pass")
    timed("band_sig_noop", lambda: noop(
        minhash_signature_arrays(docs32, 8, 3, "band_md5")))
    sc.setJobDescription("km full")
    timed("km_full", lambda: lsh_candidate_pairs(
        docs32, 8, 3).count())
    sc.setJobDescription("band full")
    timed("band_full", lambda: lsh_candidate_pairs(
        docs32, 8, 3, hash_family="band_md5").count())

    # --- curate decomposition (docs32) ---
    norm = normalize_text(docs32, keep_cols=("lang",))
    ws = F.split(F.col("norm_text"), " ")
    survivors = (norm
                 .withColumn("n_tokens", F.size(ws).cast("long"))
                 .withColumn("__dr", F.size(F.array_distinct(ws))
                             / F.col("n_tokens"))
                 .filter((F.col("n_tokens") >= 5)
                         & (F.col("n_tokens") <= 100_000)
                         & (F.col("__dr") >= 0.3))
                 .select("doc_id", "lang", "norm_hash", "n_tokens"))
    sc.setJobDescription("curate: survivors only")
    timed("curate_survivors", lambda: survivors.count())
    surv_lc = survivors.localCheckpoint(eager=False)
    keep = surv_lc.groupBy("norm_hash").agg(F.min("doc_id").alias("doc_id"))
    deduped = surv_lc.join(keep, ["norm_hash", "doc_id"], "left_semi")
    sc.setJobDescription("curate: + dedup")
    timed("curate_dedup", lambda: deduped.count())
    sc.setJobDescription("curate: decon subtree only")
    timed("curate_decon", lambda: ngram_decontaminate(
        docs32, docs32.filter("doc_id % 50 = 0"), k=3,
        min_contamination=0.2).count())

    # --- tree_merge orderBy double-execution ---
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    values = li.select(F.xxhash64("l_partkey").alias("pk")) \
               .repartition(cores).cache()
    values.count()
    parts = partial_states(values, "pk", "hll", {"p": 14}, value_kind="pass")
    sc.setJobDescription("tree_merge as-is (orderBy)")
    timed("tree_merge_orderby", lambda: tree_merge(parts).estimate())
    sc.setJobDescription("collect no orderBy")

    def merge_no_orderby():
        import json as _json
        from filterz_spark.sketches import deserialize_sketch
        rows = sorted(parts.collect(), key=lambda r: r["partition_id"])
        acc = None
        for r in rows:
            s = deserialize_sketch(r["kind"], bytes(r["payload"]),
                                   _json.loads(r["params"]))
            acc = s if acc is None else acc.merge(s)
        return acc.estimate()

    timed("tree_merge_plain_collect", merge_no_orderby)

    # --- one epoch write decomposition ---
    import shutil
    from filterz_spark.spark.sketch_store import write_sketch_epoch
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")) \
        .withColumn("epoch", F.concat(F.lit("w"), F.weekofyear("ts"))) \
        .cache()
    weeks = sorted(r["epoch"] for r in
                   events.select("epoch").distinct().collect())
    w0 = weeks[0]
    ev_w = events.where(F.col("epoch") == w0)
    sc.setJobDescription("epoch: partials noop")
    timed("epoch_partials_noop", lambda: noop(
        partial_states(ev_w, "user_id", "hll", {"p": 14})))
    store_dir = "/tmp/filterz_r07_probe2_store"

    def one_epoch():
        shutil.rmtree(store_dir, ignore_errors=True)
        write_sketch_epoch(ev_w, "user_id", store_dir, w0,
                           kind="hll", params={"p": 14})

    sc.setJobDescription("epoch: full write (fresh store)")
    timed("epoch_write_fresh", one_epoch)

    def second_epoch():
        write_sketch_epoch(events.where(F.col("epoch") == weeks[1]),
                           "user_id", store_dir, weeks[1],
                           kind="hll", params={"p": 14})

    sc.setJobDescription("epoch: second write (marker exists)")
    timed("epoch_write_second", second_epoch, r=1)
    events.unpersist()

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
