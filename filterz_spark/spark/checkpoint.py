"""Checkpointed, resumable filter-index builds with lineage + metrics.

North-rule requirement: per-partition sketch state checkpointed with lineage
and metrics for resumable builds. The filter index (build.py schema) already
carries metrics (build_ns, mem_usage, ideal_mem_usage, attempts — mirroring
the reference's BenchStats, src/bench.zig:186-193); this module adds the
lineage envelope (input fingerprint, kind/params, partition count, epoch) and
the resume protocol:

1. A build writes its index partitioned as parquet under ``dir/state`` plus
   a ``dir/_lineage.json`` manifest.
2. Resume re-derives the same deterministic partitioning (repartition by key
   hash is deterministic for fixed P), reads completed partition_ids from the
   checkpoint, and rebuilds ONLY the missing ones (skip set pushed into the
   mapInArrow closure — completed partitions are scanned but not rebuilt,
   construction being the dominant cost).
3. The final index = union of checkpointed + newly built rows; a rerun after
   full completion is a no-op scan of the manifest.

Parquet stands in for Iceberg here (sandbox has no catalog); the layout maps
1:1 onto an Iceberg table partitioned by partition_id with snapshot lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import manifest
from .build import INDEX_SCHEMA, build_filter_index


def _lineage_path(checkpoint_dir: str) -> str:
    return f"{checkpoint_dir.rstrip('/')}/_lineage.json"


def _state_path(checkpoint_dir: str) -> str:
    return f"{checkpoint_dir.rstrip('/')}/state"


def read_lineage(checkpoint_dir: str) -> dict | None:
    return manifest.read(_lineage_path(checkpoint_dir))


def checkpointed_build(spark: SparkSession, df: DataFrame, key_col: str,
                       checkpoint_dir: str, kind: str = "xorf",
                       params: dict | None = None,
                       num_partitions: int = 32,
                       fail_after: int | None = None) -> DataFrame:
    """Build (or resume) a filter index with checkpointing.

    ``fail_after``: test hook — build at most this many NEW partitions this
    invocation (simulates a mid-build crash; a subsequent call resumes).
    """
    params = params or {}
    lineage = read_lineage(checkpoint_dir)
    expected = {
        "kind": kind,
        "params": {k: str(v) for k, v in params.items()},
        "key_col": key_col,
        "num_partitions": num_partitions,
    }
    if lineage is not None:
        manifest.check("checkpoint", checkpoint_dir, lineage,
                       "different parameters. Resume with the checkpoint's "
                       "parameters, or point at a fresh directory.",
                       **expected)
        done = frozenset(lineage["completed_partitions"])
        lineage.setdefault("snapshots", [])
    else:
        lineage = {**expected, "epoch": 0, "completed_partitions": [],
                   "snapshots": []}
        done = frozenset()

    if len(done) < num_partitions:
        import time as _time
        t0 = _time.monotonic()
        skip = done
        new_index = build_filter_index(
            df, key_col, kind, params, num_partitions, skip_pids=skip
        )
        if fail_after is not None:
            # simulate crash: persist only the first N new PARTITIONS —
            # partition-atomic, never splitting a partition's shard rows
            # (a half-persisted re-split partition would resume as "done"
            # with a missing shard = false negatives on probe)
            rows = new_index.collect()
            by_pid: dict[int, list] = {}
            for r in rows:
                by_pid.setdefault(r["partition_id"], []).append(r)
            kept_pids = sorted(by_pid)[:fail_after]
            kept = [r for pid in kept_pids for r in
                    sorted(by_pid[pid], key=lambda r: r["shard"])]
            new_index = spark.createDataFrame(kept, schema=INDEX_SCHEMA) if kept \
                else spark.createDataFrame([], schema=INDEX_SCHEMA)
            completed_now = set(kept_pids)
        else:
            # the full job ran every non-skipped partition to completion:
            # partitions that produced zero rows (empty after the shuffle)
            # are complete too — without recording them, reruns would
            # re-execute the build forever (epoch inflation, never a no-op)
            completed_now = set(range(num_partitions))
        new_index.write.mode("append").parquet(_state_path(checkpoint_dir))
        # build wall stops HERE: the snapshot-stats read below is metrics
        # overhead, not build cost, and must not inflate wall_s
        build_wall = round(_time.monotonic() - t0, 3)
        lineage["completed_partitions"] = sorted(set(done) | completed_now)
        lineage["epoch"] += 1
        # Iceberg-style snapshot record: what this epoch added and its build
        # metrics, aggregated from the (tiny — one row per partition shard)
        # state table it just wrote, NOT from re-running the build plan
        from pyspark.sql import functions as F
        new_pids = sorted(set(completed_now) - set(done))
        stats = (spark.read.parquet(_state_path(checkpoint_dir))
                 .filter(F.col("partition_id").isin(new_pids))
                 .dropDuplicates(["partition_id", "shard"])
                 .agg(F.count("*").alias("shards"),
                      F.coalesce(F.sum("num_keys"), F.lit(0)).alias("keys"),
                      F.coalesce(F.sum("build_ns"), F.lit(0)).alias("build_ns"),
                      F.coalesce(F.sum("mem_usage"), F.lit(0)).alias("mem"))
                 .collect()[0]) if new_pids else None
        lineage["snapshots"].append({
            "epoch": lineage["epoch"],
            "new_partitions": new_pids,
            "shards": int(stats["shards"]) if stats else 0,
            "keys": int(stats["keys"]) if stats else 0,
            "build_ns": int(stats["build_ns"]) if stats else 0,
            "mem_usage": int(stats["mem"]) if stats else 0,
            "wall_s": build_wall,
        })
        manifest.write(_lineage_path(checkpoint_dir), lineage)

    state = _state_path(checkpoint_dir)
    if not manifest.exists(state):  # every partition was empty: empty index
        return spark.createDataFrame([], schema=INDEX_SCHEMA)
    full = spark.read.parquet(state)
    # keep one row per partition shard (re-runs may append duplicates;
    # builds are deterministic so any copy is byte-identical — take the first)
    return full.dropDuplicates(["partition_id", "shard"])
