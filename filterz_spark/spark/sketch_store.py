"""Epoch-partitioned persisted sketch stores (incremental rollup tier).

The production sketch pattern at 100 TB: raw data is scanned ONCE per
epoch (a day of events, a crawl snapshot), reduced to kilobyte mergeable
states, and every later question ("distinct users over the last 90
days?") is answered by merging the stored states for the epoch range —
never by rescanning 100 TB. This is the persisted-rollup discipline of
Druid/Pinot-style sketch tiers, built here on the same mergeable-sketch
monoids as ``spark.merge`` (SURVEY.md §2.6) and the same family-pinning
contract as the batch signature store (``ops/dedup.py``): a store whose
marker disagrees with the caller refuses loudly instead of silently
merging incompatible states.

Reference parity: the reference (steelcake/filterz) persists filter
payloads and reloads them for membership probes (`src/bench.zig:71-117`
read_file -> build -> check loop); this module extends the same
build-once / probe-many shape to the mergeable-sketch tier the north
rule adds.

Scale shape per epoch write: one map-side pass builds per-partition
partials where the data lives (no shuffle of raw rows), then fan-in
``applyInPandas`` rounds reduce them to ``states_per_epoch`` rows (KB
each) ENTIRELY on executors — the store write never routes payloads
through the driver. Merging a range reads only the requested epoch
partitions (partition-pruned scan over KB files) and tree-merges them.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sketches import SKETCH_KINDS, MergeableSketch
from . import manifest
from .merge import STATE_SCHEMA, _merge_group, partial_states, tree_merge

SKETCHSTORE_META_DIR = "_filterz_sketch_meta"
# store rows add the epoch partition column to the merge-state schema
STORE_SCHEMA = STATE_SCHEMA + ", epoch string"


def _params_key(params: dict) -> str:
    """Canonical (sorted-key) JSON so marker comparison is order-stable."""
    return json.dumps(params or {}, sort_keys=True)


def _meta_path(path: str) -> str:
    return f"{path.rstrip('/')}/{SKETCHSTORE_META_DIR}"


def _read_meta(spark: SparkSession, path: str) -> dict | None:
    return manifest.read(_meta_path(path))


def _stamp(spark: SparkSession, path: str, kind: str, params: dict,
           value_kind: str) -> None:
    manifest.write(f"{_meta_path(path)}/marker.json", {
        "kind": kind, "params": _params_key(params),
        "value_kind": value_kind, "version": 1})


def _check(path: str, meta: dict, **want) -> None:
    manifest.check(
        "sketch store", path, meta,
        "states of different kinds or parameters do not merge (register "
        "widths / hash planes misalign), so the store would be corrupted. "
        "Write to a fresh path or match the store's parameters.", **want)


def _resolve_value_kind(kind: str, value_kind: str | None) -> str:
    if value_kind is None:
        return "float" if kind in ("tdigest", "kll") else "hash"
    return value_kind


def write_sketch_epoch(df: DataFrame, col: str, path: str, epoch: str, *,
                       kind: str, params: dict | None = None,
                       value_kind: str | None = None,
                       states_per_epoch: int = 1,
                       fanin: int = 32,
                       merge_existing: bool = False) -> None:
    """Reduce one epoch of raw rows to persisted sketch states.

    Overwrites ONLY this epoch's partition (dynamic partition overwrite),
    so re-running a failed/changed day replaces that day and nothing
    else — the write is idempotent per (path, epoch).

    ``merge_existing=True`` is the INCREMENTAL mode (streaming
    foreachBatch appending micro-batches into the current day, or late
    data trickling into a closed day): the epoch's existing states are
    folded in as extra partials before the reduction, so the rewritten
    partition equals old-state ⊔ new-rows. Replace semantics (the
    default) are for recomputing a day from scratch. NOTE the two modes'
    replay stories differ: replace is idempotent per (path, epoch);
    merge_existing composes monotonically, so EXACT re-delivery of the
    same rows is only a no-op for idempotent-merge sketches (HLL/Bloom
    max/or — gated in tests) — counting sketches (CMS) double-count a
    replayed batch, same as any at-least-once counter; guard those with
    the caller's batch-id watermark (streaming/windowed.py discipline).

    The reduction is fully distributed: per-partition partials
    (``partial_states``: one mapInArrow pass, no shuffle of raw rows),
    then fan-in merge rounds down to ``states_per_epoch`` rows. The only
    driver traffic is ``merge_existing`` lifting the epoch's CURRENT
    states — at most ``states_per_epoch`` KB-sized rows by construction
    (never data-sized), required because Spark cannot overwrite a
    partition it is concurrently scanning. ``states_per_epoch > 1``
    keeps residual parallelism for enormous epochs; the default 1 makes
    range merges read exactly one KB-sized row per epoch.
    """
    if kind not in SKETCH_KINDS:
        raise ValueError(f"unknown sketch kind {kind!r}: {sorted(SKETCH_KINDS)}")
    params = params or {}
    value_kind = _resolve_value_kind(kind, value_kind)
    spark = df.sparkSession

    meta = _read_meta(spark, path)
    if meta is not None:
        _check(path, meta, kind=kind, params=_params_key(params),
               value_kind=value_kind)
    elif manifest.names(path):
        # refuse to adopt foreign data silently, same as the signature store
        raise manifest.refuse(
            "sketch store", path,
            "its sketch parameters are unknown (foreign directory or "
            "pre-marker store). Point at a fresh path.",
            missing=SKETCHSTORE_META_DIR)
    else:
        # marker BEFORE data: a crashed data write leaves a marked store
        # that the retry accepts, never data without a marker
        _stamp(spark, path, kind, params, value_kind)

    states = partial_states(df, col, kind, params, value_kind)
    prior_used = False
    if merge_existing and meta is not None:
        # lift the epoch's current states off the partition about to be
        # overwritten (<= states_per_epoch KB rows — bounded by the
        # constant, never by data size)
        prior = spark.read.schema(STORE_SCHEMA).parquet(path) \
            .where(F.col("epoch") == str(epoch)) \
            .select("partition_id", "kind", "params", "payload").collect()
        if prior:
            states = states.unionByName(
                spark.createDataFrame(prior, STATE_SCHEMA))
            prior_used = True
    # executor-side fan-in reduction to `states_per_epoch` rows. Round
    # count is derived from the df partition count (metadata, no job).
    try:
        n = states._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        n = states.rdd.getNumPartitions()
    cur, divisor = states, fanin
    reduced = False
    while n > max(states_per_epoch, 1) * fanin:
        cur = (cur.withColumn("g", F.floor(F.col("partition_id") / divisor))
               .groupBy("g")
               .applyInPandas(lambda pdf: _merge_group(pdf.drop(columns=["g"])),
                              STATE_SCHEMA))
        n = (n + fanin - 1) // fanin
        divisor *= fanin
        reduced = True
    if not reduced and not prior_used and n <= max(states_per_epoch, 1):
        # already <= states_per_epoch partials with contiguous ids 0..n-1:
        # pmod(pid, s) is the identity here, so the final merge round would
        # shuffle each row into its own 1-row group just to re-serialize it.
        # Skipping it saves a shuffle + Python stage PER EPOCH (the epoch
        # write loop's floor at small scale); any prior-state union or
        # fan-in round keeps the merging path.
        final = cur
    else:
        final = (cur.withColumn("g", F.pmod(F.col("partition_id"),
                                            F.lit(max(states_per_epoch, 1))))
                 .groupBy("g")
                 .applyInPandas(
                     lambda pdf: _merge_group(pdf.drop(columns=["g"])
                                              .assign(partition_id=pdf["g"])),
                     STATE_SCHEMA))
    out = final.withColumn("epoch", F.lit(str(epoch)))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out.write.mode("overwrite").partitionBy("epoch").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def read_sketch_store(spark: SparkSession, path: str, *,
                      kind: str | None = None,
                      params: dict | None = None) -> DataFrame:
    """Open a marker-pinned sketch store; refuse unmarked directories.

    Returns (partition_id, kind, params, payload, epoch) rows; the epoch
    column is the partition column, so ``.where(epoch between ...)`` is
    partition-pruned at the file listing.
    """
    meta = _read_meta(spark, path)
    if meta is None:
        raise manifest.refuse(
            "sketch store", path,
            "its sketch parameters are unknown, and merging states with "
            "mismatched parameters corrupts estimates. Rebuild the store "
            "through write_sketch_epoch.", missing=SKETCHSTORE_META_DIR)
    _check(path, meta, kind=kind,
           params=None if params is None else _params_key(params))
    # the explicit schema reads a store whose first data write crashed
    # after its marker as empty instead of failing schema inference
    return spark.read.schema(STORE_SCHEMA).parquet(path)


def merge_sketch_range(spark: SparkSession, path: str, *,
                       epoch_min: str | None = None,
                       epoch_max: str | None = None,
                       epochs: list[str] | None = None,
                       fanin: int = 32) -> MergeableSketch:
    """Merge the stored states of an epoch range into one sketch.

    The scan touches ONLY the requested epoch partitions (Hive-style
    partition pruning on the `epoch` directory column — gated by
    tests/test_plans.py). The states are re-keyed to contiguous
    partition_ids (a single tiny shuffle over KB rows) and handed to
    ``tree_merge``; with the default one state per epoch, a 90-day range
    is 90 KB-sized rows — the merge is driver-trivial by construction,
    which is the entire point of the store.
    """
    from pyspark.sql import Window
    states = read_sketch_store(spark, path)
    if epochs is not None:
        states = states.where(F.col("epoch").isin([str(e) for e in epochs]))
    if epoch_min is not None:
        states = states.where(F.col("epoch") >= str(epoch_min))
    if epoch_max is not None:
        states = states.where(F.col("epoch") <= str(epoch_max))
    # contiguous ids so tree_merge's fan-in grouping reduces every round
    # (store rows reuse partition_id 0..states_per_epoch-1 across epochs)
    w = Window.orderBy("epoch", "partition_id")
    rekeyed = (states.withColumn("partition_id",
                                 F.row_number().over(w) - F.lit(1))
               .select("partition_id", "kind", "params", "payload"))
    n_rows = rekeyed.count()  # KB-sized frame; also the empty-range guard
    if n_rows == 0:
        raise ValueError(
            f"sketch store at {path} has no states in the requested epoch "
            "range")
    return tree_merge(rekeyed, fanin=fanin, num_states_hint=n_rows)
