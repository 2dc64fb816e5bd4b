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
partials where the data lives (no shuffle of raw rows); they are reduced
as in ``merge.tree_merge`` (executor fan-in rounds while more than 32
states remain, so the driver receives at most 32 KB-sized states), and
the driver folds them into the epoch's one state and writes that row.
Merging a range reads only the requested epoch partitions
(partition-pruned scan over KB files) and merges them on the driver.
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sketches import SKETCH_KINDS, MergeableSketch
from . import manifest
from .merge import STATE_SCHEMA, _fold, _reduce, partial_states

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
                       merge_existing: bool = False) -> None:
    """Reduce one epoch of raw rows to one persisted sketch state.

    Overwrites ONLY this epoch's partition (dynamic partition overwrite),
    so re-running a failed/changed day replaces that day and nothing
    else — the write is idempotent per (path, epoch). An epoch without
    rows writes nothing and leaves any stored state of the epoch as it is.

    ``merge_existing=True`` is the INCREMENTAL mode (streaming
    foreachBatch appending micro-batches into the current day, or late
    data trickling into a closed day): the epoch's existing states are
    folded in on the driver, so the rewritten partition equals
    old-state ⊔ new-rows. Replace semantics (the default) are for
    recomputing a day from scratch. NOTE the two modes'
    replay stories differ: replace is idempotent per (path, epoch);
    merge_existing composes monotonically, so EXACT re-delivery of the
    same rows is only a no-op for idempotent-merge sketches (HLL/Bloom
    max/or — gated in tests) — counting sketches (CMS) double-count a
    replayed batch, same as any at-least-once counter; guard those with
    the caller's batch-id watermark (streaming/windowed.py discipline).

    The raw rows never leave the executors: per-partition partials
    (``partial_states``: one mapInArrow pass, no shuffle of raw rows)
    are reduced by executor fan-in rounds while more than 32 remain, so
    the driver receives at most 32 KB-sized states, plus the epoch's
    stored states under ``merge_existing``. It merges them and writes the
    one state row: two jobs for an input of at most 32 partitions
    (collect, write), one more for the ``merge_existing`` read.
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

    rows = _reduce(partial_states(df, col, kind, params, value_kind))
    if not rows:  # no input rows: nothing to write, the stored epoch stays
        return
    if merge_existing and meta is not None:
        # stores written with several states per epoch hold more than one
        rows += sorted(
            spark.read.schema(STORE_SCHEMA).parquet(path)
            .where(F.col("epoch") == str(epoch))
            .select("partition_id", "kind", "params", "payload").collect(),
            key=lambda r: r["partition_id"])
    sketch = _fold(rows)
    # an Arrow table is the cheapest one-row source to plan and write
    out = spark.createDataFrame(pa.table({
        "partition_id": pa.array([0], pa.int64()),
        "kind": [kind],
        "params": [json.dumps(sketch.params())],
        "payload": pa.array([sketch.serialize()], pa.binary()),
        "epoch": [str(epoch)],
    }))
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
                       epochs: list[str] | None = None) -> MergeableSketch:
    """Merge the stored states of an epoch range into one sketch.

    The scan touches ONLY the requested epoch partitions (Hive-style
    partition pruning on the `epoch` directory column — gated by
    tests/test_sketch_store.py). One job collects the pruned states and
    the driver merges them in (epoch, partition_id) order, so every kind
    merges to the same bytes however the epochs were written. Driver
    memory holds the range's states: one per epoch (~16 KB for an HLL at
    p=14, so a 90-day range is ~1.4 MB). Raises ``ValueError`` if the
    range holds no states.
    """
    states = read_sketch_store(spark, path)
    if epochs is not None:
        states = states.where(F.col("epoch").isin([str(e) for e in epochs]))
    if epoch_min is not None:
        states = states.where(F.col("epoch") >= str(epoch_min))
    if epoch_max is not None:
        states = states.where(F.col("epoch") <= str(epoch_max))
    rows = sorted(states.collect(),
                  key=lambda r: (r["epoch"], r["partition_id"]))
    if not rows:
        raise ValueError(
            f"sketch store at {path} has no states in the requested epoch "
            "range")
    return _fold(rows)
