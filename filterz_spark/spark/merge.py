"""Distributed mergeable-sketch aggregation.

Pipeline (SURVEY.md §2.6): per-partition partial states via one
``mapInArrow`` pass over the scan (NO shuffle — partials build where the
data lives, the map-side-combine of a hash aggregate), then, while more
than ``fanin`` states remain, keyed merge rounds (``_merge_by``: one
shuffle of the KB-sized states and one Arrow pass that folds each key's
states), then a final driver merge of the <= fanin survivors. This is the
Arrow form of ``treeAggregate``: at 10^6 partitions and 16KB HLL states,
round one moves 16GB across the cluster in 32-state keys, round two
500MB, etc. — the driver only ever holds the last handful.

Every merge — executor round or driver finish — folds states in
``partition_id`` order, so Bloom/HLL/CMS states are bit-identical under
any tree shape (monoid with idempotent/commutative merge) and
t-digest/KLL states are deterministic for a given input partitioning,
holding their rank bounds under any shape.
"""

from __future__ import annotations

import json
from typing import Iterator

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F

from ..sketches import SKETCH_KINDS, MergeableSketch, deserialize_sketch

STATE_SCHEMA = "partition_id long, kind string, params string, payload binary"


def _partial_fn(kind: str, params: dict, value_kind: str):
    """mapInArrow closure: one serialized sketch state per partition.

    value_kind: 'hash' (int64 xxhash64 output -> uint64) or 'float' (raw
    numeric column for quantile sketches).
    """

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np

        sketch = SKETCH_KINDS[kind].zero(**params)
        saw = False
        for batch in batches:
            col = batch.column(0).to_numpy(zero_copy_only=False)
            if value_kind == "hash":
                col = col.astype(np.int64).view(np.uint64)
            else:
                col = col.astype(np.float64)
            sketch.update(col)
            saw = True
        if not saw:
            return
        pid = TaskContext.get().partitionId()
        yield pa.RecordBatch.from_pydict({
            "partition_id": [pid],
            "kind": [kind],
            "params": [json.dumps(sketch.params())],
            "payload": [sketch.serialize()],
        })

    return fn


def partial_states(df: DataFrame, col: str, kind: str, params: dict | None = None,
                   value_kind: str | None = None) -> DataFrame:
    """Per-partition sketch states. Hash-kind sketches get xxhash64 JVM-side."""
    params = params or {}
    if value_kind is None:
        value_kind = "float" if kind in ("tdigest", "kll") else "hash"
    if value_kind == "hash":
        projected = df.select(F.xxhash64(col).alias("v"))
    elif value_kind == "pass":  # column already holds int64 key hashes
        projected = df.select(F.col(col).cast("long").alias("v"))
    else:
        projected = df.select(F.col(col).cast("double").alias("v"))
    return projected.mapInArrow(
        _partial_fn(kind, params, "hash" if value_kind == "pass" else value_kind),
        STATE_SCHEMA)


def _fold(rows) -> MergeableSketch | None:
    """Merge (kind, params, payload) rows in the order given; None if empty."""
    acc = None
    for r in rows:
        s = deserialize_sketch(r["kind"], bytes(r["payload"]), json.loads(r["params"]))
        acc = s if acc is None else acc.merge(s)
    return acc


def _merge_by(states: DataFrame, key: str) -> DataFrame:
    """One state per distinct ``key``: a shuffle of the state rows by key,
    then one Arrow pass per task that folds each key's states in
    ``partition_id`` order (so the result does not depend on the order the
    shuffle delivers them). The output row keeps the key, the smallest
    ``partition_id`` and every other column's schema."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batches = list(batches)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        rows = sorted(tbl.to_pylist(), key=lambda r: r["partition_id"])
        groups: dict = {}
        for r in rows:
            groups.setdefault(r[key], []).append(r)
        out = []
        for members in groups.values():
            acc = _fold(members)
            out.append(dict(members[0], params=json.dumps(acc.params()),
                            payload=acc.serialize()))
        yield pa.RecordBatch.from_pylist(out, schema=tbl.schema)

    return states.repartition(key).mapInArrow(fn, states.schema)


def _reduce(states: DataFrame, fanin: int = 32) -> list:
    """Keyed merge rounds while more than ``fanin`` states remain, then the
    survivors collected in ``partition_id`` order (<= fanin KB rows).

    The round count is derived from the PARTITION COUNT of the input (one
    state row per partition) — a metadata lookup, not a job — so the whole
    reduction is a single pass with no count()/recompute.
    """
    try:
        # JVM-side partition count of the planned query — unlike `.rdd`,
        # this never builds the python-serialized RDD wrapper (it only
        # plans, which the merge job would do anyway). Private API: a
        # Spark version bump may remove it, hence the public fallback.
        n = states._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        n = states.rdd.getNumPartitions()
    cur = states
    divisor = fanin
    while n > fanin:
        # group ids stay aligned with the ORIGINAL partition_id (each round's
        # output row keeps min(partition_id) of its group, so round r groups
        # by pid // fanin^r)
        cur = _merge_by(
            cur.withColumn("g", F.floor(F.col("partition_id") / divisor)),
            "g").drop("g")
        n = (n + fanin - 1) // fanin
        divisor *= fanin
    # collect unordered and sort driver-side: an ``orderBy`` here plans a
    # range exchange whose boundary-sampling pass EXECUTES the whole
    # partials pipeline a second time (measured 2.3x wall on the sketch
    # legs); the surviving rows are <= fanin KB-sized states, so the
    # driver sort is free and the merge order is identical
    return sorted(cur.collect(), key=lambda r: r["partition_id"])


def tree_merge(states: DataFrame, fanin: int = 32) -> MergeableSketch:
    """Fan-in tree of keyed merge rounds, then a driver-side finish.

    Each round keys ``fanin`` states by partition_id range and merges them
    in one executor task (``_merge_by``); the driver merges the <= fanin
    survivors. Raises ``ValueError`` on an input without states.
    """
    acc = _fold(_reduce(states, fanin))
    if acc is None:
        raise ValueError("no sketch states to merge (empty input)")
    return acc


def sketch_column(df: DataFrame, col: str, kind: str, params: dict | None = None,
                  fanin: int = 32, value_kind: str | None = None) -> MergeableSketch:
    """End-to-end: partials -> tree merge -> final sketch object."""
    return tree_merge(partial_states(df, col, kind, params, value_kind),
                      fanin=fanin)


def grouped_sketch_states(df: DataFrame, group_col: str, value_col: str,
                          kind: str, params: dict | None = None,
                          value_kind: str | None = None) -> DataFrame:
    """Per-GROUP sketch states — the rollup primitive (one HLL/CMS/t-digest
    per lang/host/day instead of one global sketch).

    Two-phase: per-(partition, group) partials inside one mapInArrow pass
    (map-side combine — the hot group's rows never concentrate), then one
    shuffle of tiny states by key and one Arrow merge pass (``_merge_by``,
    states folded in partition order, so every kind is deterministic for a
    given input partitioning). Output: (group, kind, params, payload) —
    feed rows to ``deserialize_sketch`` or ``grouped_estimates``.
    """
    import numpy as np

    params = params or {}
    if value_kind is None:
        value_kind = "float" if kind in ("tdigest", "kll") else "hash"
    if value_kind == "hash":
        projected = df.select(F.col(group_col).alias("g"),
                              F.xxhash64(value_col).alias("v"))
    else:
        projected = df.select(F.col(group_col).alias("g"),
                              F.col(value_col).cast("double").alias("v"))

    def partial_fn(batches):
        # Per-row work is ALL vectorized: dictionary-encode the group column
        # (Arrow C++), argsort the int32 codes (numpy), cut group runs from
        # the code diffs. Python touches one object per DISTINCT group per
        # batch — not per row — so a 100-TB rollup's hot partial pass stays
        # numpy-speed regardless of group cardinality skew. Nulls form their
        # own group (SQL GROUP BY semantics) via a -1 code.
        sketches: dict = {}
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vs = batch.column(1).to_numpy(zero_copy_only=False)
            if value_kind == "hash":
                vs = vs.astype(np.int64).view(np.uint64)
            else:
                vs = vs.astype(np.float64)
            denc = batch.column(0).dictionary_encode()
            codes = (denc.indices.fill_null(-1)
                     .to_numpy(zero_copy_only=False).astype(np.int64))
            gvals = denc.dictionary
            order = np.argsort(codes, kind="stable")
            scodes = codes[order]
            svs = vs[order]
            bounds = np.flatnonzero(np.diff(scodes)) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [n]))
            for s, e in zip(starts, ends):
                c = scodes[s]
                g = None if c < 0 else gvals[c].as_py()
                sk = sketches.get(g)
                if sk is None:
                    sk = SKETCH_KINDS[kind].zero(**params)
                    sketches[g] = sk
                sk.update(svs[s:e])
        if not sketches:
            return
        pid = TaskContext.get().partitionId()
        yield pa.RecordBatch.from_pydict({
            "g": list(sketches), "partition_id": [pid] * len(sketches),
            "kind": [kind] * len(sketches),
            "params": [json.dumps(sk.params()) for sk in sketches.values()],
            "payload": [sk.serialize() for sk in sketches.values()],
        }, schema=pa.schema([
            ("g", pa.string()), ("partition_id", pa.int64()),
            ("kind", pa.string()), ("params", pa.string()),
            ("payload", pa.binary()),
        ]))

    partials = projected.mapInArrow(
        partial_fn, "g string, " + STATE_SCHEMA)
    return _merge_by(partials, "g").select("g", "kind", "params", "payload")


def grouped_estimates(states_df: DataFrame) -> list[tuple]:
    """(group, estimate) per group from a grouped_sketch_states result."""
    out = []
    for r in states_df.collect():
        sk = deserialize_sketch(r["kind"], bytes(r["payload"]), json.loads(r["params"]))
        est = sk.estimate() if hasattr(sk, "estimate") else sk.quantile(0.5)
        out.append((r["g"], est))
    return sorted(out, key=lambda t: (t[0] is None, t[0] or ""))
