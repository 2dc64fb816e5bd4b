"""Structured Streaming sketch builds — windowed aggregation with late data.

Two layers:

1. ``watermarked_window_counts``: pure built-in streaming aggregation
   (tumbling event-time window + watermark -> count / approx distinct) —
   everything stays JVM-side, the declarative path for standing dashboards.
2. ``ForeachBatchSketcher``: custom mergeable-sketch state over streaming
   micro-batches via ``foreachBatch`` — each batch builds per-window partial
   sketches with the SAME kernels as the batch path (mapInArrow partials +
   merge), then OR/max/add-merges them into a persistent per-window state
   store (one JSON manifest per window). Because every sketch here is a
   commutative monoid, late or out-of-order data folds in correctly
   regardless of arrival order — the streaming/batch consistency the merge
   tests gate on. Replays are handled too: foreachBatch is at-least-once,
   so each window records the last applied batch_id and skips redelivered
   batches (exactly-once state for additive sketches).

Scale posture: state per window is one sketch payload (KB-MB), not row data;
merge cost per batch is O(windows_touched). The foreachBatch pattern is the
standard production shape for sketch state Spark can't express natively
(applyInPandasWithState has the same semantics but pins state to the state
store; JSON window state keeps it inspectable and resumable like
checkpoint.py).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F

from ..sketches import SKETCH_KINDS, deserialize_sketch
from ..spark import manifest
from ..spark.merge import partial_states


def watermarked_window_counts(stream: DataFrame, ts_col: str = "ts",
                              key_col: str = "user_id",
                              window: str = "1 hour",
                              watermark: str = "2 hours") -> DataFrame:
    """Built-in streaming agg: tumbling window counts + approx distinct."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(F.count("*").alias("cnt"),
             F.approx_count_distinct(key_col).alias("approx_users"))
        .select(F.col("w.start").alias("window_start"), "cnt", "approx_users")
    )


def streaming_sessions(stream: DataFrame, ts_col: str = "ts",
                       key_col: str = "user_id", gap: str = "30 minutes",
                       watermark: str = "2 hours",
                       value_col: str | None = "value") -> DataFrame:
    """Streaming sessionization on the engine's native ``session_window``:
    per-key sessions closed after ``gap`` of inactivity, with event count
    (and, when ``value_col`` is set, a value sum) per session — the
    streaming twin of ``ops.relational.sessionize``. Same gap semantics as
    the batch operator: a session EXTENDS at exactly-gap spacing (the
    batch rule breaks only on gap strictly greater than the threshold, and
    ``session_window`` merges touching ranges the same way — verified
    empirically at the boundary).

    The watermark bounds session state: a session older than the watermark
    finalizes and evicts, so state is O(open sessions), not O(history) —
    the property a forever-running clickstream needs. Pass
    ``value_col=None`` for streams without a numeric value column.
    """
    aggs = [F.count("*").alias("n_events")]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 2).alias("sum_value"))
    return (stream.withWatermark(ts_col, watermark)
            .groupBy(F.col(key_col),
                     F.session_window(F.col(ts_col), gap).alias("w"))
            .agg(*aggs)
            .select(key_col, F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events",
                    *(["sum_value"] if value_col is not None else [])))


def streaming_exact_dedup(stream: DataFrame, key_col: str = "text",
                          ts_col: str | None = None,
                          watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: emit each content hash's FIRST arrival only.

    The streaming twin of ``ops.dedup.exact_dedup`` — built on the engine's
    own ``dropDuplicates`` state store so dedup state survives restarts via
    the query checkpoint. With ``ts_col`` the key is watermarked
    (``dropDuplicatesWithinWatermark``): state for hashes older than the
    watermark is evicted, the bounded-state shape a forever-running ingest
    needs (an unwatermarked global dedup grows state monotonically — only
    for bounded backfills). Hashing first keeps state rows at 32 hex chars
    regardless of document size.
    """
    hashed = stream.withColumn("text_hash", F.md5(F.col(key_col)))
    if ts_col is not None:
        return (hashed.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(["text_hash"]))
    return hashed.dropDuplicates(["text_hash"])


class ForeachBatchSketcher:
    """Per-window mergeable-sketch state updated from streaming micro-batches.

    Usage:
        sk = ForeachBatchSketcher(state_dir, kind="hll", params={"p": 12},
                                  ts_col="ts", key_col="user_id")
        q = (stream.writeStream.foreachBatch(sk).trigger(availableNow=True)
             .option("checkpointLocation", ckpt).start())
    """

    def __init__(self, state_dir: str, kind: str = "hll", params: dict | None = None,
                 ts_col: str = "ts", key_col: str = "user_id",
                 window: str = "1 hour", run_token: str | None = None) -> None:
        """``run_token`` ties the replay guard to one streaming-checkpoint
        lineage: batch ids are monotonic PER CHECKPOINT, so restarting a
        query with a fresh checkpointLocation while reusing the same
        state_dir would reset ids to 0 and the plain high-watermark would
        silently skip genuinely new batches as replays. Pass the
        checkpointLocation (the natural token) — when the stored token
        differs, the per-window watermark resets and new batches merge.
        With ``run_token=None`` the guard keys on batch_id alone, which is
        only safe while state_dir lifetime matches checkpoint lifetime."""
        self.state_dir = state_dir
        self.kind = kind
        self.params = params or {}
        self.ts_col = ts_col
        self.key_col = key_col
        self.window = window
        self.run_token = run_token

    # window state files are named w_<date>_<HH-mm-ss>.json: ":" is not
    # portable in file names, so the time part swaps it for "-"
    def _state_path(self, window_start: str) -> str:
        safe = window_start.replace(":", "-").replace(" ", "_")
        return f"{self.state_dir.rstrip('/')}/w_{safe}.json"

    def _load(self, window_start: str):
        obj = manifest.read(self._state_path(window_start))
        if obj is None:
            return SKETCH_KINDS[self.kind].zero(**self.params), -1
        sk = deserialize_sketch(self.kind, bytes.fromhex(obj["payload"]),
                                obj["params"])
        if self.run_token is not None and obj.get("run_token") != self.run_token:
            return sk, -1  # new checkpoint lineage: batch ids restart at 0
        return sk, obj.get("last_batch_id", -1)

    def _store(self, window_start: str, sketch, batch_id: int) -> None:
        # atomic replace: a crash mid-write never corrupts window state
        manifest.write(self._state_path(window_start), {
            "params": sketch.params(), "payload": sketch.serialize().hex(),
            "last_batch_id": batch_id, "run_token": self.run_token})

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        windowed = batch_df.withColumn(
            "__w", F.date_format(F.window(F.col(self.ts_col), self.window)
                                 .getField("start"), "yyyy-MM-dd HH:mm:ss")).cache()
        try:
            windows = [r["__w"] for r in windowed.select("__w").distinct().collect()]
            for w in windows:
                acc, last_id = self._load(w)
                if batch_id <= last_id:
                    # foreachBatch is at-least-once: a replayed micro-batch
                    # (same id, redelivered after a failure) must not merge
                    # twice — additive sketches (CMS/KLL/t-digest/Bloom
                    # counters) would double-count. Batch ids are monotonic
                    # per query, so a high-watermark per window suffices.
                    continue
                sub = windowed.filter(F.col("__w") == w)
                states = partial_states(sub, self.key_col, self.kind, self.params)
                rows = states.collect()
                for r in rows:
                    acc = acc.merge(deserialize_sketch(
                        self.kind, bytes(r["payload"]), json.loads(r["params"])))
                self._store(w, acc, batch_id)
        finally:
            windowed.unpersist()

    def results(self) -> dict[str, float]:
        """window_start -> estimate for every window seen so far."""
        out = {}
        for fname in manifest.names(self.state_dir):
            if not (fname.startswith("w_") and fname.endswith(".json")):
                continue
            date, _, time = fname[2:-5].partition("_")
            obj = manifest.read(f"{self.state_dir.rstrip('/')}/{fname}")
            sk = deserialize_sketch(self.kind, bytes.fromhex(obj["payload"]),
                                    obj["params"])
            key = f"{date} {time.replace('-', ':')}"
            if hasattr(sk, "estimate"):
                out[key] = sk.estimate()
            elif hasattr(sk, "quantile"):
                out[key] = sk.quantile(0.5)
        return out
