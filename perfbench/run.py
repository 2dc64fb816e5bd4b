"""filterz-spark benchmark: seeded workloads on local[nproc].

    python3 perfbench/run.py --workload membership --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client: the next pass starts when the previous
one returns; at least one pass, until ``--seconds`` have elapsed):

- membership: build sbbf24 / xorf3_16 / ribbon128_16 over ~1M-key sections
  and probe a low-hit probe set through a broadcast index; then global
  hll/cms/kll/tdigest, per-group hll, and an epoch sketch store written
  epoch by epoch and read back over an interior range;
- neardup: exact dedup -> MinHash -> LSH candidates -> exact Jaccard ->
  connected components on a corpus with planted near-duplicates.

``--trace 0`` prints the end-to-end metrics (every workload reports every
one): set-up time, pass wall, the pass's write side (builds the index or
state) and read side (queries it), and the peak resident memory of the
process tree.

``--trace 1`` runs the untraced loop, then on a fresh JVM with the Spark
event log on: the loop again (the tracing overhead is the ratio of the two
first passes), one pass of the other workload's operations at smoke size,
a decomposition of every operation into layers, and single-thread layer
benchmarks. It prints the per-layer metrics and the layer table.
``--smoke`` uses tiny sizes.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Output checks and exact-repeat counts are counted in
attempted/failed. Exit code 2 means the checkout has no library to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

# workload -> the operation families it runs at full size
WORKLOADS = {
    "membership": ("membership", "rollup"),
    "neardup": ("neardup",),
}
FAMILIES = ("membership", "rollup", "neardup")
SETUPS = 3  # set-ups per untraced run; setup_s is their median

END_TO_END = {  # name -> unit; every workload reports every one
    "setup_s": "s", "run_s": "s", "write_s": "s", "read_s": "s",
    "peak_rss_mb": "MB",
}

# event-log figures per operation family: span names -> metrics that are
# never zero for that family's operations
EVENT_LOG = {
    "build": (("build.sbbf24", "build.xorf3_16", "build.ribbon128_16"),
              ("executor_run_s", "tasks", "python_sent_bytes",
               "python_recv_bytes", "shuffle_write_bytes")),
    "probe": (("probe.sbbf24", "probe.xorf3_16", "probe.ribbon128_16"),
              ("executor_run_s", "tasks", "python_sent_bytes")),
    "sketch": (("sketch.hll", "sketch.cms", "sketch.kll", "sketch.tdigest"),
               ("executor_run_s", "tasks", "python_sent_bytes")),
    "grouped": (("grouped",), ("executor_run_s", "tasks", "shuffle_read_bytes")),
    "store": (("store.write", "store.range"),
              ("executor_run_s", "tasks", "shuffle_write_bytes")),
    "dedup": (("dedup",), ("executor_run_s", "tasks", "shuffle_write_bytes",
                           "shuffle_read_bytes")),
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    from perfbench.core import CONFIGS
    from perfbench.neardup import STAGES
    from perfbench.rollup import SKETCHES

    m = {}
    for c in CONFIGS:
        m[f"native.build_mkeys_per_s.{c}.section"] = "M/s"
        m[f"native.build_mkeys_per_s.{c}.20m"] = "M/s"
        m[f"native.probe_ns_per_key.{c}"] = "ns"
    for c in CONFIGS:
        m.update({f"build.kernel_s.{c}": "s", f"build.kernel_crit_s.{c}": "s",
                  f"build.attempts_per_shard.{c}": "ratio",
                  f"build.arrow_pass_s.{c}": "s", f"build.collect_s.{c}": "s",
                  f"index.bytes.{c}": "B", f"index.shards.{c}": "count"})
    m.update({"build.shuffle_s": "s", "build.shuffle_write_bytes": "B",
              "probe.broadcast_s": "s", "probe.pass_s": "s",
              "probe.hits": "count", "probe.fpr": "ratio"})
    for c in CONFIGS:
        m[f"probe.fpr_ratio.{c}"] = "ratio"
    for k in SKETCHES:
        m.update({f"sketches.update_ns_per_row.{k}": "ns",
                  f"sketches.merge_us.{k}": "us",
                  f"sketches.state_bytes.{k}": "B",
                  f"merge.partials_s.{k}": "s", f"merge.tree_s.{k}": "s"})
    m.update({"merge.rounds": "count", "grouped.partials_s": "s",
              "grouped.shuffle_bytes": "B", "grouped.groups": "count",
              "store.write_s_per_epoch": "s", "store.jobs_per_epoch": "count",
              "store.bytes_written": "B", "store.merge_s": "s"})
    for stage in STAGES:
        m[f"dedup.{stage}_s"] = "s"
    m.update({"membership.build_keys_per_s": "1/s",
              "membership.probe_keys_per_s": "1/s",
              "membership.bits_per_key": "bit/key",
              "membership.est_query_cost_s": "s",
              "rollup.sketch_rows_per_s": "1/s",
              "rollup.grouped_rows_per_s": "1/s",
              "rollup.store_epochs_per_s": "1/s", "rollup.range_query_s": "s",
              "neardup.docs_per_s": "1/s"})
    m.update({"dedup.candidates": "count", "dedup.verified_pairs": "count",
              "dedup.verify_yield": "ratio", "dedup.components_iters": "count",
              "dedup.planted_recall": "ratio",
              "spark.job_floor_s": "s", "spark.jobs_per_pass": "count",
              "trace.run_s_ratio": "ratio", "trace.coverage_min": "ratio"})
    units = {"executor_run_s": "s", "tasks": "count"}
    for fam, (_spans, keys) in EVENT_LOG.items():
        for key in keys:
            m[f"{fam}.{key}"] = units.get(key, "B")
    return m


# per-layer metrics where a larger value is better; for every other one a
# smaller value is (time, bytes, work done, error)
_HIGHER = ("build.attempts_per_shard.", "dedup.verify_yield",
           "dedup.verified_pairs", "dedup.planted_recall", "trace.coverage_min")


def better(name: str, unit: str) -> str:
    if unit in ("1/s", "M/s") or name.startswith(_HIGHER):
        return "higher"
    return "lower"


def make_family(name: str, spark, seed: int, size: str, cores: int, work: str):
    from perfbench.membership import Membership
    from perfbench.neardup import Neardup
    from perfbench.rollup import Rollup

    if name == "membership":
        return Membership(spark, seed, size)
    if name == "rollup":
        return Rollup(spark, seed, size, cores, work)
    return Neardup(spark, seed, size, cores)


def loop(rec, fams, seconds: float) -> list[float]:
    """Closed loop, one client: passes back to back until ``seconds`` have
    elapsed (at least one pass). Returns the pass walls."""
    walls = []
    end = time.monotonic() + seconds
    while True:
        first = len(rec.spans)
        with rec.span("pass") as sp:
            for fam in fams:
                fam.run_pass(rec)
        walls.append(sp["wall"])
        rec.same("spark.jobs_per_pass",
                 sum(rec.jobs(s) for s in rec.spans[first:]))
        if time.monotonic() >= end:
            return walls


def run(args, root: str, work: str) -> dict:
    import filterz_spark.native as native

    from perfbench import core, micro

    cores = core.host_cores()
    mem = core.driver_memory(core.physical_ram_bytes())
    native_ok = native.available()
    if not native_ok:
        print("WARNING: filterz_spark.native did not load; filter kernels run "
              "on the numpy fallback", flush=True)
    size = "smoke" if args.smoke else "main"

    t0 = time.perf_counter()
    spark = core.start_session(root, work, cores, mem)
    session_s = time.perf_counter() - t0
    facts = core.host_facts(spark, cores, mem, native_ok)
    t0 = time.perf_counter()
    core.warm_workers(spark, cores)
    warm_s = time.perf_counter() - t0
    rec = core.Recorder(spark)
    fams = [make_family(n, spark, args.seed, size, cores, work)
            for n in WORKLOADS[args.workload]]
    setups = []
    for _ in range(1 if args.smoke or args.trace else SETUPS):
        t = time.perf_counter()
        for fam in fams:
            fam.setup()
        setups.append(time.perf_counter() - t)
    for fam in fams:
        fam.truth()
    with core.RssSampler() as rss:
        walls = loop(rec, fams, args.seconds)
    for fam in fams:
        fam.checks(rec)
    wr = [tuple(map(sum, zip(*per_pass)))
          for per_pass in zip(*[fam.write_read() for fam in fams])]
    e2e = {"setup_s": core.median(setups), "run_s": core.median(walls),
           "write_s": core.median([w for w, _ in wr]),
           "read_s": core.median([r for _, r in wr]),
           "peak_rss_mb": rss.peak / 2 ** 20}
    print(f"host: {json.dumps(facts)}")
    print(f"workload {args.workload} seed {args.seed}: session start "
          f"{session_s:.2f} s, worker warm-up {warm_s:.2f} s, {len(walls)} passes "
          f"{[round(w, 3) for w in walls]}, set-ups {[round(s, 3) for s in setups]}")
    figures = {k: v for fam in fams for k, v in fam.figures().items()}
    for name, value in {**e2e, **figures}.items():
        print(f"  {name:30s} {value:16.4f}")
    print("  resident memory at the peak (MB): " + ", ".join(
        f"{k} {v / 2 ** 20:.0f}" for k, v in sorted(rss.at_peak.items())))
    names = dict.fromkeys(s["name"] for s in rec.spans)
    print("  span medians (s): " + ", ".join(
        f"{n} {core.median(rec.walls(n)):.3f}" for n in names))
    metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    recs = [rec]
    core.stop_session(spark)
    if args.trace:
        layer, tr, rec2 = traced(args, root, work, cores, mem, fams, rec)
        layer["trace.run_s_ratio"] = core.median(rec2.walls("pass")) / e2e["run_s"]
        m, table = micro.filters(args.seed, size)
        layer.update(m)
        layer.update(micro.sketches(args.seed, size))
        layer["trace.coverage_min"] = min(r["coverage"] for r in tr.rows)
        report_trace(tr, layer, table, e2e["run_s"])
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u in per_layer_names().items()}
        recs.append(rec2)
    attempted = sum(r.attempted for r in recs)
    failed = sum(r.failed for r in recs)
    print(f"determinism record: {json.dumps(rec.repeat, sort_keys=True)}")
    print(f"checks: {attempted - failed}/{attempted} passed")
    for r in recs:
        for f in r.failures:
            print(f"  FAILED {f}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def traced(args, root, work, cores, mem, fams, rec):
    """On a fresh JVM with the Spark event log on: the same loop (its first
    pass compares with the untraced run's first pass for the tracing
    overhead), one pass of the other workload's operations at smoke size,
    and a decomposition of every operation. The log is read once the
    session has ended."""
    from perfbench import core

    log_dir = os.path.join(work, "eventlog")
    spark = core.start_session(root, work, cores, mem, event_log=log_dir)
    core.warm_workers(spark, cores)
    rec2 = core.Recorder(spark)
    rec2.repeat = rec.repeat  # counts must also repeat across the sessions
    for fam in fams:
        fam.rebind(spark)
        fam.setup()
    loop(rec2, fams, args.seconds)
    for fam in fams:
        fam.checks(rec2)
    fams = list(fams)
    for name in FAMILIES:
        if name in WORKLOADS[args.workload]:
            continue
        other = make_family(name, spark, args.seed, "smoke", cores, work)
        other.setup()
        other.truth()
        with rec2.span("companion"):
            other.run_pass(rec2)
        other.checks(rec2)
        fams.append(other)
    layer = {}
    for f in fams:
        layer.update(f.decompose(rec2))
        layer.update(f.figures())
    floor = []
    for _ in range(5):  # the warm-up job again: a no-op Arrow pass now
        with rec2.span("spark.floor") as sp:
            core.warm_workers(spark, cores)
        floor.append(sp["wall"])
    layer["spark.job_floor_s"] = core.median(floor)
    layer["spark.jobs_per_pass"] = rec.repeat["spark.jobs_per_pass"]
    app_id = spark.sparkContext.applicationId
    core.stop_session(spark)
    tr = core.Trace(rec2, core.read_event_log(log_dir, app_id))
    for f in fams:
        f.from_log(tr, layer)
    for fam_name, (spans, keys) in EVENT_LOG.items():
        for key in keys:
            if key == "executor_run_s":
                v = tr.per_pass(spans, "executor_run_ms") / 1000.0
            else:
                v = tr.per_pass(spans, key)
            layer[f"{fam_name}.{key}"] = v
    for fam_name, (spans, _keys) in EVENT_LOG.items():
        gc = tr.per_pass(spans, "gc_ms") / 1000.0
        spill = tr.per_pass(spans, "spill_bytes")
        print(f"  event log {fam_name:8s} gc {gc:.3f} s/pass, "
              f"spill {spill:.0f} B/pass")
    return layer, tr, rec2


def report_trace(tr, layer: dict, table: list[str], untraced_run_s: float) -> None:
    print("layer table (median per operation; coverage = layer self-times / "
          "operation wall):")
    for row in tr.rows:
        flag = "" if row["coverage"] >= 0.9 else "   < 90%"
        print(f"  {row['op']:22s} wall {row['wall']:8.3f} s  coverage "
              f"{row['coverage']:6.1%}{flag}")
        for part, sec in row["parts"].items():
            print(f"      {part:38s} {sec:8.3f} s")
    print("native single-thread build at 20M keys vs the reference:")
    for line in table:
        print(line)
    print(f"tracing overhead: traced run_s / untraced run_s = "
          f"{layer['trace.run_s_ratio']:.3f} (untraced {untraced_run_s:.3f} s)")
    for name in sorted(layer):
        print(f"  {name:44s} {layer[name]:16.6g}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes: one quick end-to-end pass per family")
    args = ap.parse_args(argv)

    bench = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(bench)
    if not os.path.isfile(os.path.join(root, "filterz_spark", "__init__.py")):
        print(f"no filterz_spark package next to {bench}: nothing to benchmark",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # the native kernels compile into TMPDIR once; keep that cache in the
    # checkout and shared between runs
    os.environ["TMPDIR"] = os.path.join(base, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    try:
        result = run(args, root, work)
    finally:
        if "pyspark" in sys.modules:
            from perfbench.core import stop_session
            stop_session()  # after an error: end the JVM before exiting
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
