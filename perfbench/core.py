"""Shared machinery: run recorder (spans, checks, determinism), host facts,
process-tree memory sampling, Spark session set-up and the event-log
reader with its per-operation layer split."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import platform
import statistics
import threading
import time

# the reference's single-thread build rates at 20M keys (M keys/s), printed
# beside the live native numbers: sbbf24, xorf3_16, ribbon128_16
REFERENCE_BUILD_MKEYS = {"sbbf24": 28.5, "xorf3_16": 14.7, "ribbon128_16": 7.9}

# the three headline configs of the reference benchmark
CONFIGS = {
    "sbbf24": ("sbbf", {"bits_per_key": 24}),
    "xorf3_16": ("xorf", {"arity": 3, "fp_bits": 16}),
    "ribbon128_16": ("ribbon", {"coeff_bits": 128, "result_bits": 16}),
}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def sha256(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


class Recorder:
    """Spans, output checks and exact-repeat counts of one benchmark run.

    A span tags every Spark job started inside it with a unique job group
    (``<name>#<n>``), so the traced run can attribute event-log stages to
    it. Spans nest; the innermost span owns the job group.
    """

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.repeat: dict[str, object] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        self._seq += 1
        group = f"{name}#{self._seq}"
        rec = {"name": name, "group": group,
               "parent": self._stack[-1]["group"] if self._stack else None}
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            rec["wall"] = rec["t1"] - rec["t0"]
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)

    def walls(self, name: str) -> list[float]:
        return [s["wall"] for s in self.spans if s["name"] == name]

    def jobs(self, rec: dict) -> int:
        """Spark jobs started under one span's job group (status tracker;
        needs no event log)."""
        return len(self.spark.sparkContext.statusTracker()
                   .getJobIdsForGroup(rec["group"]))

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")
        return ok

    def same(self, key: str, value) -> None:
        """Determinism record: a value that must repeat exactly on every
        pass of this run. The first pass sets it; a drift is a failure."""
        if key not in self.repeat:
            self.repeat[key] = value
            return
        prev = self.repeat[key]
        self.check(f"repeat:{key}", prev == value, f"{prev!r} -> {value!r}")


# ---------------------------------------------------------------- host facts


def _meminfo_bytes(field: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) * 1024
    raise KeyError(field)


def physical_ram_bytes() -> int:
    return _meminfo_bytes("MemTotal")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory(ram_bytes: int) -> str:
    """A sixteenth of physical RAM, clamped to [1g, 2g]: the benchmark's
    data is a few hundred MB, and the host may be shared."""
    gb = max(1, min(2, round(ram_bytes / (16 << 30))))
    return f"{gb}g"


def host_facts(spark, cores: int, mem: str, native_ok: bool) -> dict:
    import pyspark
    jvm = spark.sparkContext._jvm
    return {
        "nproc": cores,
        "ram_gb": round(physical_ram_bytes() / 2 ** 30, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "native_loaded": native_ok,
        "driver_memory": mem,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "master": spark.sparkContext.master,
    }


# --------------------------------------------------------------- RSS sampler


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_rss(root: int) -> dict[int, int]:
    """Resident bytes per process of the tree under ``root``."""
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out[pid] = _rss_bytes(pid)
        todo.extend(_children(pid))
    return out


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the JVM and the Python workers it forks) every ``period`` seconds;
    keeps the peak and the per-process split at the peak. A process counts
    from its second sample on: a child the JVM forks to exec a command
    shares the JVM's memory until it execs and would count it twice."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        me = os.getpid()
        per_pid = tree_rss(me)
        counted = {pid: size for pid, size in per_pid.items()
                   if pid == me or pid in self._seen}
        self._seen = set(per_pid)
        total = sum(counted.values())
        if total > self.peak:
            self.peak = total
            split: dict[str, int] = {}
            for pid, size in counted.items():
                try:
                    with open(f"/proc/{pid}/comm") as f:
                        name = f.read().strip()
                except OSError:
                    name = "exited"
                split[name] = split.get(name, 0) + size
            self.at_peak = split

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# ------------------------------------------------------------------- session


def start_session(root: str, work: str, cores: int, mem: str,
                  event_log: str | None = None):
    """A ``local[cores]`` session sized from the host, built through the
    library's ``get_session`` keyword overrides. Workers import
    ``filterz_spark`` and the benchmark modules through PYTHONPATH, which
    the JVM (and so every Python worker it forks) inherits."""
    from filterz_spark.spark.session import get_session

    paths = [root] + [p for p in
                      os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local  # the env var wins over the conf
    # every JVM spark-submit starts (its launcher too) keeps its temp files
    # in the checkout and writes no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    conf = {
        "spark.driver.memory": mem,
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    spark = get_session(cores=cores, app_name="perfbench",
                        shuffle_partitions=cores, **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _import_library(batches):
    import filterz_spark.filters  # noqa: F401
    import filterz_spark.native as native

    native.available()
    yield from batches


def warm_workers(spark, cores: int) -> None:
    """Start the Python workers and import the library in them before
    anything is timed: a session pays this once, not per operation."""
    (spark.range(0, cores, numPartitions=cores)
     .mapInArrow(_import_library, "id long")
     .write.format("noop").mode("overwrite").save())


def stop_session(spark=None) -> None:
    """Stop the session (the active one if none is given) and end its JVM,
    and with it the Python workers, waiting until the process has exited;
    the next session starts a fresh JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on end of stdin
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------- event-log reader

_ACCUMS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_recv_bytes",
}


def read_event_log(log_dir: str, app_id: str) -> dict[str, list[dict]]:
    """Completed stages per job group: task count, wall interval (ms
    epoch) and the summed task / SQL metrics named in ``_ACCUMS``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, list[dict]] = {}
    for dirpath, _dirs, names in os.walk(log_dir):
        for name in sorted(names):
            if app_id not in name or not name.startswith("events_"):
                continue
            with open(os.path.join(dirpath, name)) as f:
                for line in f:
                    if line.strip():
                        _event(json.loads(line), stage_group, groups)
    return groups


def _event(ev: dict, stage_group: dict, groups: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        if g:
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
    elif kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        g = stage_group.get(info["Stage ID"])
        if g is None:
            return
        st = {k: 0 for k in set(_ACCUMS.values())}
        st["tasks"] = info.get("Number of Tasks", 0)
        st["interval"] = (info.get("Submission Time", 0),
                          info.get("Completion Time", 0))
        for a in info.get("Accumulables", []):
            key = _ACCUMS.get(a.get("Name"))
            if key:
                try:
                    st[key] += int(a.get("Value", 0))
                except (TypeError, ValueError):
                    pass
        groups.setdefault(g, []).append(st)


def union_seconds(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


class Trace:
    """Event-log stages attributed to the recorder's spans, and the layer
    table: per operation, the layer self-times and the share of the
    operation's wall they cover."""

    def __init__(self, rec: Recorder, groups: dict[str, list[dict]]):
        self.rec = rec
        self.groups = groups
        self.rows: list[dict] = []
        self.by_group = {s["group"]: s for s in self.rec.spans}
        self.children: dict[str, list[dict]] = {}
        for s in self.rec.spans:
            if s["parent"]:
                self.children.setdefault(s["parent"], []).append(s)

    def _stages(self, span: dict) -> list[dict]:
        out = list(self.groups.get(span["group"], []))
        for child in self.children.get(span["group"], []):
            out.extend(self._stages(child))
        return out

    def occurrences(self, names) -> list[list[dict]]:
        """Stages per pass for a set of span names (one entry per pass
        span that contains them)."""
        names = [names] if isinstance(names, str) else list(names)
        by_pass: dict = {}
        for s in self.rec.spans:
            if s["name"] in names:
                by_pass.setdefault(self._pass_of(s), []).extend(self._stages(s))
        return list(by_pass.values())

    def _pass_of(self, span: dict) -> str:
        while span["parent"] in self.by_group:
            span = self.by_group[span["parent"]]
        return span["group"]

    def per_pass(self, names, key: str) -> float:
        """Median over passes of a stage metric summed over the spans."""
        return median([sum(st[key] for st in o) for o in self.occurrences(names)])

    def stage_wall(self, names, map_only: bool | None = None) -> float:
        """Per pass: the union of the stage wall intervals, optionally only
        of the stages that write shuffle output (map stages)."""
        vals = []
        for o in self.occurrences(names):
            sel = [st["interval"] for st in o
                   if map_only is None or (st["shuffle_write_bytes"] > 0) == map_only]
            vals.append(union_seconds(sel))
        return median(vals)

    def timeline(self, name: str, nested: dict[str, float] | None = None) -> None:
        """Layer split of one operation from its spans' stage timestamps:
        driver time before the first stage (plan, submit, broadcast), map
        stages (scan + shuffle write), result stages (shuffle read, Python
        workers, collect), and driver time after the last stage (collect,
        merge). ``nested`` layers are carved out of the result stages.
        Driver time between stages is left uncovered."""
        rows = []
        for span in self.rec.spans:
            stages = self._stages(span) if span["name"] == name else []
            if not stages:
                continue
            t0, t1 = span["t0"] * 1000.0, span["t1"] * 1000.0
            first = min(st["interval"][0] for st in stages)
            last = max(st["interval"][1] for st in stages)
            every = union_seconds([st["interval"] for st in stages])
            maps = union_seconds([st["interval"] for st in stages
                                  if st["shuffle_write_bytes"] > 0])
            rows.append({"wall": span["wall"],
                         "pre": max(first - t0, 0.0) / 1000.0,
                         "map": maps, "result": every - maps,
                         "post": max(t1 - last, 0.0) / 1000.0})
        if not rows:
            return
        mid = sorted(rows, key=lambda r: r["wall"])[len(rows) // 2]
        parts = {"driver before stages": mid["pre"],
                 "map stages (scan, shuffle write)": mid["map"]}
        result = mid["result"]
        for label, sec in (nested or {}).items():
            parts[label] = sec
            result -= sec
        parts["result stages (shuffle read, python)"] = result
        parts["driver after stages (collect, merge)"] = mid["post"]
        wall = mid["wall"]
        self.rows.append({"op": name, "wall": wall, "parts": parts,
                          "coverage": sum(parts.values()) / wall if wall else 0.0})
