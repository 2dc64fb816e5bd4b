"""Store manifests: the one place persisted state keeps its small JSON.

Every persisted store pins what it holds in one KB-sized JSON object: the
checkpoint's ``_lineage.json``, the sketch and signature stores' marker
directories, the streaming near-dup ``meta.json`` and the
``ForeachBatchSketcher`` window states. They are read and written here, on
the driver, through the JVM Hadoop FileSystem of the active session: any
filesystem its Hadoop conf resolves (local, HDFS, S3A), and no Spark job.

``write`` is atomic: a dot-prefixed temp file, then
``FileContext.rename(..., OVERWRITE)``. Plain ``FileSystem.rename`` onto an
existing file returns ``False`` on the local FS and HDFS and keeps the old
file; a crash before the rename leaves only a temp file that readers skip.
On the local FS the IO uses the raw filesystem: the checksummed one writes
a ``.<name>.crc`` sibling and then refuses a manifest edited by hand.
"""

from __future__ import annotations

import json
import uuid

from py4j.java_gateway import is_instance_of
from pyspark.sql import SparkSession

SAVE_MODES = ("append", "overwrite", "ignore", "error", "errorifexists",
              "default")


class ManifestError(RuntimeError, ValueError):
    """A store refused its persisted state; catchable as either base."""


def _fs(path: str):
    sc = SparkSession.active().sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if is_instance_of(sc._gateway, fs,
                      "org.apache.hadoop.fs.ChecksumFileSystem"):
        fs = fs.getRawFileSystem()
    return sc, fs, fs.makeQualified(jpath)


def _visible(name: str) -> bool:
    return not name.startswith(("_", "."))


def exists(path: str) -> bool:
    _, fs, p = _fs(path)
    return bool(fs.exists(p))


def names(path: str) -> list[str]:
    """Sorted visible entry names of directory ``path`` ([] if absent)."""
    _, fs, p = _fs(path)
    if not fs.exists(p):
        return []
    return sorted(n for n in (st.getPath().getName() for st in fs.listStatus(p))
                  if _visible(n))


def read(path: str) -> dict | None:
    """The JSON object in file ``path``, or in the first non-empty visible
    file of directory ``path`` (JSON-lines part files as ``spark.read.json``
    writes them; ``marker.json`` sorts before ``part-*``); None if absent."""
    sc, fs, p = _fs(path)
    if not fs.exists(p):
        return None
    files = [p]
    if fs.getFileStatus(p).isDirectory():
        files = sorted((st.getPath() for st in fs.listStatus(p)
                        if st.isFile() and _visible(st.getPath().getName())),
                       key=lambda f: f.getName())
    for f in files:
        stream = fs.openFile(f).build().get()
        try:
            text = sc._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8").strip()
        finally:
            stream.close()
        if text:
            return json.JSONDecoder().raw_decode(text)[0]
    return None


def write(path: str, obj: dict) -> None:
    """Atomically replace file ``path`` with ``obj`` as one JSON line."""
    sc, fs, p = _fs(path)
    hadoop = sc._jvm.org.apache.hadoop.fs
    tmp = hadoop.Path(p.getParent(), f".{p.getName()}.{uuid.uuid4().hex}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()
    overwrite = sc._gateway.new_array(hadoop.Options.Rename, 1)
    overwrite[0] = hadoop.Options.Rename.OVERWRITE
    hadoop.FileContext.getFileContext(
        p.toUri(), sc._jsc.hadoopConfiguration()).rename(tmp, p, overwrite)


def claim(store: str, path: str, mode: str) -> bool:
    """Apply Spark save ``mode`` to ``path`` before the store's manifest is
    written, so its data write can always append (``overwrite`` would delete
    the manifest). False means skip the write (``ignore``). ``error``
    refuses a path holding data; one holding only manifests is a write that
    crashed after its manifest, and the retry goes ahead."""
    mode = mode.lower()
    if mode not in SAVE_MODES:
        raise ValueError(f"unknown save mode {mode!r}: {SAVE_MODES}")
    if mode == "overwrite":
        _, fs, p = _fs(path)
        fs.delete(p, True)
    elif mode != "append" and names(path):
        if mode == "ignore":
            return False
        raise ManifestError(f"{store} at {path} already exists: mode={mode!r}"
                            " refuses it; pass 'append' or 'overwrite'.")
    return True


def refuse(store: str, path: str, why: str, *, got=None, want=None,
           missing: str | None = None) -> ManifestError:
    """The error for a store whose manifest is ``missing`` or was written
    with ``got`` where the caller expects ``want``."""
    head = (f"has no {missing} manifest" if missing is not None else
            f"was written with {got} but the caller expects {want}")
    return ManifestError(f"{store} at {path} {head}: {why}")


def check(store: str, path: str, meta: dict, why: str, **want) -> None:
    """Refuse ``meta`` unless it matches every ``want`` that is not None."""
    for name, value in want.items():
        if value is not None and meta.get(name) != value:
            raise refuse(store, path, why, got=f"{name}={meta.get(name)!r}",
                         want=f"{name}={value!r}")
