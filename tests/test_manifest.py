"""Store manifests (spark/manifest.py): atomic replace, crash leftovers,
and every store layout written before the manifest module still opening.

- a second write replaces the manifest where plain ``FileSystem.rename``
  onto an existing file returns False and keeps the old one;
- a temp file left by a write that crashed before its rename is ignored;
- a sketch or signature store whose data write crashed after its marker
  accepts the retried write (marker first, then data);
- sketch and signature stores whose marker directory holds a Spark-written
  ``part-*.json`` (the pre-manifest layout) or a checksummed
  ``marker.json`` open and accept appends;
- a ``_lineage.json`` without ``snapshots`` resumes.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from filterz_spark.ops.dedup import (SIGSTORE_META_DIR, read_signature_store,
                                     write_signature_store)
from filterz_spark.spark import manifest
from filterz_spark.spark.checkpoint import checkpointed_build, read_lineage
from filterz_spark.spark.merge import sketch_column
from filterz_spark.spark.sketch_store import (SKETCHSTORE_META_DIR,
                                              merge_sketch_range,
                                              read_sketch_store,
                                              write_sketch_epoch)

SIG = {"hash_family": "km_md5", "num_hashes": 8, "k": 2}


def _crashing(df, col):
    """``df`` whose ``col`` raises when a job evaluates it."""
    return df.withColumn(col, F.when(F.col(col).isNotNull(),
                                     F.raise_error(F.lit("simulated crash")))
                         .otherwise(F.col(col)))


def _checksummed_write(spark, path, text):
    """Write ``text`` through the session's checksummed Hadoop FS, the way
    markers were written before the manifest module (``.crc`` sibling)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    out = jpath.getFileSystem(spark._jsc.hadoopConfiguration()) \
        .create(jpath, True)
    out.write(bytearray(text.encode("utf-8")))
    out.close()


@pytest.fixture(scope="module")
def urls(spark):
    return spark.range(2000).selectExpr(
        "concat('u', id % 700) AS url", "cast(id % 2 AS string) AS epoch")


@pytest.fixture(scope="module")
def sigs(spark):
    return spark.createDataFrame(
        [(i, [f"{i}-{b}" for b in range(8)]) for i in range(20)],
        "doc_id long, sig array<string>")


class TestManifestIO:
    def test_write_replaces_where_plain_rename_does_not(self, spark,
                                                        tmp_path):
        p = str(tmp_path / "m" / "meta.json")
        manifest.write(p, {"v": 1})
        manifest.write(p, {"v": 2})
        with open(p) as f:
            assert json.load(f) == {"v": 2}
        # the trap the FileContext rename avoids: FileSystem.rename onto an
        # existing file returns False on the local FS and keeps the old file
        hadoop = spark._jvm.org.apache.hadoop.fs
        fs = hadoop.Path(p).getFileSystem(spark._jsc.hadoopConfiguration())
        other = str(tmp_path / "m" / "other.json")
        _checksummed_write(spark, other, '{"v": 3}')
        assert not fs.rename(hadoop.Path(other), hadoop.Path(p))
        assert manifest.read(p) == {"v": 2}

    def test_crashed_write_temp_is_ignored(self, spark, tmp_path):
        d = tmp_path / "state"
        p = str(d / "meta.json")
        manifest.write(p, {"v": 1})
        # a write that crashed before its rename leaves a partial temp file
        (d / ".meta.json.0123abcd.tmp").write_text('{"v": 2, "tru')
        assert manifest.read(p) == {"v": 1}
        assert manifest.read(str(d)) == {"v": 1}
        assert manifest.names(str(d)) == ["meta.json"]
        assert sorted(os.listdir(d)) == [".meta.json.0123abcd.tmp",
                                         "meta.json"]

    def test_hand_edited_manifest_reads(self, spark, tmp_path):
        p = str(tmp_path / "meta.json")
        manifest.write(p, {"v": 1})
        with open(p, "w") as f:
            json.dump({"v": "edited"}, f, indent=2)
        assert manifest.read(p) == {"v": "edited"}
        assert manifest.read(str(tmp_path / "absent.json")) is None
        assert manifest.names(str(tmp_path / "absent")) == []

    def test_refusal_is_runtime_and_value_error(self):
        err = manifest.refuse("store", "/x", "why", missing="meta.json")
        assert isinstance(err, RuntimeError) and isinstance(err, ValueError)
        with pytest.raises(ValueError, match="expects k=3"):
            manifest.check("store", "/x", {"k": 2}, "why", k=3, n=None)


class TestCrashAfterMarker:
    def test_sketch_store_accepts_retried_write(self, spark, urls,
                                                tmp_path):
        p = str(tmp_path / "sketch")
        with pytest.raises(Exception, match="simulated crash"):
            write_sketch_epoch(_crashing(urls, "url"), "url", p, "0",
                               kind="hll", params={"p": 12})
        assert manifest.names(p) == []
        assert manifest.read(f"{p}/{SKETCHSTORE_META_DIR}")["kind"] == "hll"
        assert read_sketch_store(spark, p, kind="hll").count() == 0
        write_sketch_epoch(urls, "url", p, "0", kind="hll", params={"p": 12})
        assert merge_sketch_range(spark, p).serialize() == \
            sketch_column(urls, "url", "hll", {"p": 12}).serialize()

    def test_signature_store_accepts_retried_write(self, spark, sigs,
                                                   tmp_path):
        p = str(tmp_path / "sig")
        with pytest.raises(Exception, match="simulated crash"):
            write_signature_store(_crashing(sigs, "doc_id"), p, **SIG)
        assert manifest.names(p) == []
        write_signature_store(sigs, p, **SIG)  # default mode="error"
        assert read_signature_store(spark, p, **SIG).count() == 20

    def test_save_modes_apply_before_the_marker(self, spark, sigs,
                                                tmp_path):
        p = str(tmp_path / "sig")
        write_signature_store(sigs, p, **SIG)
        with pytest.raises(RuntimeError, match="already exists"):
            write_signature_store(sigs, p, **SIG)
        write_signature_store(sigs, p, mode="ignore", **SIG)
        assert read_signature_store(spark, p, **SIG).count() == 20
        # overwrite replaces data AND marker: a new family is accepted
        band = {**SIG, "hash_family": "band_md5"}
        write_signature_store(sigs.limit(5), p, mode="overwrite", **band)
        assert read_signature_store(spark, p, **band).count() == 5
        with pytest.raises(RuntimeError, match="hash_family"):
            read_signature_store(spark, p, **SIG)


class TestLegacyLayouts:
    @pytest.mark.parametrize("layout", ["spark_part_files", "marker_json"])
    def test_sketch_store_opens_and_appends(self, spark, urls, tmp_path,
                                            layout):
        p = str(tmp_path / "sketch")
        first = urls.where("epoch = '0'")
        write_sketch_epoch(first, "url", p, "0", kind="hll",
                           params={"p": 12})
        meta_dir = f"{p}/{SKETCHSTORE_META_DIR}"
        row = manifest.read(meta_dir)
        _relayout(spark, meta_dir, row, layout,
                  "kind string, params string, value_kind string, "
                  "version int")
        assert manifest.read(meta_dir) == row
        write_sketch_epoch(urls.where("epoch = '1'"), "url", p, "1",
                           kind="hll", params={"p": 12})
        with pytest.raises(RuntimeError, match="do not merge"):
            write_sketch_epoch(first, "url", p, "2", kind="hll",
                               params={"p": 14})
        assert merge_sketch_range(spark, p).serialize() == \
            sketch_column(urls, "url", "hll", {"p": 12}).serialize()

    @pytest.mark.parametrize("layout", ["spark_part_files", "marker_json"])
    def test_signature_store_opens_and_appends(self, spark, sigs, tmp_path,
                                               layout):
        p = str(tmp_path / "sig")
        write_signature_store(sigs, p, **SIG)
        meta_dir = f"{p}/{SIGSTORE_META_DIR}"
        row = manifest.read(meta_dir)
        _relayout(spark, meta_dir, row, layout,
                  "hash_family string, num_hashes int, k int, version int")
        write_signature_store(sigs, p, mode="append", **SIG)
        assert read_signature_store(spark, p, **SIG).count() == 40
        with pytest.raises(RuntimeError, match="num_hashes"):
            write_signature_store(sigs, p, mode="append",
                                  **{**SIG, "num_hashes": 4})

    def test_lineage_without_snapshots_resumes(self, spark, tmp_path):
        base = str(tmp_path / "ckpt")
        keys = spark.range(3000).selectExpr("concat('k', id) AS url")
        kw = dict(kind="xorf", params={"arity": 3, "fp_bits": 16},
                  num_partitions=4)
        checkpointed_build(spark, keys, "url", base, fail_after=2, **kw)
        lineage = read_lineage(base)
        del lineage["snapshots"]
        with open(f"{base}/_lineage.json", "w") as f:
            json.dump(lineage, f)
        out = checkpointed_build(spark, keys, "url", base, **kw)
        assert sorted({r["partition_id"] for r in out.collect()}) == \
            [0, 1, 2, 3]
        resumed = read_lineage(base)
        assert resumed["epoch"] == 2
        assert [s["epoch"] for s in resumed["snapshots"]] == [2]


def _relayout(spark, meta_dir, row, layout, schema):
    """Rewrite a store's marker directory as an older writer left it."""
    hadoop = spark._jvm.org.apache.hadoop.fs
    jpath = hadoop.Path(meta_dir)
    jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)
    if layout == "spark_part_files":
        spark.createDataFrame([row], schema).coalesce(1).write.json(meta_dir)
        assert any(n.startswith("part-") for n in os.listdir(meta_dir))
    else:
        _checksummed_write(spark, f"{meta_dir}/marker.json", json.dumps(row))
        assert ".marker.json.crc" in os.listdir(meta_dir)
