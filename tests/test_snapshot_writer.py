"""The worker-side bucket writer of run_with_snapshots: the manifest lists
exactly the files the accepted task attempts wrote, its per-bucket counts
match those files, the read schema is the Spark writer's, and mode/config
reach the kernel. Also the per-worker zipimport invalidation gate."""

import importlib
import os
import re
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from glm_ocr_spark.data.gen import transcripts_df
from glm_ocr_spark.pipeline import EXTRACTED_SCHEMA, extract_transcripts
from glm_ocr_spark.snapshot import SnapshotStore, run_with_snapshots

N_BUCKETS = 8
COLS = ("conv_id", "turn_idx", "role", "extracted_text", "markdown", "json",
        "n_blocks", "error")


@pytest.fixture(scope="module")
def small_transcripts(spark):
    df = transcripts_df(spark, 0.001).filter("turn_idx < 10").cache()
    df.count()
    yield df
    df.unpersist()


def _rows(df):
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def test_ocr_only_mode_reaches_the_kernel(spark, small_transcripts,
                                          tmp_path):
    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=N_BUCKETS,
                       mode="ocr_only")
    got = _rows(SnapshotStore(root).read_output(spark))
    assert got == _rows(extract_transcripts(small_transcripts,
                                            mode="ocr_only"))
    assert got != _rows(extract_transcripts(small_transcripts))


def test_stray_staged_file_is_not_read(spark, small_transcripts, tmp_path,
                                       monkeypatch):
    """Only the files the tasks report are committed: a valid parquet file
    already lying in the staging dir is never listed."""
    stray_rows = (extract_transcripts(small_transcripts.limit(1))
                  .withColumn("conv_id", F.lit("stray")).toArrow())
    stage = SnapshotStore.staging_dir
    strays = []

    def staging_dir(self):
        d = stage(self)
        os.makedirs(os.path.join(d, "bucket=0"))
        stray = os.path.join(d, "bucket=0", "part-stray.parquet")
        pq.write_table(stray_rows, stray)
        strays.append(stray)
        return d

    monkeypatch.setattr(SnapshotStore, "staging_dir", staging_dir)
    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=N_BUCKETS)
    store = SnapshotStore(root)
    assert strays and all(os.path.exists(p) for p in strays)
    assert not set(strays) & set(store.output_files())
    out = store.read_output(spark)
    assert out.count() == small_transcripts.count()
    assert out.filter(F.col("conv_id") == "stray").count() == 0


def test_bucket_entries_match_their_files(spark, small_transcripts, tmp_path):
    """rows_out / bytes_out / dead_letters per bucket equal a recount of
    the listed files; every file sits under its bucket's directory and a
    task writes at most one file per bucket."""
    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=N_BUCKETS,
                       buckets_per_commit=5)
    m = SnapshotStore(root).manifest()
    assert sorted(map(int, m["buckets"])) == list(range(N_BUCKETS))
    total = 0
    for b, e in m["buckets"].items():
        tables = [pq.read_table(p) for p in e["files"]]
        assert e["rows_out"] == sum(t.num_rows for t in tables)
        assert e["bytes_out"] == sum(os.path.getsize(p) for p in e["files"])
        assert e["dead_letters"] == sum(
            t.num_rows - t.column("error").null_count for t in tables)
        tasks = []
        for p in e["files"]:
            assert os.path.basename(os.path.dirname(p)) == f"bucket={b}"
            tasks.append(re.match(r"part-(\d+)-[0-9a-f]{32}\.parquet$",
                                  os.path.basename(p)).group(1))
        assert len(tasks) == len(set(tasks)), (b, e["files"])
        total += e["rows_out"]
    assert total == small_transcripts.count()


def test_read_output_schema_is_the_spark_writers(spark, small_transcripts,
                                                 tmp_path):
    root = str(tmp_path / "cat")
    run_with_snapshots(spark, small_transcripts, root, n_buckets=N_BUCKETS)
    schema = SnapshotStore(root).read_output(spark).schema
    want = EXTRACTED_SCHEMA.fields + [
        T.StructField("bucket", T.IntegerType())]
    assert [(f.name, f.dataType) for f in schema.fields] == \
        [(f.name, f.dataType) for f in want]


def test_run_totals_equal_a_recount(spark, small_transcripts, tmp_path,
                                    monkeypatch):
    """rows_out and dead_letters of the run and of each bucket entry equal
    a recount over read_output; dead letters come from a kernel that
    raises on some payloads."""
    import glm_ocr_spark.pipeline as pl

    def poisoned(payload):
        if len(payload) % 5 == 0:
            raise ValueError("injected kernel bug")
        return pl.extract_turn(payload)

    monkeypatch.setattr(pl, "_extractor", lambda mode, config: poisoned)
    root = str(tmp_path / "cat")
    m = run_with_snapshots(spark, small_transcripts, root,
                           n_buckets=N_BUCKETS, buckets_per_commit=3)
    store = SnapshotStore(root)
    out = store.read_output(spark)
    dead = out.filter(F.col("error").isNotNull())
    assert m["rows_out"] == out.count() == small_transcripts.count()
    assert m["dead_letters"] == dead.count() > 0
    per_bucket = {r["bucket"]: r["count"]
                  for r in dead.groupBy("bucket").count().collect()}
    for b, e in store.manifest()["buckets"].items():
        assert e["dead_letters"] == per_bucket.get(int(b), 0)
    # a resumed run processes nothing and reports zero
    again = run_with_snapshots(spark, small_transcripts, root,
                               n_buckets=N_BUCKETS)
    assert (again["rows_out"], again["dead_letters"]) == (0, 0)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimport re-reads archives lazily from 3.13")
def test_zip_gate_rereads_only_changed_archives(tmp_path, monkeypatch):
    import zipfile
    import zipimport

    import glm_ocr_spark.pipeline as pl

    # restored after the test, which uninstalls the gate
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zgate_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zgate_a").X == 1
        pl._gate_zip_invalidation()
        gated = zipimport.zipimporter.invalidate_caches
        pl._gate_zip_invalidation()  # idempotent
        assert zipimport.zipimporter.invalidate_caches is gated
        reads = []
        read = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda p: reads.append(p) or read(p))
        importlib.invalidate_caches()  # records the archive's stamp
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zgate_a.py", "X = 1\n")
            z.writestr("zgate_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert archive in reads
        assert importlib.import_module("zgate_b").Y == 2
    finally:
        for mod in ("zgate_a", "zgate_b"):
            sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(archive, None)
