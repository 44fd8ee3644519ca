"""Checkpointed pipeline: idempotent resume, lineage metrics, skew routing."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from full_lattice_search_spark.datagen import synth_documents
from full_lattice_search_spark.pipeline import completed_buckets, run_extraction


@pytest.fixture()
def dirs(tmp_path):
    return str(tmp_path / "out"), str(tmp_path / "ckpt")


def test_run_and_resume(spark, dirs):
    out_dir, ckpt_dir = dirs
    docs = synth_documents(spark, 60, seed=3, mega_every=20).cache()

    m1 = run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=8)
    assert m1["buckets_processed"] == 8
    assert m1["docs"] == 60

    result = spark.read.parquet(out_dir)
    assert result.count() == 60
    assert result.select("doc_id").distinct().count() == 60

    done = completed_buckets(spark, ckpt_dir)
    assert done == set(range(8))

    # resume over a completed checkpoint: no-op
    m2 = run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=8)
    assert m2["buckets_processed"] == 0
    assert spark.read.parquet(out_dir).count() == 60


def test_partial_resume(spark, dirs):
    out_dir, ckpt_dir = dirs
    docs = synth_documents(spark, 40, seed=5, mega_every=0).cache()

    m1 = run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=4)
    assert m1["docs"] == 40

    # simulate a crash: drop two buckets' checkpoint rows
    ckpt = spark.read.parquet(ckpt_dir).filter(F.col("bucket") < 2)
    pdf = ckpt.toPandas()
    import shutil

    shutil.rmtree(ckpt_dir)
    from full_lattice_search_spark.schema import CHECKPOINT_SCHEMA

    spark.createDataFrame(pdf, CHECKPOINT_SCHEMA).write.parquet(ckpt_dir)

    m2 = run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=4)
    assert m2["buckets_done"] == 2
    assert m2["buckets_processed"] == 2
    # dynamic partition overwrite → still exactly one row per doc
    result = spark.read.parquet(out_dir)
    assert result.count() == 40
    assert result.select("doc_id").distinct().count() == 40


def test_metrics_lineage(spark, dirs):
    out_dir, ckpt_dir = dirs
    docs = synth_documents(spark, 20, seed=9, mega_every=0)
    m = run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=2)
    ckpt = spark.read.parquet(ckpt_dir).toPandas()
    assert set(ckpt["bucket"]) == {0, 1}
    assert (ckpt["status"] == "done").all()
    assert ckpt["n_docs"].sum() == 20
    assert ckpt["run_id"].nunique() == 1
    assert m["run_id"] == ckpt["run_id"].iloc[0]


def test_crash_between_groups_preserves_progress(spark, dirs):
    """buckets_per_job bounds checkpoint granularity: a crash after group 1
    must leave group 1 durable, and the resume must process ONLY the
    remaining buckets (never re-extracting completed ones)."""
    out_dir, ckpt_dir = dirs
    docs = synth_documents(spark, 40, seed=11, mega_every=0).cache()

    class Boom(RuntimeError):
        pass

    groups_seen = []

    def die_after_first(group):
        groups_seen.append(list(group))
        raise Boom()

    with pytest.raises(Boom):
        run_extraction(
            spark, docs, out_dir, ckpt_dir, n_buckets=8,
            buckets_per_job=2, _after_group=die_after_first,
        )
    assert groups_seen == [[0, 1]]
    # group 1's commit survived the crash
    assert completed_buckets(spark, ckpt_dir) == {0, 1}

    m2 = run_extraction(
        spark, docs, out_dir, ckpt_dir, n_buckets=8, buckets_per_job=2
    )
    assert m2["buckets_done"] == 2
    assert m2["buckets_processed"] == 6
    ckpt = spark.read.parquet(ckpt_dir).toPandas()
    # exactly one checkpoint row per bucket: nothing was re-processed
    assert sorted(ckpt["bucket"]) == list(range(8))
    assert ckpt["run_id"].nunique() == 2
    result = spark.read.parquet(out_dir)
    assert result.count() == 40
    assert result.select("doc_id").distinct().count() == 40


def test_no_output_rescan_for_metrics(spark, dirs, monkeypatch):
    """Checkpoint metrics ride the write job (Observation API): the
    just-written output parquet must never be read back during a run —
    at scale a read-back doubles the write path's I/O."""
    import pyspark.sql.readwriter as rw

    out_dir, ckpt_dir = dirs
    docs = synth_documents(spark, 30, seed=7, mega_every=10).cache()
    docs.count()  # materialize before instrumenting the reader

    read_paths = []
    orig = rw.DataFrameReader.parquet

    def spy(self, *paths, **kw):
        read_paths.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spy)
    m = run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=4)
    assert m["docs"] == 30
    assert all(not p.startswith(out_dir) for p in read_paths), read_paths
    # and the observed metrics match what actually landed on disk
    result = spark.read.parquet(out_dir)
    per_bucket = {
        r["bucket"]: (r["n"], r["s"])
        for r in result.groupBy("bucket")
        .agg(F.count("*").alias("n"), F.sum("n_spans").alias("s"))
        .collect()
    }
    from full_lattice_search_spark.schema import CHECKPOINT_SCHEMA

    ckpt = spark.read.schema(CHECKPOINT_SCHEMA).parquet(ckpt_dir)
    for r in ckpt.collect():
        want = per_bucket.get(r["bucket"], (0, 0))
        assert (r["n_docs"], r["n_spans"]) == (want[0], want[1] or 0)


def test_run_leaves_session_overwrite_mode_alone(spark, dirs):
    """The output write asks for dynamic partition overwrite per write; the
    caller's session conf must read the same before and after a run."""
    out_dir, ckpt_dir = dirs
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        docs = synth_documents(spark, 20, seed=13, mega_every=0)
        run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=2)
        assert spark.conf.get(key).lower() == "static"
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_completed_buckets_missing_dir_is_not_read(spark, tmp_path,
                                                   monkeypatch):
    import pyspark.sql.readwriter as rw

    calls = []
    monkeypatch.setattr(rw.DataFrameReader, "parquet",
                        lambda self, *p, **kw: calls.append(p))
    assert completed_buckets(spark, str(tmp_path / "never-written")) == set()
    assert calls == []


def test_completed_buckets_corrupt_table_raises(spark, tmp_path):
    ckpt_dir = tmp_path / "ckpt"
    ckpt_dir.mkdir()
    (ckpt_dir / "part-00000-corrupt.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception):
        completed_buckets(spark, str(ckpt_dir))


def test_checkpoint_writes_one_file_per_group(spark, dirs):
    import glob
    import os

    out_dir, ckpt_dir = dirs
    docs = synth_documents(spark, 40, seed=17, mega_every=0)
    m = run_extraction(spark, docs, out_dir, ckpt_dir, n_buckets=8,
                       buckets_per_job=2)
    assert m["buckets_processed"] == 8
    files = glob.glob(os.path.join(ckpt_dir, "*.parquet"))
    assert len(files) == 4, files
    assert completed_buckets(spark, ckpt_dir) == set(range(8))
