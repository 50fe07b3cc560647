"""Checkpoint table IO: parquet table semantics (the path every
crawl/resume test exercises implicitly) and the atomic manifest."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from go_crawler_spark.tableio import ParquetTableIO
from tests.conftest import spark_jobs


@pytest.fixture()
def io(spark):
    return ParquetTableIO(spark, tempfile.mkdtemp(prefix="tio_"))


def test_write_read_roundtrip_and_observe(spark, io):
    df = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("m"))
    out = {}
    back = io.write(df, "t1", observe=[F.count(F.lit(1)).alias("n")], obs_out=out)
    assert out["n"] == 100
    assert back.count() == 100
    assert io.exists("t1") and not io.exists("t2")
    assert io.read("t1").count() == 100


def test_list_delete_and_staging_cleanup(spark, io):
    df = spark.range(5)
    io.write(df, "enqueue_0")
    io.write(df, "enqueue_1")
    io.write(df, "fetched_0")
    assert io.list_names("enqueue_") == ["enqueue_0", "enqueue_1"]
    # orphaned staging dir from a torn write must be invisible + cleanable
    os.makedirs(os.path.join(io.workdir, "enqueue_2._tmp"))
    assert io.list_names("enqueue_") == ["enqueue_0", "enqueue_1"]
    io.cleanup_staging()
    assert not os.path.exists(os.path.join(io.workdir, "enqueue_2._tmp"))
    io.delete_stale("enqueue_1")
    assert io.list_names("enqueue_") == ["enqueue_0"]


def test_replace_inplace_roundtrip(spark, io):
    io.write(spark.range(10), "enqueue_0")
    merged = io.read("enqueue_0").withColumn("x", F.col("id") * 2)
    back = io.replace(merged, "enqueue_0")
    assert back.count() == 10 and "x" in back.columns
    # no residue from the commit sequence
    assert not os.path.exists(os.path.join(io.workdir, "enqueue_0._old"))
    assert not os.path.exists(os.path.join(io.workdir, "enqueue_0._tmp"))


def _torn_state(spark, io, crash_after: str) -> None:
    """Manufacture each intermediate state of replace's commit sequence:
    stage -> rename-aside -> rename-in -> drop-old."""
    io.write(spark.range(5), "enqueue_0")
    path = os.path.join(io.workdir, "enqueue_0")
    spark.range(7).write.mode("overwrite").parquet(path + "._tmp")  # staged
    if crash_after == "stage":
        return
    os.rename(path, path + "._old")  # old aside
    if crash_after == "aside":
        return
    os.rename(path + "._tmp", path)  # new in place
    if crash_after == "rename_in":
        return
    raise AssertionError(crash_after)


def test_replace_crash_recovery_all_states(spark, io):
    """ADVICE r2 (medium): a crash mid-replace must never lose the table —
    in particular cleanup_staging must not delete the ._tmp that holds the
    only merged copy. Every torn state heals to a complete table."""
    path = os.path.join(io.workdir, "enqueue_0")
    for crash_after, want_rows in (
        ("stage", 5),       # commit never started: old copy wins, tmp dropped
        ("aside", 7),       # staged copy complete: promoted
        ("rename_in", 7),   # new copy already in place: old residue dropped
    ):
        _torn_state(spark, io, crash_after)
        io.cleanup_staging()  # resume/compact entry point runs this first
        assert io.read("enqueue_0").count() == want_rows, crash_after
        assert not os.path.exists(path + "._old"), crash_after
        assert not os.path.exists(path + "._tmp"), crash_after
        assert io.list_names("enqueue_") == ["enqueue_0"], crash_after
        io.delete_stale("enqueue_0")


def test_replace_lost_staging_restores_old(spark, io):
    """Pathological: ._old exists but both the new table and ._tmp are
    gone (staging dir removed by an operator) — the old table restores."""
    path = os.path.join(io.workdir, "enqueue_0")
    io.write(spark.range(5), "enqueue_0")
    os.rename(path, path + "._old")
    io.cleanup_staging()
    assert io.read("enqueue_0").count() == 5
    assert not os.path.exists(path + "._old")


def _read_jobs(spark, io, *names):
    """(io.read(*names), Spark jobs the read itself launched)."""
    return spark_jobs(spark, lambda: io.read(*names))


def test_read_of_own_table_launches_no_job_and_tracks_schema(spark, io):
    """A table this instance wrote reads with its recorded schema (no
    footer-inference job), and the recorded schema follows every change
    of the files behind the name."""
    path = os.path.join(io.workdir, "t")
    io.write(spark.range(4), "t")
    df, jobs = _read_jobs(spark, io, "t")
    assert jobs == 0
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(r["id"] for r in df.collect()) == [0, 1, 2, 3]

    # replace with an extra column
    io.replace(io.read("t").withColumn("x", F.col("id") * 2), "t")
    df, jobs = _read_jobs(spark, io, "t")
    assert jobs == 0 and df.columns == ["id", "x"]
    assert sorted((r["id"], r["x"]) for r in df.collect()) == [
        (0, 0), (1, 2), (2, 4), (3, 6)]

    # recover_replaces promoting a staged copy with a different schema
    spark.range(3).select(F.col("id").cast("string").alias("s")).write.parquet(
        path + "._tmp")
    os.rename(path, path + "._old")
    io.recover_replaces()
    df = io.read("t")
    assert df.columns == ["s"]
    assert sorted(r["s"] for r in df.collect()) == ["0", "1", "2"]
    assert _read_jobs(spark, io, "t")[1] == 0  # inferred once, then known

    # delete, then a rewrite with another schema
    io.delete("t")
    io.write(spark.range(2).select(F.lit("v").alias("k"), "id"), "t")
    df, jobs = _read_jobs(spark, io, "t")
    assert jobs == 0 and df.columns == ["k", "id"]
    assert sorted((r["k"], r["id"]) for r in df.collect()) == [("v", 0), ("v", 1)]


def test_read_infers_unknown_tables_once(spark, io):
    """Tables written by another instance and absent from the manifest
    are inferred on first read only; a union of tables whose schemas
    differ reads by column name, NULL where a table lacks the column."""
    io.write(spark.range(3), "a_0")
    io.write(spark.range(2).withColumn("y", F.lit(1)), "b_0")
    other = ParquetTableIO(spark, io.workdir)
    df, jobs = _read_jobs(spark, other, "a_0")
    assert jobs == 1 and df.count() == 3
    assert _read_jobs(spark, other, "a_0")[1] == 0
    both, jobs = _read_jobs(spark, other, "a_0", "b_0")
    assert jobs == 1 and both.columns == ["id", "y"]
    assert sorted(((r["id"], r["y"]) for r in both.collect()), key=repr) == [
        (0, 1), (0, None), (1, 1), (1, None), (2, None)]


def test_manifest_records_schemas_for_the_next_instance(spark, io):
    """put_manifest records the schema of every table the instance knows,
    so an instance opened on the workdir later (the resume) reads them
    with no inference job; get_manifest returns the caller's dict."""
    io.write(spark.range(3), "a_0")
    io.write(spark.range(2).withColumn("y", F.lit("v")), "b_0")
    io.write(spark.range(4), "a_1")
    io.put_manifest({"round": 0})
    assert io.get_manifest() == {"round": 0}
    other = ParquetTableIO(spark, io.workdir)
    df, jobs = _read_jobs(spark, other, "a_0", "a_1", "b_0")
    assert jobs == 0 and df.columns == ["id", "y"]
    assert df.count() == 9


def test_multi_read_unions(spark, io):
    io.write(spark.range(3), "a_0")
    io.write(spark.range(4), "a_1")
    assert io.read("a_0", "a_1").count() == 7


def test_manifest_roundtrip(spark, io):
    assert io.get_manifest() is None
    io.put_manifest({"round": 3, "seq_next": 17})
    assert io.get_manifest() == {"round": 3, "seq_next": 17}


def test_manifest_write_is_atomic(spark, io, monkeypatch):
    """A crash while the manifest is being written leaves the previous
    manifest readable, not a truncated file."""
    import json

    io.put_manifest({"round": 3, "seq_next": 17})

    def torn_dump(obj, f, **kw):
        f.write(json.dumps(obj)[:10])
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError):
        io.put_manifest({"round": 4, "seq_next": 29})
    monkeypatch.undo()
    assert io.get_manifest() == {"round": 3, "seq_next": 17}
