"""Small-file compaction: content preservation, partition-layout
preservation, idempotent re-runs, and crash recovery at both interruption
points of the swap protocol."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gfe_db_spark.plans.compaction import (
    CompactionStats,
    compact_small_files,
    file_stats,
    recover_compaction,
)
from gfe_db_spark.plans.merge import fs_exists, fs_write_text


def _write_fragmented(spark, path, n_rows=2000, n_files=40):
    df = spark.range(n_rows).withColumn("v", F.col("id") * 2)
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return df


def test_compaction_preserves_content_and_shrinks_files(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _write_fragmented(spark, path)
    before = file_stats(spark, path).count()
    assert before >= 30
    stats = compact_small_files(spark, path, target_bytes=10 * 1024 * 1024)
    assert isinstance(stats, CompactionStats)
    assert not stats.skipped
    assert stats.files_before == before
    assert stats.files_after < before
    assert stats.rows == 2000
    got = spark.read.parquet(path)
    assert got.count() == 2000
    assert got.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]


def test_compaction_skips_already_compact_target(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(path)
    stats = compact_small_files(spark, path)
    assert stats.skipped and stats.files_before == stats.files_after == 1


def test_compaction_preserves_hive_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(3000).withColumn("part", (F.col("id") % 3).cast("int"))
    df.repartition(30).write.partitionBy("part").mode("overwrite").parquet(path)
    stats = compact_small_files(
        spark, path, target_bytes=10 * 1024 * 1024, partition_by=["part"]
    )
    assert stats.files_after < stats.files_before
    got = spark.read.parquet(path)
    assert got.count() == 3000
    # partition pruning must survive: directory layout intact
    one = spark.read.parquet(path).filter("part = 1")
    assert one.count() == 1000
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "part#" in plan


def test_recover_promotes_completed_staging(spark, tmp_path):
    # crash between delete(target) and rename(staging): target missing,
    # staging complete (marker present) → promote
    path = str(tmp_path / "t")
    _write_fragmented(spark, path, n_rows=500, n_files=5)
    staging = path + ".compacting"
    spark.read.parquet(path).coalesce(1).write.parquet(staging)
    fs_write_text(spark, staging + "/_COMPACTION_COMPLETE", "ok")
    from gfe_db_spark.plans.merge import fs_delete

    fs_delete(spark, path)
    assert recover_compaction(spark, path) == "promoted"
    assert spark.read.parquet(path).count() == 500
    assert not fs_exists(spark, staging)


def test_recover_discards_partial_staging(spark, tmp_path):
    # crash during the staged write: target intact, staging has no marker
    # → staging torn down, target untouched, rerun converges
    path = str(tmp_path / "t")
    _write_fragmented(spark, path, n_rows=500, n_files=5)
    staging = path + ".compacting"
    spark.read.parquet(path).limit(10).coalesce(1).write.parquet(staging)
    assert recover_compaction(spark, path) == "discarded"
    assert not fs_exists(spark, staging)
    stats = compact_small_files(spark, path, target_bytes=10 * 1024 * 1024)
    assert stats.rows == 500


def test_recover_refuses_partial_staging_without_target(spark, tmp_path):
    # the impossible-under-protocol state: never silently destroy the only
    # copy of the data
    path = str(tmp_path / "t")
    staging = path + ".compacting"
    spark.range(10).write.parquet(staging)
    from gfe_db_spark.plans.merge import hadoop_fs

    fs, _ = hadoop_fs(spark, staging + "/_SUCCESS")
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    fs.delete(HPath(staging + "/_SUCCESS"), False)
    with pytest.raises(RuntimeError, match="manual recovery"):
        recover_compaction(spark, path)


def test_compaction_composes_with_bucketed_upsert(spark, tmp_path):
    """Compacting a bucketed upsert target (CLI ``compact``, which routes a
    manifest table to `tx_compact`) folds its generations into one while
    keeping the __bucket layout and the recorded n_buckets, so subsequent
    commits keep merging correctly and a changed bucket count still
    raises."""
    import os

    from gfe_db_spark.__main__ import main
    from gfe_db_spark.plans import txtable as TX

    target = str(tmp_path / "t")
    base = spark.range(500).selectExpr("id AS k", "id * 2 AS v")
    TX.tx_upsert(base, target, ["k"], n_buckets=4)
    for i in range(3):
        one = spark.createDataFrame([(i, -i)], "k long, v long")
        TX.tx_upsert(one, target, ["k"], n_buckets=4)
    assert len(set(TX.read_manifest(spark, target)["buckets"].values())) > 1

    assert main(["compact", target]) == 0
    m = TX.read_manifest(spark, target)
    (gen,) = set(m["buckets"].values())
    assert m["n_buckets"] == 4
    assert sorted(d for d in os.listdir(f"{target}/{gen}") if d.startswith("__bucket=")) == [
        f"__bucket={b}" for b in range(4)
    ]
    assert TX.tx_read(spark, target).count() == 500

    TX.tx_upsert(
        spark.createDataFrame([(42, 999)], "k long, v long"), target, ["k"], n_buckets=4
    )
    out = TX.tx_read(spark, target)
    assert out.count() == 500
    assert out.filter("k = 42").first().v == 999
    assert {r.v for r in out.filter("k < 3").collect()} == {0, -1, -2}
    with pytest.raises(ValueError, match="bucket-count mismatch"):
        TX.tx_upsert(base, target, ["k"], n_buckets=8)


def test_compaction_refuses_manifest_tables(spark, tmp_path, capsys):
    """`compact_small_files` on a manifest-pointer table would flatten its
    generation dirs and drop `_manifests` — every snapshot gone. It must
    refuse, leaving the table readable; the CLI routes both manifest
    shapes (bucket map, segment log) to their own compaction instead."""
    from gfe_db_spark.__main__ import main
    from gfe_db_spark.plans import txtable as TX

    table = str(tmp_path / "t")
    TX.tx_upsert(spark.range(200).selectExpr("id AS k"), table, ["k"], n_buckets=4)
    with pytest.raises(ValueError, match="manifest-pointer table"):
        compact_small_files(spark, table, target_bytes=10 * 1024 * 1024)
    assert TX.tx_read(spark, table).count() == 200
    assert main(["compact", table]) == 0
    assert "generation 2" in capsys.readouterr().out
    assert TX.tx_read(spark, table).count() == 200

    log = str(tmp_path / "log")
    for i in range(3):
        TX.txlog_append(spark.range(i * 10, i * 10 + 10), log)
    with pytest.raises(ValueError, match="manifest-pointer table"):
        compact_small_files(spark, log)
    assert main(["compact", log]) == 0
    assert TX.txlog_segment_count(spark, log) == 1
    assert TX.read_table(spark, log).count() == 30


def test_compaction_unifies_evolved_schema(spark, tmp_path):
    """Compacting a dir whose files carry different schemas (a later append
    added a column) must read through mergeSchema (a plain read samples
    one footer and would silently drop the evolved column) and, as a side
    effect, rewrite every file with the full schema so plain reads work
    again afterwards."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame([(i, "x") for i in range(100)], "k long, v string")
    base.repartition(4).write.parquet(target)
    widened = spark.createDataFrame([(100, "y", 7)], "k long, v string, extra long")
    widened.write.mode("append").parquet(target)

    stats = compact_small_files(spark, target, target_bytes=10 * 1024 * 1024)
    assert stats.rows == 101
    # plain read (no mergeSchema) now sees the evolved column everywhere
    out = spark.read.parquet(target)
    assert "extra" in out.columns
    got = {r.k: r.extra for r in out.filter("k <= 1 OR k = 100").collect()}
    assert got == {0: None, 1: None, 100: 7}
