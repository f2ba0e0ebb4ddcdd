"""Iceberg sink protocol against a mocked catalog: this container has no
Iceberg runtime jar, so the partition-spec fail-fast, the snapshot-id
read-back, and the empty-bucket DELETE path are exercised here with the
catalog surfaces (spark.table / spark.sql / DataFrame.writeTo) mocked —
the protocol logic itself runs for real."""

from __future__ import annotations

from unittest import mock

import pytest

from univer_ocr_spark.spark import manifest as mf


def test_assert_bucket_partitioned_accepts_bucket_spec(spark):
    part_ok = spark.createDataFrame(
        [], "partition struct<bucket:int>, record_count long"
    )
    with mock.patch.object(type(spark), "table", return_value=part_ok):
        mf._assert_bucket_partitioned(spark, "lake.db.t")  # must not raise


def test_assert_bucket_partitioned_rejects_other_spec(spark):
    part_bad = spark.createDataFrame(
        [], "partition struct<day:int>, record_count long"
    )
    with mock.patch.object(type(spark), "table", return_value=part_bad):
        with pytest.raises(ValueError, match="partitioned by"):
            mf._assert_bucket_partitioned(spark, "lake.db.t")


def test_assert_bucket_partitioned_rejects_unpartitioned(spark):
    no_part = spark.createDataFrame([], "record_count long")
    with mock.patch.object(type(spark), "table", return_value=no_part):
        with pytest.raises(ValueError, match="no readable partition spec"):
            mf._assert_bucket_partitioned(spark, "lake.db.t")


def test_iceberg_commit_overwrite_and_snapshot_readback(spark):
    snap_df = spark.createDataFrame([(123456789,)], "snapshot_id long")
    seen: list[str] = []
    out = mock.MagicMock()
    out.sparkSession = spark
    with mock.patch.object(
        type(spark), "sql", side_effect=lambda q: seen.append(q) or snap_df
    ):
        snap = mf._iceberg_commit(out, "lake.db.t", bucket=3, n_rows=10)
    assert snap == "123456789"  # lineage the manifest row cites
    out.writeTo.assert_called_once_with("lake.db.t")
    out.writeTo.return_value.overwritePartitions.assert_called_once()
    assert "lake.db.t.snapshots" in seen[-1]


def test_iceberg_commit_empty_bucket_deletes_partition(spark):
    # overwritePartitions on empty output touches nothing — stale rows from
    # a superseded commit would survive; the commit must DELETE explicitly.
    # A DELETE that removed rows creates a new snapshot, which is cited.
    snap_ids = iter([100, 101])  # before-DELETE, after-DELETE (advanced)
    seen: list[str] = []
    out = mock.MagicMock()
    out.sparkSession = spark

    def fake_sql(q):
        seen.append(q)
        if "snapshots" in q:
            return spark.createDataFrame([(next(snap_ids),)], "snapshot_id long")
        return mock.MagicMock()

    with mock.patch.object(type(spark), "sql", side_effect=fake_sql):
        snap = mf._iceberg_commit(out, "lake.db.t", bucket=7, n_rows=0)
    assert snap == "101"
    out.writeTo.assert_not_called()
    assert any("DELETE FROM lake.db.t WHERE bucket = 7" in q for q in seen)


def test_iceberg_commit_empty_bucket_no_op_delete_records_no_lineage(spark):
    # A DELETE matching no rows (first-run empty bucket) creates NO new
    # snapshot — the manifest must NOT attribute the previous, unrelated
    # commit's snapshot to this bucket (ADVICE r3)
    snap_df = spark.createDataFrame([(42,)], "snapshot_id long")
    seen: list[str] = []
    out = mock.MagicMock()
    out.sparkSession = spark
    with mock.patch.object(
        type(spark), "sql", side_effect=lambda q: seen.append(q) or snap_df
    ):
        snap = mf._iceberg_commit(out, "lake.db.t", bucket=7, n_rows=0)
    assert snap == ""  # unchanged snapshot id → no lineage claimed
    out.writeTo.assert_not_called()
    assert any("DELETE FROM lake.db.t WHERE bucket = 7" in q for q in seen)


def test_run_with_manifest_iceberg_branch(spark, tmp_path, monkeypatch):
    """The full manifest runner over the Iceberg sink with a mocked catalog:
    every non-empty bucket commits via writeTo().overwritePartitions() and
    records the read-back snapshot id as its lineage; empty buckets take
    the explicit-DELETE path; nothing is persisted; read_output reads the
    table; a second run resumes to a no-op."""
    from univer_ocr_spark.generator.transcripts import transcripts_df
    from univer_ocr_spark.spark.manifest import (
        read_manifest,
        read_output,
        run_with_manifest,
    )

    monkeypatch.setenv("UNIVER_ICEBERG_TABLE", "lake.db.extracted")
    part_ok = spark.createDataFrame(
        [], "partition struct<bucket:int>, record_count long"
    )
    table_df = spark.createDataFrame([], "conv_id string")
    monkeypatch.setattr(
        type(spark), "table",
        lambda self, name: part_ok if name.endswith(".partitions") else table_df,
    )

    snap_ids = iter(range(1000, 2000))
    sql_seen: list[str] = []
    real_create = spark.createDataFrame

    def fake_sql(self, q):
        sql_seen.append(q)
        return real_create([(next(snap_ids),)], "snapshot_id long")

    monkeypatch.setattr(type(spark), "sql", fake_sql)
    writeto = mock.MagicMock()
    # patch the CONCRETE DataFrame class (Spark 4 splits base/classic)
    monkeypatch.setattr(type(part_ok), "writeTo", writeto, raising=False)
    persisted: list = []
    real_persist = type(part_ok).persist
    monkeypatch.setattr(
        type(part_ok), "persist",
        lambda self, *a, **k: persisted.append(self) or real_persist(self, *a, **k),
    )

    df = transcripts_df(spark, 6, with_goldens=False)
    workdir = str(tmp_path / "icejob")
    n_buckets = 16  # >> 6 convs: several buckets are empty -> DELETE path
    done = run_with_manifest(spark, df, workdir, n_buckets=n_buckets)
    assert len(done) == n_buckets

    rows = read_manifest(spark, workdir).collect()
    assert len(rows) == n_buckets
    assert all(r["output_snapshot"] for r in rows)  # lineage cited per bucket
    n_empty = sum(1 for r in rows if r["n_rows"] == 0)
    assert 0 < n_empty < n_buckets
    deletes = [q for q in sql_seen if q.startswith("DELETE FROM lake.db.extracted")]
    assert len(deletes) == n_empty  # empty buckets delete their partition
    assert writeto.call_count == n_buckets - n_empty  # non-empty overwrite
    assert persisted == []  # the row count reads the staged bucket
    assert read_output(spark, workdir) is table_df

    # resume: everything committed under this lineage -> no-op
    assert run_with_manifest(spark, df, workdir, n_buckets=n_buckets) == []
