"""The manifest run's shape: a fresh run costs a bounded number of Spark
jobs, its output carries no payload column, an all-empty input commits
every bucket, and an unreadable manifest stops the run instead of reading
as "nothing committed"."""

from __future__ import annotations

import os
import uuid

import pytest

from univer_ocr_spark.generator.transcripts import transcripts_df
from univer_ocr_spark.spark.manifest import (
    read_manifest,
    read_output,
    run_with_manifest,
)

B = 4
N_CONVS = 6


def _local_input(spark):
    """The generator's rows as a local frame, so reading the input runs no
    job of its own."""
    gen = transcripts_df(spark, N_CONVS, with_goldens=False)
    return spark.createDataFrame(gen.collect(), gen.schema)


def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs in group)."""
    sc = spark.sparkContext
    group = f"manifest-run-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "run_with_manifest")
    try:
        result = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fresh_run_job_budget(spark, tmp_path):
    df = _local_input(spark)
    workdir = str(tmp_path / "job")
    done, jobs = _jobs_of(
        spark, lambda: run_with_manifest(spark, df, workdir, n_buckets=B))
    assert done == list(range(B))
    # one staging write, then an output write and a manifest append per bucket
    assert jobs <= 2 * B + 2, jobs


def test_output_has_no_payload(spark, tmp_path):
    df = _local_input(spark)
    workdir = str(tmp_path / "job")
    run_with_manifest(spark, df, workdir, n_buckets=B)
    out = read_output(spark, workdir)
    assert "text" not in out.columns
    assert {"conv_id", "turn_idx", "extracted_text", "spans"} <= set(out.columns)
    assert out.count() == df.count()


def test_empty_input_commits_every_bucket(spark, tmp_path):
    df = spark.createDataFrame([], _local_input(spark).schema)
    workdir = str(tmp_path / "job")
    assert run_with_manifest(spark, df, workdir, n_buckets=B) == list(range(B))
    rows = read_manifest(spark, workdir).collect()
    assert sorted(r["bucket"] for r in rows) == list(range(B))
    assert all(r["n_rows"] == 0 for r in rows)
    assert read_output(spark, workdir).count() == 0
    assert run_with_manifest(spark, df, workdir, n_buckets=B) == []


def test_unreadable_manifest_raises(spark, tmp_path):
    df = _local_input(spark)
    workdir = str(tmp_path / "job")
    run_with_manifest(spark, df, workdir, n_buckets=B)
    with open(os.path.join(workdir, "manifest", "part-corrupt.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    # a manifest that cannot be read must not read as "nothing committed":
    # that would reprocess and re-append every bucket on every run
    with pytest.raises(Exception, match="part-corrupt"):
        run_with_manifest(spark, df, workdir, n_buckets=B)
