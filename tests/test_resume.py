"""Kill/resume contract (FIXTURES.md §4, SURVEY.md §5.6): interrupt after k
bucket commits, rerun, assert committed buckets are NOT reprocessed and the
final table equals a clean one-shot run."""

from __future__ import annotations

import pytest

from univer_ocr_spark.generator.transcripts import transcripts_df
from univer_ocr_spark.spark.manifest import (
    read_manifest,
    read_output,
    run_with_manifest,
)
from univer_ocr_spark.spark.pipeline import run_extraction

N_BUCKETS = 4


def _sorted_rows(df):
    return [
        (r["conv_id"], r["turn_idx"], r["extracted_text"],
         tuple((s["unit"], s["start"], s["end"]) for s in r["spans"]))
        for r in df.select("conv_id", "turn_idx", "extracted_text", "spans")
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]


def test_kill_and_resume(spark, tmp_path):
    df = transcripts_df(spark, 16, with_goldens=False)

    # clean one-shot reference output
    clean = _sorted_rows(run_extraction(df))

    workdir = str(tmp_path / "job")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_manifest(spark, df, workdir, n_buckets=N_BUCKETS, fail_after=2)

    m1 = read_manifest(spark, workdir).collect()
    assert len(m1) == 2  # exactly the committed buckets survived the crash
    committed_first = {r["bucket"] for r in m1}
    first_commit_times = {r["bucket"]: r["committed_at"] for r in m1}

    # resume: only the remaining buckets get processed
    processed = run_with_manifest(spark, df, workdir, n_buckets=N_BUCKETS)
    assert len(processed) == N_BUCKETS - 2
    assert set(processed).isdisjoint(committed_first)

    m2 = read_manifest(spark, workdir)
    rows2 = m2.collect()
    assert len(rows2) == N_BUCKETS
    assert {r["bucket"] for r in rows2} == set(range(N_BUCKETS))
    # committed rows were not rewritten (same commit timestamps)
    for r in rows2:
        if r["bucket"] in committed_first:
            assert r["committed_at"] == first_commit_times[r["bucket"]]
    assert m2.filter("n_rows > 0").count() >= 1
    assert all(r["extraction_version"] for r in rows2)

    # final table identical to the clean one-shot run
    assert _sorted_rows(read_output(spark, workdir)) == clean


def test_rerun_is_noop(spark, tmp_path):
    df = transcripts_df(spark, 6, with_goldens=False)
    workdir = str(tmp_path / "job2")
    first = run_with_manifest(spark, df, workdir, n_buckets=N_BUCKETS)
    assert len(first) == N_BUCKETS
    again = run_with_manifest(spark, df, workdir, n_buckets=N_BUCKETS)
    assert again == []  # fully committed job resumes to a no-op


def test_changed_input_restaged(spark, tmp_path):
    """Resuming a workdir against a DIFFERENT input (new snapshot id) must
    re-stage and reprocess — never extract stale staged data."""
    workdir = str(tmp_path / "job4")
    df_a = transcripts_df(spark, 6, with_goldens=False)
    assert len(run_with_manifest(spark, df_a, workdir, n_buckets=N_BUCKETS,
                                 input_snapshot="snap-A")) == N_BUCKETS

    df_b = transcripts_df(spark, 9, with_goldens=False)
    redone = run_with_manifest(spark, df_b, workdir, n_buckets=N_BUCKETS,
                               input_snapshot="snap-B")
    assert len(redone) == N_BUCKETS  # old commits are stale lineage
    # output reflects the NEW input, not the stale staged copy of df_a
    assert _sorted_rows(read_output(spark, workdir)) == \
        _sorted_rows(run_extraction(df_b))
    # same snapshot again is a no-op
    assert run_with_manifest(spark, df_b, workdir, n_buckets=N_BUCKETS,
                             input_snapshot="snap-B") == []


def test_stale_version_reprocessed(spark, tmp_path, monkeypatch):
    """A bucket committed under an older extraction_version is stale lineage
    and must be reprocessed on the next run."""
    import univer_ocr_spark.spark.manifest as mf

    df = transcripts_df(spark, 6, with_goldens=False)
    workdir = str(tmp_path / "job3")
    monkeypatch.setattr(mf, "EXTRACTION_VERSION", "0.9-old")
    assert len(run_with_manifest(spark, df, workdir, n_buckets=N_BUCKETS)) == N_BUCKETS
    monkeypatch.undo()
    # current version sees no valid commits → full reprocess
    redone = run_with_manifest(spark, df, workdir, n_buckets=N_BUCKETS)
    assert len(redone) == N_BUCKETS
    # and a third run under the current version is a no-op
    assert run_with_manifest(spark, df, workdir, n_buckets=N_BUCKETS) == []
