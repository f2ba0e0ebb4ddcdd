"""Spark pipeline vs by-construction goldens — the north-rule correctness
gate: per-turn text + span equality under stable (conv_id, turn_idx)
ordering, including a 250-turn mega-conversation."""

from __future__ import annotations

from test_extract_docs_plan import _executed_plan
from univer_ocr_spark.generator.transcripts import transcripts_df
from univer_ocr_spark.spark.pipeline import (
    conv_stats,
    extract_stage,
    run_extraction,
)

N_CONVS = 40
MEGA = dict(mega_conv_count=1, mega_conv_size=250)


def _assert_matches_golden(rows):
    assert rows, "no rows"
    for r in rows:
        key = (r["conv_id"], r["turn_idx"])
        assert r["extracted_text"] == r["gold_text"], key
        got = [(s["unit"], s["start"], s["end"]) for s in r["spans"]]
        want = [(s["unit"], s["start"], s["end"]) for s in r["gold_spans"]]
        assert got == want, key
        assert r["kind"] == r["payload_kind"], key


def test_pipeline_matches_golden_per_turn(spark):
    df = transcripts_df(spark, N_CONVS, **MEGA, partitions=6)
    out = run_extraction(df)
    rows = out.orderBy("conv_id", "turn_idx").collect()
    _assert_matches_golden(rows)
    # mega-conv present and fully extracted
    mega_rows = [r for r in rows if r["conv_id"] == "conv-00000000"]
    assert len(mega_rows) == 250
    assert [r["turn_idx"] for r in mega_rows] == list(range(250))


def test_deterministic_across_partitionings(spark):
    a = run_extraction(transcripts_df(spark, 12, partitions=2))
    b = run_extraction(transcripts_df(spark, 12, partitions=7))
    ra = a.orderBy("conv_id", "turn_idx").collect()
    rb = b.orderBy("conv_id", "turn_idx").collect()
    assert [r.asDict() for r in ra] == [r.asDict() for r in rb]


def test_default_path_merges_small_splits(spark, tmp_path):
    """``run_extraction`` coalesces small scan splits to one task per core;
    splits larger than the advisory partition size are kept."""
    transcripts_df(spark, N_CONVS, **MEGA, partitions=8).write.parquet(str(tmp_path / "t"))
    # 1 MB splits: one split per file, as in the benchmark's scan
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
        df = spark.read.parquet(str(tmp_path / "t"))
        n_splits = df.rdd.getNumPartitions()
        assert n_splits >= 8

        out = run_extraction(df)
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism == 4
        key = ["conv_id", "turn_idx"]
        assert (out.drop("extraction_version").orderBy(key).collect()
                == extract_stage(df).orderBy(key).collect())

        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
        assert run_extraction(df).rdd.getNumPartitions() == n_splits
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")

        # unknown statistics (Long.MaxValue for an RDD-backed frame) keep them too
        unknown = spark.createDataFrame(df.rdd, df.schema)
        assert run_extraction(unknown).rdd.getNumPartitions() == n_splits
    finally:
        for k in ("spark.sql.files.maxPartitionBytes",
                  "spark.sql.adaptive.advisoryPartitionSizeInBytes"):
            spark.conf.unset(k)


def test_conv_stats_rollup(spark):
    df = transcripts_df(spark, 8, **MEGA)
    out = run_extraction(df)
    stats = {r["conv_id"]: r for r in conv_stats(out).collect()}
    assert len(stats) == 8
    assert stats["conv-00000000"]["n_turns"] == 250
    # every conv against a direct aggregate of the extracted rows
    direct = {}
    for r in out.select("conv_id", "n_chars", "n_spans").collect():
        n, c, s = direct.get(r["conv_id"], (0, 0, 0))
        direct[r["conv_id"]] = (n + 1, c + r["n_chars"], s + r["n_spans"])
    assert {k: (r["n_turns"], r["total_chars"], r["total_spans"])
            for k, r in stats.items()} == direct
    # one shuffle, with the partial (map-side) aggregate below it
    plan = _executed_plan(conv_stats(run_extraction(df)))
    assert plan.count("Exchange") == 1, plan
    below = plan.split("Exchange", 1)[1]
    assert "HashAggregate" in below and "partial_count" in below, plan
