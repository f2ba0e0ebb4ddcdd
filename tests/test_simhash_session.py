"""SimHash binds its shingles to one query: a caller's ``shingled`` temp
view survives ``simhash_signatures_wide`` and the call adds no view."""

from __future__ import annotations

from test_multimodal import SF  # the shared sf0.001 tables
from univer_ocr_spark.ops import dedup


def test_simhash_leaves_the_session_catalog_alone(spark):
    spark.range(3).createOrReplaceTempView("shingled")
    try:
        before = sorted(t.name for t in spark.catalog.listTables())
        sigs = dedup.simhash_signatures_wide(spark, SF, 64)
        assert sorted(t.name for t in spark.catalog.listTables()) == before
        mine = spark.table("shingled")
        assert mine.columns == ["id"] and mine.count() == 3
        n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
        assert sigs.columns == ["doc_id", "sim_0", "sim_1"]
        assert sigs.count() == n_docs
    finally:
        spark.catalog.dropTempView("shingled")
