"""Focused invariants for the r6 performance restructures (OPTIMIZATION_r06.md):

1. The 8-bit compressed sketch prefilter admits a SUPERSET of the exact
   >= MIN_EST_MATCHES survivors (equal 60-bit components stay equal mod
   2^8), and the two-stage cascade's final survivor set EQUALS the
   single-stage exact filter's set — the property that makes the cheap
   stage-1 pass semantics-free.
2. Bucket pair generation (dedup.bucket_pairs: groupBy key +
   array_sort(collect_list) + combination explode) emits exactly the
   multiset of doc_a < doc_b pairs the keyed self-join produces, for every
   key/id shape its callers use.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from univer_ocr_spark.ops import dedup

SF_DIR = "/root/testdata/sf0.01"


def _survivor_sets(spark):
    sigs = dedup._packed_sigs(dedup._exploded_shingles(spark, SF_DIR))
    cand = dedup._lsh_candidates_from_sigs(sigs)
    csig = F.transform("sigs", lambda s: ((s % 256) - 128).cast("tinyint"))
    csigs = sigs.select("doc_id", csig.alias("cs"))
    ca = csigs.select(F.col("doc_id").alias("doc_a"), F.col("cs").alias("a_cs"))
    cb = csigs.select(F.col("doc_id").alias("doc_b"), F.col("cs").alias("b_cs"))
    est_c = F.size(
        F.filter(F.zip_with("a_cs", "b_cs", lambda x, y: x == y), lambda m: m)
    )
    pre = (
        cand.join(ca, "doc_a").join(cb, "doc_b")
        .filter(est_c >= dedup.MIN_EST_MATCHES)
        .select("doc_a", "doc_b")
        .distinct()
    )
    est = F.size(
        F.filter(F.zip_with("a_sigs", "b_sigs", lambda x, y: x == y), lambda m: m)
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sigs").alias("a_sigs"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sigs").alias("b_sigs"))
    exact = (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .filter(est >= dedup.MIN_EST_MATCHES)
        .select("doc_a", "doc_b")
        .distinct()
    )
    cascade = (
        pre.join(sa, "doc_a").join(sb, "doc_b")
        .filter(est >= dedup.MIN_EST_MATCHES)
        .select("doc_a", "doc_b")
        .distinct()
    )
    rows = lambda df: {(r.doc_a, r.doc_b) for r in df.collect()}
    return rows(pre), rows(exact), rows(cascade)


def test_compressed_prefilter_superset_and_cascade_equality(spark):
    pre, exact, cascade = _survivor_sets(spark)
    assert exact, "corpus must contain sketch-filter survivors"
    # stage 1 is a necessary condition: no exact survivor is lost
    assert exact <= pre
    # the full cascade reproduces the single-stage exact semantics
    assert cascade == exact


def _self_join_pairs(df, keys, id_col):
    l, r = df.alias("l"), df.alias("r")
    cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    for k in keys:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    return l.join(r, cond).select(
        F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b")
    )


def test_bucket_pair_generation_matches_self_join(spark):
    # synthetic buckets incl. a singleton (emits nothing), a pair, and a
    # 4-doc bucket (emits all 6 combinations), with unsorted insert order
    rows = [
        ("k1", 5), ("k1", 2), ("k1", 9), ("k1", 7),
        ("k2", 3), ("k2", 1),
        ("k3", 4),
    ]
    # the caller shapes: one key column (shingles), a two-column key
    # (LSH/SimHash bands — pair (2, 5) shares two bands and is emitted
    # twice, once per band), and an id column not named doc_id (sign-LSH)
    banded = [
        (0, "a", 5), (0, "a", 2), (0, "a", 9),
        (1, "a", 5), (1, "a", 2),
        (1, "b", 9), (1, "b", 3),
        (2, "a", 4),
    ]
    cases = [
        (spark.createDataFrame(rows, ["key", "doc_id"]), ["key"], "doc_id", 1 + 6),
        (spark.createDataFrame(banded, ["band", "key", "doc_id"]),
         ["band", "key"], "doc_id", 3 + 1 + 1),
        (spark.createDataFrame(banded, ["band", "bkey", "vec_id"]),
         ["band", "bkey"], "vec_id", 3 + 1 + 1),
    ]
    for df, keys, id_col, n_pairs in cases:
        got = dedup.bucket_pairs(df, keys, id_col=id_col)
        assert got.columns == ["doc_a", "doc_b"]
        a = sorted(map(tuple, _self_join_pairs(df, keys, id_col).collect()))
        b = sorted(map(tuple, got.collect()))
        assert a == b and len(a) == n_pairs, (keys, id_col)
