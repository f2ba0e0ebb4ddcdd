"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: run the real extraction pipeline over HTML
payloads built from sf0.001 documents. ``queries()`` / ``oracle_sql()`` —
one entry per implemented operator (SURVEY.md §2), both read from ONE
table, ``OPERATORS``, of ``(name, query, oracle SQL)`` rows, so each query
sits next to its oracle (the reference keeps each decode next to its oracle
route, ref: web_app/views/main.py:88-99). Each Spark result is checked
against its DuckDB oracle at sf0.01 (row count + schema +
order-insensitive value hash). Every query ships the package first
(``packaging.ship_package``, a no-op once the session's SparkContext has it).

Column names and integer widths are aligned on both sides (Spark casts
int→long where DuckDB returns BIGINT); float aggregates are rounded
identically on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from univer_ocr_spark.ops import dedup, extract_docs, multimodal, relational, similarity, textstats  # noqa: E402

Query = Callable[[SparkSession, str], DataFrame]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: HTML-wrap documents, run
    the Arrow-batched extraction stage, return per-doc extraction results."""
    from univer_ocr_spark.packaging import ship_package

    ship_package(spark)
    return extract_docs.extract_html_docs(spark, "/root/testdata/sf0.001")


def _with_pkg(fn: Query) -> Query:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from univer_ocr_spark.packaging import ship_package

        ship_package(spark)
        return fn(spark, sf_dir)

    return wrapped


def _transcripts_extract_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row summary of the full generator→extraction pipeline. The oracle
    derives every value from the materialized golden parquet (no hand-kept
    constants): n_matching == n_turns proves per-turn text+span equality for
    the whole run."""
    from pyspark.sql import functions as F

    out = _transcripts_full(spark)
    spans_eq = F.col("spans").cast("string") == F.col("gold_spans").cast("string")
    return out.agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(
            ((F.col("extracted_text") == F.col("gold_text")) & spans_eq).cast("long")
        ).alias("n_matching"),
        F.sum("n_units").alias("total_units"),
        F.sum("n_spans").alias("total_spans"),
        F.sum("n_chars").alias("total_chars"),
    )


# ONE definition of the transcript-dataset shape: the Spark queries
# (_transcripts_full) and the DuckDB goldens (oracle_sql) must describe the
# SAME dataset or every transcript oracle mismatches.
N_CONVS, MEGA_COUNT, MEGA_SIZE = 60, 1, 200


def _transcripts_full(spark: SparkSession):
    from univer_ocr_spark.generator.transcripts import transcripts_df
    from univer_ocr_spark.spark.pipeline import run_extraction

    return run_extraction(transcripts_df(spark, N_CONVS, mega_conv_count=MEGA_COUNT,
                                         mega_conv_size=MEGA_SIZE, partitions=8))


def _extraction_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QA rollup per archetype (P5 unknown/empty counters + F7-style overlap
    flags); the oracle aggregates the same values from the golden parquet."""
    from pyspark.sql import functions as F

    out = _transcripts_full(spark)
    return (
        out.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum((F.col("n_units") == 0).cast("long")).alias("n_empty"),
            F.sum((F.col("extracted_text") == F.col("gold_text")).cast("long")).alias("n_text_match"),
            F.sum("n_spans").alias("total_spans"),
        )
        .orderBy("kind")
    )


def _transcripts_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: end-to-end generator → Arrow extraction stage, emitted as a
    per-turn digest (md5 of extracted text + canonical span string + counts).
    The DuckDB oracle reads the SAME digests from the materialized golden
    parquet (generator/goldens.py), so the driver's hash gate checks
    per-turn text+span equality row by row — the oracle-decode idea of the
    reference's golden fixtures (ref: web_app/views/main.py:88-99)."""
    from pyspark.sql import functions as F

    out = _transcripts_full(spark)
    span_str = F.concat_ws(
        ";",
        F.transform(
            "spans",
            lambda s: F.concat_ws(":", s["unit"], s["start"], s["end"]),
        ),
    )
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "kind",
        F.col("n_units").cast("long").alias("n_units"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.md5(F.encode("extracted_text", "UTF-8")).alias("text_md5"),
        span_str.alias("spans_str"),
    ).orderBy("conv_id", "turn_idx")


def _conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level exact dedup ON THE TRANSCRIPT DOMAIN: a
    conversation's fingerprint is the md5 over its per-turn extracted-text
    digests in turn order, so two conversations are duplicates iff every
    turn's EXTRACTED content matches — the dedup the 10^12-turn pipeline
    actually runs (re-crawled/replayed conversations). Five planted copies
    (including the mega-conversation) must be the only duplicates.

    Scale shape: one groupBy(conv_id) whose state is digest-sized (33
    bytes/turn — a 10^5-turn mega-conv is ~3 MB, so one reducer holds
    it without salting), then one window over the
    fingerprint. The oracle derives the SAME fingerprints from the golden
    parquet's text_md5 column, so this query doubles as another per-turn
    extraction-equality gate."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    out = _transcripts_full(spark)
    digests = out.select(
        "conv_id", "turn_idx",
        F.md5(F.encode("extracted_text", "UTF-8")).alias("td"),
    )
    dup = digests.filter(F.col("conv_id") <= "conv-00000004").withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-copy"))
    )
    alls = digests.union(dup)
    per_conv = alls.groupBy("conv_id").agg(
        F.md5(
            F.encode(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("turn_idx", "td"))),
                        lambda s: s["td"],
                    ),
                ),
                "UTF-8",
            )
        ).alias("conv_fp")
    )
    w = W.partitionBy("conv_fp")
    return (
        per_conv.withColumn("canonical_conv", F.min("conv_id").over(w))
        .withColumn("is_dup", F.col("conv_id") != F.col("canonical_conv"))
        .orderBy("conv_id")
    )


# One row per operator: (name, query, DuckDB oracle), in queries() order.
# An oracle is SQL text or, where the text is generated (K-wide, or sized
# from the sf0.01 corpus), a function that returns it; oracle_sql() fills
# in ``{goldens}``, the golden parquet path.
#
# The four transcript oracles all derive from the materialized golden
# parquet (generator/goldens.py) — no hand-maintained constants; a
# generator change re-materializes and the oracles follow.
# n_matching/n_text_match are stated as count(*): every turn must match its
# golden.
OPERATORS: list[tuple[str, Query, str | Callable[[], str]]] = [
    ("transcripts_extract", _transcripts_extract, (
        "SELECT conv_id, turn_idx, kind, n_units, n_spans, n_chars,"
        " text_md5, spans_str"
        " FROM read_parquet('{goldens}')"
        " ORDER BY conv_id, turn_idx"
    )),
    ("conv_dedup", _conv_dedup, (
        "WITH d AS (SELECT conv_id, turn_idx, text_md5 AS td"
        " FROM read_parquet('{goldens}')),\n"
        "alls AS (SELECT * FROM d UNION ALL\n"
        "         SELECT conv_id || '-copy', turn_idx, td FROM d"
        " WHERE conv_id <= 'conv-00000004'),\n"
        "fp AS (SELECT conv_id,"
        " md5(string_agg(td, ',' ORDER BY turn_idx)) AS conv_fp\n"
        "       FROM alls GROUP BY conv_id)\n"
        "SELECT conv_id, conv_fp,\n"
        "       min(conv_id) OVER (PARTITION BY conv_fp) AS canonical_conv,\n"
        "       conv_id <> min(conv_id) OVER (PARTITION BY conv_fp) AS is_dup\n"
        "FROM fp ORDER BY conv_id"
    )),
    ("extraction_qa", _extraction_qa, (
        "SELECT kind, CAST(count(*) AS BIGINT) AS n_turns,"
        " CAST(sum(CASE WHEN n_units = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,"
        " CAST(count(*) AS BIGINT) AS n_text_match,"
        " CAST(sum(n_spans) AS BIGINT) AS total_spans"
        " FROM read_parquet('{goldens}')"
        " GROUP BY kind ORDER BY kind"
    )),
    ("transcripts_extract_summary", _transcripts_extract_summary, (
        "SELECT CAST(count(*) AS BIGINT) AS n_turns,"
        " CAST(count(*) AS BIGINT) AS n_matching,"
        " CAST(sum(n_units) AS BIGINT) AS total_units,"
        " CAST(sum(n_spans) AS BIGINT) AS total_spans,"
        " CAST(sum(n_chars) AS BIGINT) AS total_chars"
        " FROM read_parquet('{goldens}')"
    )),
    ("extract_html_attr_docs", extract_docs.extract_html_attr_docs, extract_docs.EXTRACT_HTML_ATTR_SQL),
    ("extract_html_entities_docs", extract_docs.extract_html_entities_docs,
     extract_docs.EXTRACT_HTML_ENTITIES_SQL),
    ("extract_html_br_docs", extract_docs.extract_html_br_docs, extract_docs.EXTRACT_HTML_BR_SQL),
    ("extract_markup_collapse_docs", extract_docs.extract_markup_collapse_docs,
     extract_docs.EXTRACT_MARKUP_COLLAPSE_SQL),
    ("multimodal_features", multimodal.multimodal_features, multimodal.MULTIMODAL_FEATURES_SQL),
    ("q_user_median_pandas", relational.q_user_median_pandas, relational.Q_USER_MEDIAN_SQL),
    ("q_order_priority", relational.q_order_priority, relational.Q_ORDER_PRIORITY_SQL),
    ("q_nearest_event_pair", relational.q_nearest_event_pair, relational.Q_NEAREST_SQL),
    ("q_monthly_revenue", relational.q_monthly_revenue, relational.Q_MONTHLY_REVENUE_SQL),
    ("q_set_ops", relational.q_set_ops, relational.Q_SET_OPS_SQL),
    ("q_pivot_returnflag", relational.q_pivot_returnflag, relational.Q_PIVOT_SQL),
    ("q_rollup_counts", relational.q_rollup_counts, relational.Q_ROLLUP_SQL),
    ("q_events_within_hour", relational.q_events_within_hour, relational.Q_EVENTS_WITHIN_HOUR_SQL),
    ("q_acctbal_histogram", relational.q_acctbal_histogram, relational.Q_ACCTBAL_HISTOGRAM_SQL),
    ("q3_shipping_priority", relational.q3_shipping_priority, relational.Q3_SQL),
    ("q_supplier_extremes", relational.q_supplier_extremes, relational.Q_SUPPLIER_EXTREMES_SQL),
    ("doc_top_terms", textstats.doc_top_terms, textstats.DOC_TOP_TERMS_SQL),
    ("q_sessionize_events", relational.q_sessionize_events, relational.Q_SESSIONIZE_SQL),
    ("q_running_user_value", relational.q_running_user_value, relational.Q_RUNNING_SQL),
    ("q_asof_join", relational.q_asof_join, relational.Q_ASOF_SQL),
    ("doc_repetition_stats", textstats.doc_repetition_stats, textstats.DOC_REPETITION_SQL),
    # dedup family
    ("dedup_exact", dedup.dedup_exact, dedup.DEDUP_EXACT_SQL),
    ("minhash_signatures", dedup.minhash_signatures, dedup.minhash_signatures_sql),
    ("minhash_lsh_pairs", dedup.minhash_lsh_pairs, dedup.minhash_lsh_pairs_sql),
    ("ngram_jaccard_pairs", dedup.ngram_jaccard_pairs, dedup.NGRAM_JACCARD_SQL),
    ("lsh_verified_pairs", dedup.lsh_verified_pairs, dedup.LSH_VERIFIED_PAIRS_SQL),
    ("neardup_clusters", dedup.neardup_clusters, dedup.NEARDUP_CLUSTERS_SQL),
    ("simhash_signatures", dedup.simhash_signatures, dedup.simhash_signatures_sql),
    ("simhash_signatures_w96", lambda spark, sf_dir: dedup.simhash_signatures_wide(spark, sf_dir, 96),
     lambda: dedup.simhash_signatures_wide_sql(96)),
    ("simhash_neardup_pairs", dedup.simhash_neardup_pairs, dedup.simhash_neardup_pairs_sql),
    ("simhash_neardup_pairs_w96", lambda spark, sf_dir: dedup.simhash_neardup_pairs_wide(spark, sf_dir, 96),
     lambda: dedup.simhash_neardup_pairs_wide_sql(96)),
    # similarity search
    ("ann_bruteforce_topk", similarity.ann_bruteforce_topk, similarity.ANN_BRUTEFORCE_SQL),
    ("ann_lsh_topk", similarity.ann_lsh_topk, similarity.ann_lsh_sql),
    ("ann_ivf_topk", similarity.ann_ivf_topk, similarity.ANN_IVF_SQL),
    ("ann_ivf_scaled_topk", similarity.ann_ivf_scaled_topk, similarity.ann_ivf_scaled_sql),
    ("embedding_cosine_neardup", similarity.embedding_cosine_neardup, similarity.EMBEDDING_NEARDUP_SQL),
    ("embedding_label_centroids", similarity.embedding_label_centroids, similarity.CENTROIDS_SQL),
    # multimodal binary-column plumbing
    ("multimodal_meta", multimodal.multimodal_meta, multimodal.MULTIMODAL_META_SQL),
    ("extract_html_docs", extract_docs.extract_html_docs, extract_docs.EXTRACT_HTML_DOCS_SQL),
    ("extract_markup_docs", extract_docs.extract_markup_docs, extract_docs.EXTRACT_MARKUP_DOCS_SQL),
    ("extract_pdfish_docs", extract_docs.extract_pdfish_docs, extract_docs.EXTRACT_PDFISH_DOCS_SQL),
    ("extract_pdfish_columns_docs", extract_docs.extract_pdfish_columns_docs,
     extract_docs.EXTRACT_PDFISH_COLUMNS_SQL),
    ("extract_pdfish_title_docs", extract_docs.extract_pdfish_title_docs, extract_docs.EXTRACT_PDFISH_TITLE_SQL),
    ("extract_pdfish_overlap_docs", extract_docs.extract_pdfish_overlap_docs,
     extract_docs.EXTRACT_PDFISH_OVERLAP_SQL),
    # glyph-height split of a mixed-height spanning run
    ("extract_pdfish_heights_docs", extract_docs.extract_pdfish_heights_docs,
     extract_docs.EXTRACT_PDFISH_HEIGHTS_SQL),
    ("extract_html_blocks_docs", extract_docs.extract_html_blocks_docs, extract_docs.EXTRACT_HTML_BLOCKS_SQL),
    ("q1_pricing_summary", relational.q1_pricing_summary, relational.Q1_SQL),
    ("q_revenue_by_nation", relational.q_revenue_by_nation, relational.Q_REVENUE_BY_NATION_SQL),
    ("q_topk_parts", relational.q_topk_parts, relational.Q_TOPK_PARTS_SQL),
    ("q17_small_qty_revenue", relational.q17_small_qty_revenue, relational.Q17_SQL),
    # exact median: JVM production twin of q_user_median_pandas
    ("q_user_median", relational.q_user_median, relational.Q_USER_MEDIAN_SQL),
    ("doc_token_stats", textstats.doc_token_stats, textstats.DOC_TOKEN_STATS_SQL),
    ("doc_lang_heuristic", textstats.doc_lang_heuristic, textstats.doc_lang_oracle_sql),
    ("doc_quality_score", textstats.doc_quality_score, textstats.DOC_QUALITY_SQL),
    ("doc_fingerprint", textstats.doc_fingerprint, textstats.DOC_FINGERPRINT_SQL),
    ("doc_ngram_mode", textstats.doc_ngram_mode, textstats.DOC_NGRAM_MODE_SQL),
    ("doc_sample_deterministic", textstats.doc_sample_deterministic, textstats.DOC_SAMPLE_SQL),
    ("doc_quality_filter", textstats.doc_quality_filter, textstats.doc_quality_filter_sql),
    ("doc_pii_redact", textstats.doc_pii_redact, textstats.DOC_PII_REDACT_SQL),
]


def queries() -> dict[str, Query]:
    return {name: _with_pkg(query) for name, query, _ in OPERATORS}


def oracle_sql() -> dict[str, str]:
    from univer_ocr_spark.generator.goldens import goldens_parquet

    # materialized on first call (pure Python, ~1s, cached by generator hash)
    goldens = goldens_parquet(n_convs=N_CONVS, mega_conv_count=MEGA_COUNT,
                              mega_conv_size=MEGA_SIZE)
    return {name: (sql if isinstance(sql, str) else sql()).replace("{goldens}", goldens)
            for name, _, sql in OPERATORS}
