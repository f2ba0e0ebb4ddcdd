"""Text-analysis operators over the documents table — language-ID heuristic,
quality scoring, token counting, fingerprinting. All JVM-side built-ins
(whole-stage codegen; no Python in the hot path). Each has an exact DuckDB
oracle twin in __spark_entry__.

These are the training-data-pipeline operators the 100 TB engine needs
(mission brief) — the per-doc scalar functions play the role of the
reference's encode/metric helpers (F1/F2/F7/F8,
ref: web_app/components/primitives/__init__.py:57-64, nn/losses.py:9-73).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from univer_ocr_spark.constants import WS_CLASS
from univer_ocr_spark.ops.dedup import _docs, _norm, fingerprint_expr

STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "a", "for"),
    "es": ("de", "la", "el", "en", "y", "que", "los", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "que"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "zu"),
}


def _tokens(col):
    # WS_CLASS, not \s — Java regex vs RE2 disagree on \x0B (see constants)
    return F.split(F.trim(col), WS_CLASS + "+")


def _n_tokens(col):  # 0 for blank text, where split yields ['']
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(F.size(_tokens(col)))


# BPE-ish pre-tokenizer regex (GPT-2-style run classes: letter runs, digit
# runs, symbol runs). The whitespace class is spelled out so Java regex
# (Spark) and RE2 (DuckDB) agree byte-for-byte (\s differs on \x0B).
_BPEISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]+"


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char counting: whitespace tokens + BPE-ish regex tokens (the
    pre-tokenization count an LLM-data pipeline budgets by)."""
    d = _docs(spark, sf_dir)
    toks = _tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("len_chars"),
        _n_tokens(F.col("text")).cast("long").alias("n_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit(_BPEISH_RE), F.lit(0))
        ).cast("long").alias("n_bpeish_tokens"),
        F.length(F.regexp_replace("text", WS_CLASS + "+", "")).cast("long").alias("n_nonspace_chars"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    ).orderBy("doc_id")


DOC_TOKEN_STATS_SQL = rf"""
SELECT doc_id,
       length(text) AS len_chars,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '{WS_CLASS}+')) END AS n_tokens,
       len(regexp_extract_all(text, '{_BPEISH_RE}')) AS n_bpeish_tokens,
       length(regexp_replace(text, '{WS_CLASS}+', '', 'g')) AS n_nonspace_chars,
       len(list_distinct(regexp_split_to_array(trim(text), '{WS_CLASS}+'))) AS n_distinct_tokens
FROM documents ORDER BY doc_id
"""


def doc_lang_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-free language ID: stopword-hit voting with a deterministic
    tie-break order (en > es > fr > de > und)."""
    d = _docs(spark, sf_dir)
    toks = _tokens(F.lower(F.col("text")))
    cols = {
        lang: F.size(F.filter(toks, lambda x: x.isin(*words))).cast("long").alias(f"hits_{lang}")
        for lang, words in STOPWORDS.items()
    }
    scored = d.select("doc_id", "lang", *cols.values())
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in STOPWORDS])
    guess = F.when(best == 0, F.lit("und"))
    for lang in STOPWORDS:  # insertion order = tie-break priority
        guess = guess.when(F.col(f"hits_{lang}") == best, F.lit(lang))
    return scored.withColumn("lang_guess", guess).orderBy("doc_id")


DOC_LANG_SQL_TEMPLATE = r"""
WITH hits AS (
  SELECT doc_id, lang,
         {hit_cols}
  FROM documents
)
SELECT doc_id, lang, {hit_names},
       CASE WHEN greatest({hit_names}) = 0 THEN 'und'
            {whens}
       END AS lang_guess
FROM hits ORDER BY doc_id
"""


def doc_lang_oracle_sql() -> str:
    hit_cols = ",\n         ".join(
        f"len(list_filter(regexp_split_to_array(trim(lower(text)), '{WS_CLASS}+'), "
        f"x -> x IN {words!r})) AS hits_{lang}"
        for lang, words in STOPWORDS.items()
    )
    hit_names = ", ".join(f"hits_{lang}" for lang in STOPWORDS)
    whens = "\n            ".join(
        f"WHEN hits_{lang} = greatest({hit_names}) THEN '{lang}'"
        for lang in STOPWORDS
    )
    return DOC_LANG_SQL_TEMPLATE.format(
        hit_cols=hit_cols, hit_names=hit_names, whens=whens
    )


def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring from length / punctuation / token-length signals
    (metric aggregate analog of F7/F8)."""
    d = _docs(spark, sf_dir)
    n_tokens = _n_tokens(F.col("text"))
    n_alpha = F.length(F.regexp_replace("text", r"[^a-zA-Z]", ""))
    n_punct = F.length(F.regexp_replace("text", r"[^.,!?;:]", ""))
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_alpha.cast("long").alias("n_alpha"),
        n_punct.cast("long").alias("n_punct"),
        F.round(
            F.least(F.lit(1.0), n_tokens.cast("double") / F.lit(20.0))
            * (F.lit(1.0) - n_punct.cast("double") / F.greatest(F.length("text"), F.lit(1)))
            , 4,
        ).alias("quality"),
    ).orderBy("doc_id")


DOC_QUALITY_SQL = f"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '{WS_CLASS}+')) END AS n_tokens,
       length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
       length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS n_punct,
       round(least(1.0, (CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '{WS_CLASS}+')) END) / 20.0)
             * (1.0 - length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
                      / greatest(length(text), 1)), 4) AS quality
FROM documents ORDER BY doc_id
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content fingerprint: md5 of whitespace-normalized,
    lowercased text (portable across engines — both emit lowercase hex)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", fingerprint_expr(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


DOC_FINGERPRINT_SQL = f"""
SELECT doc_id, md5(lower(regexp_replace(trim(text), '{WS_CLASS}+', ' ', 'g'))) AS fingerprint
FROM documents ORDER BY doc_id
"""


def doc_ngram_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-3 character 3-grams — the mode/majority-vote
    aggregate (A5 analog, ref: interpreter.py:547-571) with a deterministic
    tie-break on the ngram itself."""
    from pyspark.sql import Window as W

    d = _docs(spark, sf_dir)
    d2 = d.select("doc_id", "lang", _norm(F.col("text")).alias("norm"))
    d2 = d2.filter(F.length("norm") >= 3).select(
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(norm) - 2), i -> substring(norm, i, 3))")
        ).alias("gram"),
    )
    counted = d2.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("lang").orderBy(F.desc("n"), F.asc("gram"))
    return (
        counted.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .orderBy("lang", "rk")
    )


DOC_NGRAM_MODE_SQL = f"""
WITH grams AS (
  SELECT lang, unnest(list_transform(range(1, length(norm) - 1),
                                     i -> norm[i:i+2])) AS gram
  FROM (SELECT lang, lower(regexp_replace(trim(text), '{WS_CLASS}+', ' ', 'g')) AS norm
        FROM documents)
  WHERE length(norm) >= 3
),
counted AS (SELECT lang, gram, count(*) AS n FROM grams GROUP BY lang, gram)
SELECT lang, gram, n, rk FROM (
  SELECT lang, gram, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram ASC) AS rk
  FROM counted) t
WHERE rk <= 3 ORDER BY lang, rk
"""


def doc_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~25% hash sample (S4 analog, ref: datasets.py:146-157 —
    but reproducible across engines/runs: md5 prefix instead of RNG)."""
    d = _docs(spark, sf_dir)
    key = F.md5(F.encode(F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("text")), "UTF-8"))
    return (
        d.select("doc_id", key.alias("k"))
        .filter(F.col("k") < "4")
        .select("doc_id", "k")
        .orderBy("doc_id")
    )


DOC_SAMPLE_SQL = """
SELECT doc_id, k FROM (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '|' || text) AS k
  FROM documents) t
WHERE k < '4' ORDER BY doc_id
"""


TOP_TERMS_K = 3


def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-K corpus-weighted terms (TF-IDF family): the classic
    training-data op for keyword extraction / template detection.

    The IDF is the BM25 rational form WITHOUT the log —
    ``(N - df + 0.5) / (df + 0.5)`` — a strictly monotone transform of the
    usual log-IDF, so rankings are identical, but the arithmetic is pure
    IEEE division (log() implementations may differ by ULPs across libm
    versions, which would break cross-engine hash parity at rounding
    boundaries).

    Scale shape (r6): ONE map-side-combined tf aggregate per (doc, term);
    the document frequency is a count window over the term partition of
    that same frame — the r5 tf⋈dfc self-join re-executed the token
    explode and the tf aggregate in BOTH subtrees (two full passes over
    the token stream; visible as two Generate+HashAggregate chains in the
    plan). A broadcast 1-row corpus count and a per-doc rank window
    finish it — no all-pairs stage, no driver-side vocabulary. The term
    window has the same hot-term skew profile the join on term had.
    """
    from pyspark.sql import Window as W

    d = _docs(spark, sf_dir)
    toks = _tokens(F.lower(F.col("text")))
    terms = d.select("doc_id", F.explode(toks).alias("term")).filter(
        F.col("term") != ""
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    wd = W.partitionBy("term")
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(wd))
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5),
                4,
            ),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_TERMS_K)
        .select("doc_id", "term", "tf", "df", "score", "rk")
        .orderBy("doc_id", "rk")
    )


DOC_TOP_TERMS_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '{WS_CLASS}+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM terms WHERE term <> '' GROUP BY doc_id, term),
dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         round(tf * (n_docs - df + 0.5) / (df + 0.5), 4) AS score
  FROM tf JOIN dfc USING (term) CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rk
  FROM scored)
SELECT doc_id, term, tf, df, score, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {TOP_TERMS_K} ORDER BY doc_id, rk
"""


QF_MIN_TOKENS = 25


def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed keep/drop gate — the decision a training-data pipeline
    actually applies: exact-duplicate drop, then minimum length, then
    language gate (stopword vote must identify a language), with the FIRST
    failing rule as the recorded reason. One scan + one window shuffle."""
    from pyspark.sql import Window as W

    d = _docs(spark, sf_dir)
    fp = fingerprint_expr(F.col("text"))
    n_tokens = _n_tokens(F.col("text"))
    lo = _tokens(F.lower(F.col("text")))
    hits = [
        F.size(F.filter(lo, lambda x: x.isin(*words)))
        for words in STOPWORDS.values()
    ]
    best = F.greatest(*hits)
    w = W.partitionBy("fingerprint")
    scored = d.select(
        "doc_id",
        fp.alias("fingerprint"),
        n_tokens.alias("n_tokens"),
        best.alias("best_hits"),
    ).withColumn("is_dup", F.col("doc_id") != F.min("doc_id").over(w))
    reason = (
        F.when(F.col("is_dup"), F.lit("duplicate"))
        .when(F.col("n_tokens") < QF_MIN_TOKENS, F.lit("too_short"))
        .when(F.col("best_hits") == 0, F.lit("und_lang"))
        .otherwise(F.lit("kept"))
    )
    return scored.select(
        "doc_id",
        reason.alias("reason"),
        (reason == "kept").alias("keep"),
    ).orderBy("doc_id")


def doc_quality_filter_sql() -> str:
    hit_cols = ", ".join(
        f"len(list_filter(regexp_split_to_array(trim(lower(text)), '{WS_CLASS}+'), "
        f"x -> x IN {words!r}))"
        for words in STOPWORDS.values()
    )
    return rf"""
WITH scored AS (
  SELECT doc_id,
         doc_id <> min(doc_id) OVER (PARTITION BY
             md5(lower(regexp_replace(trim(text), '{WS_CLASS}+', ' ', 'g')))) AS is_dup,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '{WS_CLASS}+')) END AS n_tokens,
         greatest({hit_cols}) AS best_hits
  FROM documents)
SELECT doc_id,
       CASE WHEN is_dup THEN 'duplicate'
            WHEN n_tokens < {QF_MIN_TOKENS} THEN 'too_short'
            WHEN best_hits = 0 THEN 'und_lang'
            ELSE 'kept' END AS reason,
       (CASE WHEN is_dup THEN 'duplicate'
             WHEN n_tokens < {QF_MIN_TOKENS} THEN 'too_short'
             WHEN best_hits = 0 THEN 'und_lang'
             ELSE 'kept' END) = 'kept' AS keep
FROM scored ORDER BY doc_id
"""


# ------------------------------------------------------- PII redaction ----
# Pattern syntax restricted to [...], {m,n}, + — the subset where Java
# regex (Spark) and RE2 (DuckDB's regexp_matches guard) agree exactly.
PII_EMAIL_RE = r"[A-Za-z0-9_]+@[A-Za-z0-9.]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
PII_PHONE_RE = r"\+1-555-[0-9]{4}"


def doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction stage a training-data pipeline runs
    before anything else sees the text. By-construction check like the
    entity queries: a deterministic PII tail (email, IPv4, phone derived
    from doc_id) is appended to each doc, the REAL JVM-side
    ``regexp_replace`` chain redacts, and the oracle states the expected
    output exactly (original text + placeholder tail). Email redacts first
    (its local part holds the only digits that could half-match the IP
    pattern); docs whose own text matches any pattern are excluded
    identically on both sides (none in shipped testdata — guards
    regenerated data). Scale shape: pure narrow map, fused into the scan
    by whole-stage codegen — zero shuffles."""
    d = _docs(spark, sf_dir).filter(
        (F.length(F.trim("text")) > 0)
        & ~F.col("text").rlike(PII_EMAIL_RE)
        & ~F.col("text").rlike(PII_IPV4_RE)
        & ~F.col("text").rlike(PII_PHONE_RE)
    )
    tail = F.concat(
        F.lit(" contact user"), F.col("doc_id"),
        F.lit("@mail.example.com from 10.1."),
        (F.col("doc_id") % 200 + 1).cast("long"),
        F.lit(".7 call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    payload = F.concat(F.col("text"), tail)
    red = F.regexp_replace(payload, PII_EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, PII_IPV4_RE, "<IP>")
    red = F.regexp_replace(red, PII_PHONE_RE, "<PHONE>")
    return d.select("doc_id", red.alias("redacted")).orderBy("doc_id")


DOC_PII_REDACT_SQL = f"""
SELECT doc_id,
       text || ' contact <EMAIL> from <IP> call <PHONE>' AS redacted
FROM documents
WHERE length(trim(text)) > 0
  AND NOT regexp_matches(text, '{PII_EMAIL_RE}')
  AND NOT regexp_matches(text, '{PII_IPV4_RE}')
  AND NOT regexp_matches(text, '{PII_PHONE_RE}')
ORDER BY doc_id
"""


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, public):
    per document, the count of the single most-frequent token and the
    distinct-vs-total 2-gram counts — the signals a training-data pipeline
    thresholds to drop degenerate/repetitive documents. Integer numerators
    and denominators are emitted (fractions are a driver-side divide) so
    the oracle hash-match is exact with no float-rounding contract.

    Scale shape: ZERO shuffles in the signal computation — every signal
    is a per-row higher-order function over the token array (array_sort +
    run-length aggregate for the mode count; zip_with for 2-grams),
    whole-stage-codegen JVM expressions end to end; the only Exchange in
    the plan is the trailing presentation orderBy (deterministic-output
    contract O5), which a filtering pipeline would drop. The naive
    spelling (explode → groupBy(doc_id, token) → window max) shuffles
    the full token stream TWICE per
    signal; at 10^12 rows that is the difference between a map-only pass
    and re-shuffling the corpus. Token order within a doc never crosses a
    row boundary, so per-row HOFs are the correct distribution."""
    d = _docs(spark, sf_dir)
    toks = F.when(
        F.length(F.trim("text")) == 0, F.array().cast("array<string>")
    ).otherwise(_tokens(F.lower(F.col("text"))))
    d = d.select("doc_id", toks.alias("toks"))
    d = d.withColumn("sorted_toks", F.array_sort("toks"))
    # run-length scan over the sorted array: the longest equal-run IS the
    # mode count. Lambda touches only the accumulator and the element
    # (plain refs — nothing re-evaluated per element).
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )
    top_cnt = F.aggregate(
        "sorted_toks",
        zero,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    d = d.withColumn(
        "g1", F.expr("slice(toks, 1, greatest(size(toks) - 1, 0))")
    ).withColumn("g2", F.expr("slice(toks, 2, greatest(size(toks) - 1, 0))"))
    grams = F.zip_with("g1", "g2", lambda a, b: F.concat_ws(" ", a, b))
    return (
        d.withColumn("grams", grams)
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            top_cnt.alias("top_token_count"),
            F.size("grams").cast("long").alias("n_2grams"),
            F.size(F.array_distinct("grams")).cast("long").alias("n_distinct_2grams"),
        )
        .orderBy("doc_id")
    )


DOC_REPETITION_SQL = rf"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '{WS_CLASS}+') AS arr
  FROM documents WHERE length(trim(text)) > 0
),
-- parallel unnests in one SELECT zip positionally (DuckDB semantics),
-- giving each token its ordinal (no WITH ORDINALITY in duckdb 1.0)
t AS (
  SELECT doc_id, unnest(arr) AS tok, unnest(range(1, len(arr) + 1)) AS i
  FROM base
),
tc AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok),
top AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(max(c) AS BIGINT) AS top_token_count
        FROM tc GROUP BY doc_id),
g2 AS (SELECT doc_id,
              tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS gram
       FROM t),
gc AS (SELECT doc_id, CAST(count(gram) AS BIGINT) AS n_2grams,
              CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct_2grams
       FROM g2 GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(top.n_tokens, 0) AS n_tokens,
       COALESCE(top.top_token_count, 0) AS top_token_count,
       COALESCE(gc.n_2grams, 0) AS n_2grams,
       COALESCE(gc.n_distinct_2grams, 0) AS n_distinct_2grams
FROM documents d
LEFT JOIN top ON d.doc_id = top.doc_id
LEFT JOIN gc ON d.doc_id = gc.doc_id
ORDER BY d.doc_id
"""
