"""Extraction-by-construction queries over the documents table.

These run the REAL extraction pipeline on payloads synthesized from
``documents.text``, and their DuckDB oracles state the *expected output by
construction* (the document text back, suitably normalized) — the same
golden-by-construction idea the reference's generator embodies
(ref: generate.py:103-224): the oracle doesn't re-implement extraction, it
knows what the answer must be because we built the payload.

This is how the correctness gate (every query against its
``oracle_sql()`` twin) exercises the actual ``mapInArrow`` extraction stage
against an independent expectation. Every query crosses into Python once:
html/markup payloads are JVM-side string concatenation, pdfish glyph pages
are laid out inside the extraction stage (``_glyph_pages``).
"""

from __future__ import annotations

import re
from functools import partial
from random import Random

from pyspark.sql import DataFrame, SparkSession, functions as F

from univer_ocr_spark.constants import BLANK, ESC, SIMILAR_PAIRS, WS_CLASS
from univer_ocr_spark.spark.pipeline import extract_stage

# Tokenization for by-construction payloads: the SAME explicit whitespace
# class as the DuckDB oracles (str.split() would additionally split on \x0B
# and Unicode spaces, silently diverging from the oracle's RE2 class).
_WS_RE = re.compile(WS_CLASS + "+")


def _ws_tokens(text: str) -> list[str]:
    return [w for w in _WS_RE.split(text) if w]

_SANITIZE_SQL = "replace(replace(replace(text, '&', '+'), '<', '('), '>', ')')"

# Characters/prefixes the markup extractor TRANSFORMS while the by-
# construction oracle keeps them verbatim: fence-looking line starts,
# ANSI/ESC sequences, the BLANK reset sentinel, and the 17 Cyrillic
# confusables (collapse could fire next to a Latin twin). Excluded
# identically on both sides — none occur in shipped testdata; this guards
# regenerated data.
_CONFUSABLE_CYR = "".join(a for a, _ in SIMILAR_PAIRS)


def _markup_safe(flat):
    return ~(
        flat.startswith("```")
        | F.col("text").contains(ESC)
        | F.col("text").contains(BLANK)
        | F.col("text").rlike(f"[{_CONFUSABLE_CYR}]")
        | (flat.startswith('{"stdout": "') & flat.endswith('"}'))
    )


_FLAT_SQL = "replace(replace(text, chr(10), ' '), chr(13), ' ')"
_MARKUP_SAFE_SQL = f"""NOT ({_FLAT_SQL} LIKE '```%'
       OR contains(text, chr(27)) OR contains(text, '{BLANK}')
       OR regexp_matches(text, '[{_CONFUSABLE_CYR}]')
       OR ({_FLAT_SQL} LIKE '{{"stdout": "%' AND {_FLAT_SQL} LIKE '%"}}'))"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A full shuffle into `cores` partitions at any size, kept until a
    # size-aware rule exists. On a one-split input it buys wall time for the
    # CPU-bound extraction: at sf0.1, local[4], dropping it took
    # extract_pdfish_docs 3.2-3.6 -> 11.4-12.4 s and
    # extract_pdfish_columns_docs 3.3-3.4 -> 10.3-11.0 s. It costs CPU: at
    # 550 docs, local[2], dropping it cut perfbench docs_extract
    # cpu_ms_per_row 5.95 -> 4.87 (6/6 seed pairs).
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def _sanitize(col):
    return F.replace(
        F.replace(F.replace(col, F.lit("&"), F.lit("+")), F.lit("<"), F.lit("(")),
        F.lit(">"),
        F.lit(")"),
    )


def _glyph_pages(d: DataFrame, layout) -> DataFrame:
    """Extraction stage over ``layout(doc_id, text)`` pdfish pages, laid
    out inside the stage's batch function so the query has one Python
    node; the output carries ``doc_id`` and the extraction columns."""

    def build(batch):
        return [layout(i, t) for i, t in zip(batch.column("doc_id").to_pylist(),
                                             batch.column("text").to_pylist())]

    return extract_stage(d.select("doc_id", "text"), drop_payload=True,
                         build_payloads=build)


def _wrapped_docs(spark: SparkSession, sf_dir: str, head: str, body, tail: str,
                  *cols, keep=None) -> DataFrame:
    """Extraction of ``head + body + tail`` payloads (JVM-side concat) for
    the docs passing ``keep``; returns ``doc_id`` and ``cols``, by doc_id.

    ``keep`` defaults to "not whitespace-only": such docs would extract to
    '' (an empty block is not main) while the oracle returns the text
    verbatim — exclude them identically on both sides (none exist in the
    shipped testdata; this guards regenerated data)."""
    if keep is None:
        keep = F.length(F.trim("text")) > 0
    wrapped = _docs(spark, sf_dir).filter(keep).select(
        "doc_id", F.concat(F.lit(head), body, F.lit(tail)).alias("text")
    )
    return (
        extract_stage(wrapped, drop_payload=True)
        .select("doc_id", *cols)
        .orderBy("doc_id")
    )


def _long(name: str):
    return F.col(name).cast("long").alias(name)


def _flat(col):
    return F.replace(F.replace(col, F.lit("\n"), F.lit(" ")), F.lit("\r"), F.lit(" "))


def _flat_units():
    """``(extracted_flat, n_units)``: the extracted units joined by spaces,
    and their count."""
    return (
        F.replace(F.col("extracted_text"), F.lit("\n"), F.lit(" ")).alias(
            "extracted_flat"
        ),
        _long("n_units"),
    )


def extract_html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap each doc in boilerplate-laden HTML (JVM-side concat), run the
    real extraction stage, return the main content. Expected = sanitized
    text (nav/footer stripped, <p> kept)."""
    return _wrapped_docs(
        spark, sf_dir,
        '<html><head><title>doc</title><style>p{margin:0}</style></head><body>'
        '<nav><ul><li><a href="/home">home</a></li><li><a href="/about">about</a></li></ul></nav><p>',
        _sanitize(F.col("text")),
        '</p><footer><a href="/tos">terms</a> (c) example</footer></body></html>',
        "extracted_text",
    )


EXTRACT_HTML_DOCS_SQL = f"""
SELECT doc_id, {_SANITIZE_SQL} AS extracted_text
FROM documents WHERE length(trim(text)) > 0 ORDER BY doc_id
"""


def extract_html_attr_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote-aware tag scanning through the REAL extraction stage (r4): the
    wrapper's tags carry ``>``/``<`` inside single- AND double-quoted
    attribute values (inline JS handlers, arrow functions, comparisons —
    the real-web payloads a naive ``[^>]*>`` tag regex mis-splits into
    garbled text nodes). Expected = sanitized text in exactly one unit/one
    span — a mis-split tag would leak attribute fragments as extra
    spans/units, so the count columns pin the scanner, not just the text."""
    return _wrapped_docs(
        spark, sf_dir,
        '<html><body>'
        '<nav data-fn="(x) => x>0"><a href="/" onclick="go(1>0)">home</a></nav>'
        "<p class=\"main\" data-cmp='a<b>c' onclick=\"if (n>1) f('q')\">",
        _sanitize(F.col("text")),
        '</p><footer data-x="y>z">(c) example</footer></body></html>',
        "extracted_text", _long("n_units"), _long("n_spans"),
    )


EXTRACT_HTML_ATTR_SQL = f"""
SELECT doc_id, {_SANITIZE_SQL} AS extracted_text,
       CAST(1 AS BIGINT) AS n_units, CAST(1 AS BIGINT) AS n_spans
FROM documents WHERE length(trim(text)) > 0 ORDER BY doc_id
"""


def extract_html_entities_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity roundtrip through the REAL extraction stage: specials are
    injected deterministically (a e o u i → & < > " ' — shipped doc text has
    none), then entity-ENCODED into the payload (& first so no accidental
    refs form), and every 't'/'r' is encoded as its own NUMERIC character
    reference (&#116; decimal / &#x72; hex — the r2-missing ubiquitous-HTML
    case); extraction must DECODE the content back verbatim. Placeholders
    route the numeric encoding AFTER the named one so neither pass rewrites
    the other's output ('&lt;' contains a 't'; '&#116;' contains an '&').
    Expected = the injected text, stated by the oracle by construction."""
    content = F.translate(F.col("text"), "aeoui", "&<>\"'")
    enc = F.translate(content, "tr", "\x01\x02")
    for ch, ref in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                    ('"', "&quot;"), ("'", "&apos;"),
                    ("\x01", "&#116;"), ("\x02", "&#x72;")):
        enc = F.replace(enc, F.lit(ch), F.lit(ref))
    return _wrapped_docs(
        spark, sf_dir,
        '<html><body><nav><a href="/">home</a></nav><p>', enc, "</p></body></html>",
        "extracted_text", _long("n_spans"),
    )


# expected span count by construction: one span per entity ref (named AND
# numeric — every [&<>"'] from the translate plus every t/r encoded as a
# numeric char ref) plus one per maximal NON-EMPTY literal run
# between/around them. Computed identically from the injected content here.
EXTRACT_HTML_ENTITIES_SQL = r"""
WITH enc AS (
  SELECT doc_id, translate(text, 'aeoui', '&<>"''') AS content
  FROM documents WHERE length(trim(text)) > 0),
counted AS (
  SELECT doc_id, content,
         length(content) - length(regexp_replace(content, '[&<>"''tr]', '', 'g'))
           AS n_ents,
         len(list_filter(
             regexp_split_to_array(regexp_replace(content, '[&<>"''tr]', chr(1), 'g'), chr(1)),
             p -> p <> '')) AS n_runs
  FROM enc)
SELECT doc_id, content AS extracted_text,
       CAST(n_ents + n_runs AS BIGINT) AS n_spans
FROM counted ORDER BY doc_id
"""


def extract_html_br_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<br> line-break handling through the REAL extraction stage: every
    inter-word space becomes a <br>, so each word must come back as its own
    unit (span-safe: no phantom characters — units join with newline).
    Expected flat text = whitespace-normalized sanitized doc text;
    n_units = word count — both stated by the oracle by construction."""
    norm = F.trim(
        F.regexp_replace(_sanitize(F.col("text")), WS_CLASS + "+", " ")
    )
    return _wrapped_docs(
        spark, sf_dir,
        '<html><body><nav><a href="/">home</a></nav><p>',
        F.replace(norm, F.lit(" "), F.lit("<br>")),
        "</p></body></html>",
        *_flat_units(),
    )


EXTRACT_HTML_BR_SQL = f"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace({_SANITIZE_SQL}, '{WS_CLASS}+', ' ', 'g')) AS flat
  FROM documents WHERE length(trim(text)) > 0)
SELECT doc_id, flat AS extracted_flat,
       CAST(len(regexp_split_to_array(flat, ' ')) AS BIGINT) AS n_units
FROM norm ORDER BY doc_id
"""


def extract_markup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap each doc in an ANSI status line + markdown fences, run the real
    extraction stage. Expected = text with newlines flattened (content is
    ASCII → no confusable collapse fires)."""
    flat = _flat(F.col("text"))
    # envelope-shaped / fence-shaped / ESC-BLANK-confusable-bearing doc text
    # would be transformed by the extractor while the oracle keeps it
    # verbatim — exclude identically on both sides
    return _wrapped_docs(
        spark, sf_dir,
        "\x1b[2K\x1b[32m[ok] fetch done\x1b[0m\n```\n", flat, "\n```\n\x1b[2K[exit 0]",
        "extracted_text", keep=_markup_safe(flat),
    )


EXTRACT_MARKUP_DOCS_SQL = f"""
SELECT doc_id, {_FLAT_SQL} AS extracted_text
FROM documents
WHERE {_MARKUP_SAFE_SQL}
ORDER BY doc_id
"""


def _pdfish_payload(doc_id: int, text: str) -> str:
    """Lay the doc's words out as one glyph line (y=300: inside the margin
    band AND above the page middle — a lone line below the middle is
    indistinguishable from a 180°-flipped page by the mass-center vote),
    records shuffled deterministically by doc_id — the extractor re-sorts."""
    words = _ws_tokens(text)
    recs = []
    x = 40
    for wi, w in enumerate(words):
        for ch in w:
            recs.append(f"g {ch} {x} 300 8 10")
            x += 8
        x += 8
    Random(doc_id).shuffle(recs)
    return "%PDFISH 612 792\n" + "\n".join(recs) + ("\n" if recs else "")


def extract_pdfish_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode each doc as a shuffled glyph stream, run the real extraction
    stage (y-cluster → x-sort → word-gap spacing). Expected = whitespace-
    normalized text."""
    return (
        _glyph_pages(_docs(spark, sf_dir), _pdfish_payload)
        .select("doc_id", "extracted_text")
        .orderBy("doc_id")
    )


EXTRACT_PDFISH_DOCS_SQL = f"""
SELECT doc_id, trim(regexp_replace(text, '{WS_CLASS}+', ' ', 'g')) AS extracted_text
FROM documents ORDER BY doc_id
"""


COL_MAX_LINES = 14  # max y = 120+13*20 = 380: every glyph center 2y+ht
# stays < page_h=792 (above the page middle — a taller column would flip
# the 180° orientation vote) and outside both margin bands


def _pdfish_columns_payload(doc_id: int, text: str) -> str:
    """Lay the doc's words as a MULTI-COLUMN page (3 words per line, at
    most COL_MAX_LINES lines per column, columns filled left to right with
    gutters > 4 glyph widths), records shuffled deterministically by
    doc_id. Column-unaware extraction would interleave the columns' shared
    y-bands and garble the word order; correct column-major reading order
    reproduces the text for ANY document length."""
    words = _ws_tokens(text)
    lines = [words[i : i + 3] for i in range(0, len(words), 3)]
    recs = []
    x0 = 40
    for c0 in range(0, len(lines), COL_MAX_LINES):
        max_end = x0
        for k, lw in enumerate(lines[c0 : c0 + COL_MAX_LINES]):
            x = x0
            y = 120 + 20 * k
            for w in lw:
                for ch in w:
                    recs.append(f"g {ch} {x} {y} 8 10")
                    x += 8
                x += 8
            max_end = max(max_end, x)
        x0 = max_end + 64  # gutter 64 > 4*8 → always a column split
    Random(doc_id).shuffle(recs)
    page_w = x0 + 100
    return f"%PDFISH {page_w} 792\n" + "\n".join(recs) + ("\n" if recs else "")


def extract_pdfish_columns_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column reading order through the REAL extraction stage:
    expected flat text = whitespace-normalized doc text (column-major order
    restores the original word order by construction, for any number of
    columns); n_units = line count."""
    # empty/whitespace-only docs produce a glyph-less page (0 units) while
    # the word-count oracle would state 1 — exclude identically on both
    # sides, like the html twins
    d = _docs(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    return (
        _glyph_pages(d, _pdfish_columns_payload)
        .select("doc_id", *_flat_units())
        .orderBy("doc_id")
    )


EXTRACT_PDFISH_COLUMNS_SQL = f"""
SELECT doc_id,
       trim(regexp_replace(text, '{WS_CLASS}+', ' ', 'g')) AS extracted_flat,
       CAST(ceil(len(regexp_split_to_array(
            trim(regexp_replace(text, '{WS_CLASS}+', ' ', 'g')), ' ')) / 3.0) AS BIGINT)
         AS n_units
FROM documents WHERE length(trim(text)) > 0 ORDER BY doc_id
"""


# Spanning-title pages: a fixed title row laid from x=40, then the doc's
# words as one-word lines (narrow, so only the title is spanning), at most
# 14 per column, one column per (x0, y0) origin. Correct extraction emits
# the title first, then the words in column-major order — a column-unaware
# reader would interleave the title into the columns.
TITLE_MAX_WORDS = 28  # <= 2 columns of 14 one-word lines: page stays 612 wide


def _titled_page(title, title_y: int, title_ht: int, origins,
                 doc_id: int, text: str) -> str:
    """Glyph page for ``text`` under the spanning ``title`` (one row at
    y=``title_y``, glyph height ``title_ht``; body glyphs are 10 high),
    records shuffled deterministically by doc_id."""
    words = _ws_tokens(text)
    recs = []
    x = 40
    for w in title:
        for ch in w:
            recs.append(f"g {ch} {x} {title_y} 8 {title_ht}")
            x += 8
        x += 8
    for (x0, y0), c0 in zip(origins, range(0, len(words), 14)):
        for k, w in enumerate(words[c0 : c0 + 14]):
            x = x0
            y = y0 + 20 * k
            for ch in w:
                recs.append(f"g {ch} {x} {y} 8 10")
                x += 8
    Random(doc_id).shuffle(recs)
    return "%PDFISH 612 792\n" + "\n".join(recs) + "\n"


def _titled_docs(spark: SparkSession, sf_dir: str, layout,
                 max_word_len: int) -> DataFrame:
    """Extraction of ``layout`` pages for docs of <= TITLE_MAX_WORDS words
    of <= ``max_word_len`` chars (the filter fixes the page geometry: the
    spanning threshold must not move with content); flat text and unit
    count per doc."""
    d = _docs(spark, sf_dir)
    # count NONEMPTY tokens (leading non-space whitespace would otherwise
    # produce a phantom '' token and shift the expected unit count)
    toks = F.filter(
        F.split(F.trim(F.lower("text")), WS_CLASS + "+"),
        lambda x: x != "",
    )
    d = d.filter(
        (F.length(F.trim("text")) > 0)
        & (F.size(toks) <= TITLE_MAX_WORDS)
        & (F.size(F.filter(toks, lambda x: F.length(x) > max_word_len)) == 0)
    )
    return _glyph_pages(d, layout).select("doc_id", *_flat_units()).orderBy("doc_id")


def _titled_sql(title, max_word_len: int) -> str:
    """DuckDB twin of ``_titled_docs``: the title then the doc's
    whitespace-normalized words; n_units = 1 + word count."""
    return f"""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(lower(text)), '{WS_CLASS}+'),
                     t -> t <> '') AS ts
  FROM documents WHERE length(trim(text)) > 0)
SELECT doc_id,
       '{" ".join(title)} ' || trim(regexp_replace(text, '{WS_CLASS}+', ' ', 'g'))
         AS extracted_flat,
       CAST(1 + len(ts) AS BIGINT) AS n_units
FROM toks
WHERE len(ts) <= {TITLE_MAX_WORDS}
  AND len(list_filter(ts, t -> length(t) > {max_word_len})) = 0
ORDER BY doc_id
"""


# fixed spanning title: one x-run from x=40, 44 glyphs + 5 word gaps =
# 392 px >= ceil(3/5 * 612) = 368 (the integer spanning rule) and inside
# the page; laid at y=85 (below the 10% top margin of 792, above the body).
# Columns at x=40/330, both from y=120; words up to 32 chars (a longer word
# would bridge the fixed gutter).
_TITLE_WORDS = ("document", "heading", "overview", "summary", "sections", "report")
_pdfish_title_payload = partial(_titled_page, _TITLE_WORDS, 85, 10,
                                ((40, 120), (330, 120)))


def extract_pdfish_title_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spanning-title reading order through the REAL extraction stage (the
    r3 capability, oracle-gated): expected flat text = the fixed title then
    the doc's words in original order (column-major one-word lines restore
    it by construction); n_units = 1 + word count. Docs are filtered to
    <= TITLE_MAX_WORDS words on both engines so the page geometry is fixed
    (two columns, page width 612 — the spanning threshold must not move
    with content)."""
    return _titled_docs(spark, sf_dir, _pdfish_title_payload, 32)


EXTRACT_PDFISH_TITLE_SQL = _titled_sql(_TITLE_WORDS, 32)


# Spanning title whose y-band OVERLAPS column 2's first line band (the r4
# run-level spanning case): title at y=100 (band [100,110)), column 1
# one-word lines at x=40, y=120+20k (disjoint from the title), column 2 at
# x=500, y=108+20k — its FIRST line's band [108,118) merges with the
# title's into one y-band holding a spanning run and a column run.
# Band-level spanning detection (r3) would see >= 2 x-runs, call the band
# non-spanning, and interleave the title into the columns.
# Title: ten 4-char words from x=40 -> extent 10*40 - 8 = 392 px
# >= ceil(3/5 * 612) = 368 (spanning) with x_end = 432, >= one column gap
# away from column 2 at x=500.
_OVERLAP_TITLE = ("plan", "data", "over", "view", "spec", "note",
                  "task", "item", "word", "line")
OVERLAP_MAX_WORD_LEN = 14  # col2 words must fit x=500..612
_pdfish_overlap_payload = partial(_titled_page, _OVERLAP_TITLE, 100, 10,
                                  ((40, 120), (500, 108)))


def extract_pdfish_overlap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-band spanning title through the REAL extraction stage
    (r4): expected flat text = the fixed title then the doc's words in
    original order — correct ONLY if the spanning run is detected at run
    level inside the merged band and its column co-tenants re-attach to the
    region below; n_units = 1 + word count. Docs filtered to
    <= TITLE_MAX_WORDS words of <= OVERLAP_MAX_WORD_LEN chars on both
    engines so the geometry is fixed."""
    return _titled_docs(spark, sf_dir, _pdfish_overlap_payload, OVERLAP_MAX_WORD_LEN)


EXTRACT_PDFISH_OVERLAP_SQL = _titled_sql(_OVERLAP_TITLE, OVERLAP_MAX_WORD_LEN)


# Spanning TALL title (ht=16) sharing ONE x-run with column 1's first line
# (the r5 glyph-height-split case): title at y=100 (band [100,116)),
# column 1 one-word lines at x=40 STARTING AT y=108 — its first line's
# band [108,118) merges with the title's y-band AND its x-projection
# starts at the title's own x-origin, so extent- and run-level detection
# both see one spanning run; only the height midpoint split (title ht=16
# vs body ht=10) separates them. Column 2 sits at x=500, y=120. A
# height-blind reader would interleave the title with column 1's first
# line, glyph by glyph, in x order.
# Title: ten 4-char words from x=40 -> extent 392 >= ceil(3/5 * 612) = 368
# (spanning), x_end = 432 >= one column gap (32) away from column 2 at x=500.
_HEIGHTS_TITLE = ("head", "body", "text", "page", "band", "rule",
                  "glyp", "mark", "span", "unit")
HEIGHTS_MAX_WORD_LEN = 14  # column words must fit their 112-px slots
_pdfish_heights_payload = partial(_titled_page, _HEIGHTS_TITLE, 100, 16,
                                  ((40, 108), (500, 120)))


def extract_pdfish_heights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Glyph-height split through the REAL extraction stage (r5): expected
    flat text = the fixed TALL title then the doc's words in original order
    — correct ONLY if the mixed-height spanning run is split at the height
    midpoint, the tall subset emitted as the full-width block and the short
    column-1 glyphs re-attached to the region below; n_units = 1 + word
    count. Docs filtered to <= TITLE_MAX_WORDS words of <=
    HEIGHTS_MAX_WORD_LEN chars on both engines so the geometry is fixed.
    Reference analog: per-component crop separation of overlapping
    components (ref: interpreter.py:133-171, :303-308)."""
    return _titled_docs(spark, sf_dir, _pdfish_heights_payload, HEIGHTS_MAX_WORD_LEN)


EXTRACT_PDFISH_HEIGHTS_SQL = _titled_sql(_HEIGHTS_TITLE, HEIGHTS_MAX_WORD_LEN)


def extract_html_blocks_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-bookkeeping check via SQL: a two-block page (h1 + p) must yield
    exactly 2 units / 2 spans in document order, with the extracted text
    equal to 'doc\\n' + sanitized body — the oracle states these counts by
    construction, so the driver's hash check covers unit ordering and span
    accounting, not just text."""
    return _wrapped_docs(
        spark, sf_dir,
        '<html><body><nav><a href="/">x</a></nav><h1>doc</h1><p>',
        _sanitize(F.col("text")),
        "</p></body></html>",
        _long("n_units"), _long("n_spans"), "extracted_text",
    )


EXTRACT_HTML_BLOCKS_SQL = f"""
SELECT doc_id, 2 AS n_units, 2 AS n_spans,
       'doc' || chr(10) || {_SANITIZE_SQL} AS extracted_text
FROM documents WHERE length(trim(text)) > 0 ORDER BY doc_id
"""


def extract_markup_collapse_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusable-collapse check via SQL: inject a Cyrillic 'а' echo after
    every Latin 'a' (the OCR-style noise the reference's similar-pairs
    collapse removes, ref: primitives/__init__.py:16-42); extraction must
    recover the original text exactly."""
    flat = _flat(F.col("text"))
    return _wrapped_docs(
        spark, sf_dir,
        "\x1b[2K[fetching]\n```\n", F.replace(flat, F.lit("a"), F.lit("aа")), "\n```",
        "extracted_text", keep=_markup_safe(flat),
    )


EXTRACT_MARKUP_COLLAPSE_SQL = f"""
SELECT doc_id, {_FLAT_SQL} AS extracted_text
FROM documents
WHERE {_MARKUP_SAFE_SQL}
ORDER BY doc_id
"""
