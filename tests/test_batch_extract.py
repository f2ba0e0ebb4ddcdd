"""The vectorized batch dispatch must equal the per-row oracle dispatch —
including malformed payloads routed through the tolerant fallback."""

from __future__ import annotations

from random import Random

from univer_ocr_spark.extract import extract_payload, extract_payloads_batch
from univer_ocr_spark.extract.pdfish_batch import extract_pdfish_many
from univer_ocr_spark.extract.pdfish_extract import extract_pdfish
from univer_ocr_spark.generator.pdfish_gen import generate_pdfish
from univer_ocr_spark.generator.transcripts import build_turn, conv_id_of

MALFORMED = [
    "",
    "%PDFISH oops",
    "%PDFISH 612 792",
    "%PDFISH 612 792\n",
    "%PDFISH 612 792\ng X 10\njunk\ng a 100 400 8 10",
    "%PDFISH 612 792\ng a 100 400 8 10\ng b 1x0 400 8 10",  # non-int field
    "%PDFISH 612 792\ng a 100 -400 8 10",  # negative y
    "%PDFISH 612 792\ng  a 100 400 8 10",  # double space
    "plain text",
    # ADVICE r01 regressions: >int64 field must not raise OverflowError;
    # near-int64 coords must not wrap the pid*big band keying and merge
    # glyphs across payloads
    "%PDFISH 100 200\ng a 1 2 3 99999999999999999999999999\n",
    f"%PDFISH 100 200\ng b 1 {2**62} 3 4\n",
    f"%PDFISH 100 200\ng c {2**61} 400 8 10\n",
    # glyphs the vector path takes as one codepoint: Cyrillic, an astral
    # emoji, NUL and whitespace-class chars; then a space glyph, which only
    # the tolerant parser accepts
    "%PDFISH 612 792\ng ж 100 400 8 10\ng \U0001F600 110 400 8 10\ng \x00 120 400 8 10\n"
    "g \xa0 130 400 8 10\ng 　 140 400 8 10\ng \x0b 150 400 8 10\n",
    "%PDFISH 612 792\ng a 100 400 8 10\ng   110 400 8 10\n",
    # a page whose glyphs are all zero-width: every glyph is its own column,
    # and columns at equal x keep input order (the batch path once ordered
    # them by band)
    "%PDFISH 2 1\ng a 0 0 0 0\ng a 1 0 0 0\ng a 0 0 1 0\n",
    # a two-char glyph: the tolerant parser skips the line
    "%PDFISH 612 792\ng a5 100 400 8 10\ng b 110 400 8 10\n",
    # line ends: no trailing newline, CRLF, a blank line
    "%PDFISH 612 792\ng a 100 400 8 10\ng b 110 400 8 10",
    "%PDFISH 612 792\r\ng a 100 400 8 10\r\ng b 110 400 8 10\r\n",
    "%PDFISH 612 792\ng a 100 400 8 10\n\ng b 110 400 8 10\n",
    # numeric fields int() accepts that are not plain ASCII digit runs, and
    # leading zeros (which are)
    "%PDFISH 612 792\ng a +100 400 8 10\ng b 110 400 8 10\n",
    "%PDFISH 612 792\ng a 1_00 400 8 10\ng b 110 400 8 10\n",
    "%PDFISH 612 792\ng a 1٣0 400 8 10\ng b 110 400 8 10\n",
    "%PDFISH 612 792\ng a 007 400 8 10\ng b 110 400 0008 10\n",
]


def test_batch_equals_per_row_mixed():
    texts = [
        build_turn(conv_id_of(c), t)["text"] for c in range(60) for t in range(4)
    ] + MALFORMED
    batch = extract_payloads_batch(texts)
    for i, t in enumerate(texts):
        assert batch[i] == extract_payload(t or ""), f"row {i}"


def test_pdfish_batch_equals_slow_path():
    payloads = [generate_pdfish(Random(s))[0] for s in range(200)] + MALFORMED
    res = extract_pdfish_many(payloads)
    for i, p in enumerate(payloads):
        assert res[i] == extract_pdfish(p), f"payload {i}"
    # alone, too: a batch-wide mode (the glyph-level column pass that any
    # mixed-height title turns on) must not mask a case
    for i, p in enumerate(MALFORMED):
        assert extract_pdfish_many([p]) == [extract_pdfish(p)], f"malformed {i}"


def test_pdfish_fallback_is_per_payload(monkeypatch):
    """A payload outside the vector path's line format (a negative y) takes
    the tolerant parser alone; the rest of its batch stays vectorized."""
    from univer_ocr_spark.extract import pdfish_batch

    calls = []

    def counting(payload):
        calls.append(payload)
        return extract_pdfish(payload)

    monkeypatch.setattr(pdfish_batch, "extract_pdfish", counting)
    negative = "%PDFISH 612 792\ng a 100 -400 8 10\n"
    payloads = [generate_pdfish(Random(s))[0] for s in range(50)] + [negative]
    res = extract_pdfish_many(payloads)
    assert calls == [negative]
    assert res == [extract_pdfish(p) for p in payloads]


def test_pdfish_key_overflow_splits_the_batch(monkeypatch):
    """When the batch's composite sort keys would pass the int64 limit, the
    batch is halved until they fit, and only a payload that overflows
    alone takes the tolerant parser. A lowered limit that the 50 pages
    pass one by one, but not all together, forces the split."""
    from univer_ocr_spark.extract import pdfish_batch

    slow, batches = [], []
    many = pdfish_batch.extract_pdfish_many

    def counting_slow(payload):
        slow.append(payload)
        return extract_pdfish(payload)

    def counting_many(payloads):
        batches.append(len(payloads))
        return many(payloads)

    monkeypatch.setattr(pdfish_batch, "extract_pdfish", counting_slow)
    monkeypatch.setattr(pdfish_batch, "extract_pdfish_many", counting_many)
    monkeypatch.setattr(pdfish_batch, "_KEY_LIMIT", 10_000)
    payloads = [generate_pdfish(Random(s))[0] for s in range(50)]
    res = pdfish_batch.extract_pdfish_many(payloads)
    assert res == [extract_pdfish(p) for p in payloads]
    assert slow == [] and batches[0] == 50 and len(batches) > 1


# pass-through columns of every input type the extraction stage must hand
# back unchanged (the stage returns the input batch's own Arrow arrays)
PASS_SCHEMA = (
    "id bigint, b tinyint, s smallint, i int, f float, d double, "
    "dec decimal(12,3), flag boolean, name string, raw binary, day date, "
    "ts timestamp, ts_ntz timestamp_ntz, xs array<int>, m map<string,int>, "
    "st struct<a:int,c:string>, text string"
)


def _pass_row(i: int, payload):
    import datetime as dt
    from decimal import Decimal

    if i % 5 == 4:  # every pass-through column null
        return (i,) + (None,) * 15 + (payload,)
    return (
        i, i % 100 - 50, i * 7, -i, i / 4, i / 3, Decimal(i) / 8, i % 2 == 0,
        f"row-{i}", bytes([i % 256, 0, 255]), dt.date(2020, 1, 1 + i % 28),
        dt.datetime(2021, 2, 3, 4, 5, i % 60, i), dt.datetime(2022, 5, 6, 7, i % 60),
        [i, None, -i] if i % 3 else [], {"k": i, "z": None} if i % 4 else {},
        (i, None if i % 2 else f"c{i}"), payload,
    )


def _stage_payloads():
    # generator turns of every archetype, then null, empty and other
    # zero-span payloads, then the malformed set
    return [build_turn(conv_id_of(c), t)["text"] for c in range(8) for t in range(3)] + [
        None, "", "   ", "%PDFISH 612 792\n", "<html><body></body></html>",
    ] + MALFORMED


def _assert_stage_equals_rows(spark, max_records=None):
    from univer_ocr_spark.extract import extract_single
    from univer_ocr_spark.spark.pipeline import extract_stage

    payloads = _stage_payloads()
    df = spark.createDataFrame([_pass_row(i, p) for i, p in enumerate(payloads)], PASS_SCHEMA)
    if max_records:
        df = df.coalesce(1)  # one partition, many Arrow batches
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if max_records:
        spark.conf.set(key, str(max_records))
    try:
        got = {r["id"]: r for r in extract_stage(df).collect()}
    finally:
        spark.conf.set(key, old)
    want_rows = {r["id"]: r for r in df.collect()}
    assert sorted(got) == list(range(len(payloads)))
    for i, p in enumerate(payloads):
        r, w = got[i], want_rows[i]
        assert [r[c] for c in df.columns] == list(w), f"pass-through row {i}"
        want = extract_single(p)
        assert r["extracted_text"] == want["extracted_text"], f"row {i}"
        assert [s.asDict() for s in r["spans"]] == want["spans"], f"row {i}"
        for c in ("kind", "n_units", "n_spans", "n_chars"):
            assert r[c] == want[c], f"row {i} {c}"


def test_arrow_stage_equals_extract_payload(spark):
    _assert_stage_equals_rows(spark)


def test_arrow_stage_across_small_batches(spark):
    _assert_stage_equals_rows(spark, max_records=3)


def test_payload_builder_runs_per_batch(spark):
    """``build_payloads`` sees each Arrow batch: with 3-row batches every
    payload carries its batch's row count, and the builder's input column
    is dropped like a payload."""
    from univer_ocr_spark.extract import extract_payload
    from univer_ocr_spark.spark.pipeline import EXTRA_FIELDS, extract_stage

    def build(batch):
        n = batch.num_rows
        return [None if w is None else f"{w} of {n}"
                for w in batch.column("text").to_pylist()]

    words = [f"w{i}" if i % 4 else None for i in range(10)]
    df = spark.createDataFrame(list(enumerate(words)), "id bigint, text string").coalesce(1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        out = extract_stage(df, drop_payload=True, build_payloads=build)
        rows = sorted(out.collect(), key=lambda r: r["id"])
    finally:
        spark.conf.set(key, old)
    assert out.columns == ["id"] + [f.name for f in EXTRA_FIELDS]
    for r, w in zip(rows, words):
        n = 1 if r["id"] == 9 else 3  # batches of 3, 3, 3, 1
        want = extract_payload("" if w is None else f"{w} of {n}")
        assert (r["extracted_text"], [tuple(s) for s in r["spans"]], r["kind"]) == want
