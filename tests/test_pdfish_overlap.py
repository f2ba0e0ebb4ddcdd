"""Run-level spanning detection (r4): a full-width title whose y-band
OVERLAPS a column line's band must still emit as its own block, with the
band's column co-tenants re-attached to the region below — the r3
documented degraded mode (band-level detection saw >= 2 x-runs, called the
merged band non-spanning, and interleaved the title into the columns).
The payload test also covers the other two spanning-title layouts of
``ops/extract_docs`` (plain title, tall title). Pure-Python: no Spark
session needed."""

from __future__ import annotations

from random import Random

import pytest

from univer_ocr_spark.extract.pdfish_batch import extract_pdfish_many
from univer_ocr_spark.extract.pdfish_extract import extract_pdfish
from univer_ocr_spark.generator.pdfish_gen import generate_pdfish
from univer_ocr_spark.ops.extract_docs import (
    _HEIGHTS_TITLE,
    _OVERLAP_TITLE,
    _TITLE_WORDS,
    _pdfish_heights_payload,
    _pdfish_overlap_payload,
    _pdfish_title_payload,
)
from univer_ocr_spark.spans import validate_spans


@pytest.mark.parametrize("title, build", [
    (_TITLE_WORDS, _pdfish_title_payload),
    (_OVERLAP_TITLE, _pdfish_overlap_payload),
    (_HEIGHTS_TITLE, _pdfish_heights_payload),
], ids=["title", "overlap", "heights"])
def test_overlap_payload_reading_order_and_batch_equality(title, build):
    text = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau")
    payload = build(7, text)
    slow = extract_pdfish(payload)
    assert extract_pdfish_many([payload])[0] == slow
    words = text.split()
    # title first (its own unit), then column-major words, one per line
    assert slow[0].split("\n") == [" ".join(title)] + words
    validate_spans(payload, slow[1])


def test_mixed_band_direct_geometry():
    # hand-built page: spanning run [40..432) at y=100 shares the merged
    # y-band with a column run at x=500, y=108; second column line below
    recs = []
    x = 40
    for w in _OVERLAP_TITLE:
        for ch in w:
            recs.append(f"g {ch} {x} 100 8 10")
            x += 8
        x += 8
    for ch, xx in (("a", 500), ("b", 508)):
        recs.append(f"g {ch} {xx} 108 8 10")
    for ch, xx in (("c", 500), ("d", 508)):
        recs.append(f"g {ch} {xx} 128 8 10")
    payload = "%PDFISH 612 792\n" + "\n".join(recs) + "\n"
    slow = extract_pdfish(payload)
    assert extract_pdfish_many([payload])[0] == slow
    # title block, then the column's two lines in y order — even though the
    # column's FIRST line sits in the title's merged y-band
    assert slow[0].split("\n") == [" ".join(_OVERLAP_TITLE), "ab", "cd"]


def test_generator_emits_overlap_pages_and_they_roundtrip():
    payloads, golds = [], []
    for seed in range(300):
        rng = Random(seed)
        payload, gold_text, gold_spans, _blocks = generate_pdfish(rng)
        payloads.append(payload)
        golds.append((gold_text, gold_spans))
    batch = extract_pdfish_many(payloads)
    for i, (gt, gs) in enumerate(golds):
        slow = extract_pdfish(payloads[i])
        assert batch[i] == slow, i
        assert slow == (gt, gs), i
    # the dialect actually exercises the geometry: the overlap variant's
    # title glyphs sit at upright y=100 (a "g <ch> <x> 100 8 10" record on
    # unrotated pages — rotated storage reshapes the record, so counting
    # only upright pages still proves emission)
    n_overlap = sum(1 for p in payloads if " 100 8 10\n" in p)
    assert n_overlap > 0
