"""Pure-Python oracle extractor (single-threaded reference implementation).

Analog of the reference's ``interpret()`` — the zero-ML decoder that turns
ground-truth layers into ordered text
(ref: web_app/components/interpreter/interpreter.py:110-171). The Spark
pipeline must match this oracle byte-for-byte per turn under stable
``(conv_id, turn_idx)`` ordering; pytest enforces it against the generator's
by-construction goldens.

The same pure functions are reused *inside* the Spark ``mapInArrow`` stage —
one implementation, two harnesses (like the reference sharing its interpreter
between the web oracle route and the model pipeline, ref: views/main.py:88-99
vs my_model/model.py:552-656).
"""

from __future__ import annotations

from typing import List, Tuple

from univer_ocr_spark.constants import PDFISH_MAGIC
from univer_ocr_spark.extract.html_extract import extract_html
from univer_ocr_spark.extract.markup_extract import extract_markup
from univer_ocr_spark.extract.pdfish_extract import extract_pdfish
from univer_ocr_spark.spans import Span


def sniff(payload: str) -> str:
    """Classify the payload archetype (analog of the Monochrome stage's
    role as the first payload normalizer, ref: my_model/model.py:489-499)."""
    if payload.startswith(PDFISH_MAGIC + " "):
        return "pdfish"
    head = payload.lstrip()[:64].lower()
    if head.startswith("<!doctype html") or head.startswith("<html"):
        return "html"
    return "toolmarkup"


def extract_payload(payload: str) -> Tuple[str, List[Span], str]:
    """Dispatch on archetype; return (extracted_text, spans, kind)."""
    kind = sniff(payload)
    if kind == "html":
        text, spans = extract_html(payload)
    elif kind == "pdfish":
        text, spans = extract_pdfish(payload)
    else:
        text, spans = extract_markup(payload)
    return text, spans, kind


def extract_single(payload: str) -> dict:
    """S10 analog (ref: web_app/components/my_model/predict.py:44-46, the
    web-upload single-payload route): ad-hoc extraction of ONE payload with
    no Spark session — the exact function the Spark stage ships, wrapped in
    the output-row shape the pipeline emits."""
    text, spans, kind = extract_payload(payload or "")
    return {
        "extracted_text": text,
        "spans": [{"unit": u, "start": s, "end": e} for (u, s, e) in spans],
        "kind": kind,
        "n_units": (spans[-1][0] + 1) if spans else 0,
        "n_spans": len(spans),
        "n_chars": len(text),
    }


def extract_payloads_batch(payloads) -> List[Tuple[str, List[Span], str]]:
    """Batch dispatch used by the Spark stage: pdfish payloads go through
    the NumPy-vectorized batch path (extract/pdfish_batch.py); html/markup
    stay per-row. Property-tested equal to extract_payload row-by-row."""
    from univer_ocr_spark.extract.pdfish_batch import extract_pdfish_many

    kinds = [sniff(p or "") for p in payloads]
    results: List = [None] * len(payloads)
    pdf_idx = [i for i, k in enumerate(kinds) if k == "pdfish"]
    if pdf_idx:
        for i, (text, spans) in zip(
            pdf_idx, extract_pdfish_many([payloads[i] or "" for i in pdf_idx])
        ):
            results[i] = (text, spans, "pdfish")
    for i, k in enumerate(kinds):
        if results[i] is None:
            p = payloads[i] or ""
            text, spans = extract_html(p) if k == "html" else extract_markup(p)
            results[i] = (text, spans, k)
    return results
