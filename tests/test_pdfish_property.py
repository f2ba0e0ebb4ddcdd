"""Property test on RANDOM glyph streams (not generator layouts): the
vectorized batch path must equal the per-payload parser on arbitrary
coordinates — orientation votes, column splits, margin strips, band merges
and space rules all have to tie out bit-for-bit. Glyphs include non-ASCII,
astral, NUL and whitespace-class chars; pages come in line-format variants,
some of which only the tolerant parser accepts, mixed into one batch."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from univer_ocr_spark.extract.pdfish_batch import extract_pdfish_many
from univer_ocr_spark.extract.pdfish_extract import extract_pdfish
from univer_ocr_spark.spans import validate_spans

coord = st.integers(min_value=0, max_value=1000)
ext = st.integers(min_value=0, max_value=40)
# ASCII, Cyrillic, an astral emoji, NUL, and whitespace-class glyphs (none
# of them a line break for str.find("\n"); a space glyph sends its whole
# page to the tolerant parser, so it is a fixed case in test_batch_extract)
ch = st.sampled_from("abcxyz09.!жЯ\U0001F600\x00\xa0　\x0b")

glyph = st.tuples(ch, coord, coord, ext, ext)


def _edit_field(recs, edit):
    """Rewrite the x field of the middle record."""
    if not recs:
        return recs
    k = len(recs) // 2
    f = recs[k].split(" ")
    f[2] = edit(f[2])
    return recs[:k] + [" ".join(f)] + recs[k + 1 :]


# page-level format variants: line ends and a blank line, and numeric
# fields that int() accepts but that are not plain ASCII digit runs
# ("plain", "no_trailing_newline" and "leading_zeros" pages take the
# vector path; the rest take the tolerant parser, in the same batch)
_ARABIC_INDIC = str.maketrans("0123456789", "٠١٢٣٤٥٦٧٨٩")
VARIANTS = {
    "plain": lambda recs: recs,
    "no_trailing_newline": lambda recs: recs,
    "crlf": lambda recs: [r + "\r" for r in recs],
    "blank_line": lambda recs: recs[:1] + [""] + recs[1:],
    "plus": lambda recs: _edit_field(recs, lambda f: "+" + f),
    "underscore": lambda recs: _edit_field(recs, lambda f: f[0] + "_" + f[1:] if len(f) > 1 else f + "_0"),
    "arabic_indic": lambda recs: _edit_field(recs, lambda f: f.translate(_ARABIC_INDIC)),
    "leading_zeros": lambda recs: _edit_field(recs, lambda f: "00" + f),
}

page = st.tuples(
    st.integers(min_value=1, max_value=1200),  # page_w
    st.integers(min_value=1, max_value=1200),  # page_h
    st.lists(glyph, min_size=0, max_size=60),
    st.sampled_from(["plain"] * 5 + sorted(VARIANTS)),
)


def payload_of(p) -> str:
    w, h, glyphs, variant = p
    recs = VARIANTS[variant]([f"g {c} {x} {y} {wd} {ht}" for c, x, y, wd, ht in glyphs])
    body = "\n".join(recs)
    if variant != "no_trailing_newline" and recs:
        body += "\n"
    return f"%PDFISH {w} {h}\n{body}"


@settings(max_examples=300, deadline=None)
@given(st.lists(page, min_size=1, max_size=6))
def test_batch_equals_slow_on_random_glyphs(pages):
    payloads = [payload_of(p) for p in pages]
    batch = extract_pdfish_many(payloads)
    for i, p in enumerate(payloads):
        slow = extract_pdfish(p)
        assert batch[i] == slow, f"payload {i}: {p[:120]!r}"
        validate_spans(p, slow[1])
