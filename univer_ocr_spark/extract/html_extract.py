"""HTML main-content extraction: tag-stack traversal + link-density scoring.

Re-expresses the reference's mask pipeline relationally:
- tag-stack DOM traversal with drop-subtrees  ≈ the letter-spacing veto /
  background masking (ref: interpreter.py:115-120);
- grouping text nodes into innermost block elements, with <br> splitting a
  block into line units ≈ connected-component labeling of paragraphs/lines
  (ref: interpreter.py:16-21);
- link-density threshold ≈ the mean-threshold binarization predicate
  (ref: interpreter.py:17), here Boilerpipe/Readability-style.

Deterministic, integer-arithmetic only. Operates on the generated HTML
dialect: no entities, no ``<``/``>`` inside attribute values or raw-text
elements.

Entity handling with span integrity: the five standard entity references
(``&amp; &lt; &gt; &quot; &apos;``) AND numeric character references
(``&#233;`` / ``&#x2019;`` — decimal and hex) decode to their characters,
and each entity gets its OWN span over the raw reference — so every span
slice is either verbatim or exactly one entity ref decoding to one char,
and the reconstruction invariant stays auditable at 10^12 rows
(``spans.reconstruct(..., decode_html_entities=True)``). Non-entity
ampersands and UNdecodable refs (surrogate / out-of-range code points)
stay verbatim.

Tag scanning is quote-aware (r4): a ``>`` inside a single- or double-quoted
attribute value (inline JS handlers, data-URIs, ``=>`` arrow functions —
constant in real-web HTML) does NOT terminate the tag, matching the HTML5
tokenizer's attribute-value states. An unterminated quote has two degraded
outcomes, both HTML5-consistent and never fatal: with no later matching
quote in the payload the ``<`` is unmatchable as a tag and falls through
as text; when a LATER matching quote exists, the attribute value consumes
everything up to it — including intervening ``>`` and text nodes — exactly
as the HTML5 attribute-value state would (that swallowed text is attribute
value, not document text).
"""

from __future__ import annotations

import re
from typing import List, Tuple

from univer_ocr_spark.constants import (
    HTML_BLOCK_TAGS,
    HTML_DROP_TAGS,
    HTML_LINK_DENSITY_DEN,
    HTML_LINK_DENSITY_NUM,
    decode_entity,
)
from univer_ocr_spark.spans import Span

# Quote-aware tag scanner (unrolled-loop form — linear time, no per-char
# alternation): after the tag name, runs of chars that are neither '>' nor
# a quote, interleaved with complete quoted sections whose interior may
# contain '>'. The HTML5 tokenizer's double/single-quoted attribute-value
# states consume '>' exactly the same way. Both groups capture, so one
# ``split`` yields [text, tag, key, text, tag, key, ..., text] — no match
# object per tag — where ``key`` is the raw name with its closing slash.
_TAG_RE = re.compile(
    r"""(<(/?[a-zA-Z][a-zA-Z0-9]*)[^>"']*(?:"[^"]*"[^>"']*|'[^']*'[^>"']*)*>)"""
)
_VOID_TAGS = frozenset({"br", "hr", "img", "meta", "link", "input"})
_ENT_RE = re.compile(r"&(?:amp|lt|gt|quot|apos|#[0-9]{1,7}|#[xX][0-9a-fA-F]{1,6});")

# tag kinds: an opening tag, a closing tag, a <br> (unit break), and a void
# tag that does nothing
_OPEN, _CLOSE, _BR, _VOID = range(4)
# raw key -> (lowercased name, kind, drop, a, block): a memo of the pure
# _tag_action, so its content never changes a result; capped, because a
# hostile stream can hold any number of distinct names
_TAG_ACTIONS: dict = {}
_TAG_ACTIONS_MAX = 4096


def _tag_action(key: str) -> Tuple[str, int, bool, bool, bool]:
    closing = key[0] == "/"
    name = (key[1:] if closing else key).lower()
    if name in _VOID_TAGS:
        kind = _BR if name == "br" and not closing else _VOID
    else:
        kind = _CLOSE if closing else _OPEN
    return name, kind, name in HTML_DROP_TAGS, name == "a", name in HTML_BLOCK_TAGS


# Extractor-side block record: (tag, nodes) with nodes = [(start, end,
# in_link)] interleaved with None markers — a <br> inside the block. Each
# maximal marker-free run of nodes becomes its own extraction unit, so
# "line1<br>line2" yields two units instead of gluing the lines, WITHOUT
# inventing characters the payload doesn't contain (spans stay verbatim;
# units are joined by newline at output time).
ExtractorBlock = Tuple[str, bool, List[Tuple[int, int, bool] | None]]


def parse_blocks(payload: str) -> List[ExtractorBlock]:
    """Single pass over tags; return all blocks in document-open order with
    their text nodes and a main/boilerplate classification."""
    stack: List[tuple] = []  # actions of the open tags
    drop_depth = 0
    link_depth = 0
    open_blocks: List[list] = []
    blocks: List[list] = []  # [tag, nodes, total chars, link chars]
    parts = _TAG_RE.split(payload)
    pos = len(parts[0])  # text before the first tag sits in no block
    it = iter(parts)
    next(it)
    for tag, key, text in zip(it, it, it):
        pos += len(tag)
        act = _TAG_ACTIONS.get(key)
        if act is None:
            act = _tag_action(key)
            if len(_TAG_ACTIONS) < _TAG_ACTIONS_MAX:
                _TAG_ACTIONS[key] = act
        kind = act[1]
        if kind == _OPEN:
            stack.append(act)
            if act[2]:
                drop_depth += 1
            if act[3]:
                link_depth += 1
            if act[4]:
                block = [act[0], [], 0, 0]
                open_blocks.append(block)
                blocks.append(block)
        elif kind == _CLOSE:
            # tolerant pop to the matching open tag
            name = act[0]
            while stack:
                top = stack.pop()
                if top[2]:
                    drop_depth -= 1
                if top[3]:
                    link_depth -= 1
                if top[4] and open_blocks:
                    open_blocks.pop()
                if top[0] == name:
                    break
        elif kind == _BR and drop_depth == 0 and open_blocks:
            nodes = open_blocks[-1][1]
            if nodes and nodes[-1] is not None:
                nodes.append(None)  # unit break inside the block
        if text:
            end = pos + len(text)
            if drop_depth == 0 and open_blocks and not text.isspace():
                block = open_blocks[-1]
                block[1].append((pos, end, link_depth > 0))
                block[2] += end - pos
                if link_depth:
                    block[3] += end - pos
            pos = end

    # density classifies the whole BLOCK (boilerplate-ness is a block
    # property); <br> markers only affect unit segmentation
    return [
        (tag, total > 0
         and HTML_LINK_DENSITY_DEN * link <= HTML_LINK_DENSITY_NUM * total, nodes)
        for tag, nodes, total, link in blocks
    ]


def extract_html(payload: str) -> Tuple[str, List[Span]]:
    """Return (extracted_text, spans) for the main-content blocks; a <br>
    inside a main block starts a new unit (trailing/duplicate breaks are
    suppressed at parse time)."""
    spans: List[Span] = []
    unit_texts: List[str] = []
    unit = 0
    for _tag, is_main, nodes in parse_blocks(payload):
        if not is_main:
            continue
        parts = []
        for node in nodes:
            if node is None:  # <br>: close the current unit, open the next
                if parts:
                    unit_texts.append("".join(parts))
                    unit += 1
                    parts = []
                continue
            s, e, _ = node
            seg = payload[s:e]
            if "&" not in seg:  # fast path: entity-free node, one span
                spans.append((unit, s, e))
                parts.append(seg)
                continue
            # split at entity refs: literal runs stay verbatim slices,
            # each DECODABLE entity becomes its own span decoding to one
            # char; an undecodable ref stays inside the literal run
            pos = 0
            for m in _ENT_RE.finditer(seg):
                dec = decode_entity(m.group(0))
                if dec is None:
                    continue
                if m.start() > pos:
                    spans.append((unit, s + pos, s + m.start()))
                    parts.append(seg[pos:m.start()])
                spans.append((unit, s + m.start(), s + m.end()))
                parts.append(dec)
                pos = m.end()
            if pos < len(seg):
                spans.append((unit, s + pos, e))
                parts.append(seg[pos:])
        if parts:  # empty only after a trailing <br> — no empty unit
            unit_texts.append("".join(parts))
            unit += 1
    return "\n".join(unit_texts), spans
