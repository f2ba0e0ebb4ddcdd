"""Batch-vectorized PDF-ish extraction: one NumPy pass over ALL glyphs of an
Arrow batch (thousands of turns), instead of per-payload Python loops.

This is the reference's X6 lesson (vectorized batching — one GEMM-able
tensor instead of per-pixel Python, ref: convolutional.py:330-373) applied
at the right granularity for Spark: per-payload NumPy loses to pure Python
at ~130 glyphs/payload (fixed overhead), but across a 2048-turn Arrow batch
(~270k glyphs) the int-parse, orientation vote, column/band interval-merge,
sort and space/gap logic all amortize into a handful of vectorized kernels.

The front half never makes a per-token ``str``: the batch's bodies are
joined and viewed as ONE UTF-32 codepoint array (4 B/char), whose newlines
are the lines. Per-line counts and fixed offsets validate the record
format, digit runs become ints by place value, and the glyph is the
codepoint after ``"g "``. Spans are char offsets, so codepoint positions
are span offsets as they stand (astral glyphs are one codepoint, as in a
Python ``str``). The back half writes each kept glyph's lead char and
codepoint into one output array, decodes it once and slices each payload's
text out of it.

Semantics are identical to extract_pdfish (property-tested equal): 4-way
orientation vote (aspect + margin-excluded mass-center), spanning-block
pre-pass (full-width titles emit as their own segments; columns cluster
per region between them), x-gap column clustering, y-band merging, margin
strip, reading order, word-gap spaces.
A payload that fails the strict record format (a sign, a non-ASCII digit,
a blank line, a coordinate above 2**31, ...) falls back to the tolerant
per-payload parser on its own; the rest of the batch stays vectorized.
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

import numpy as np

from univer_ocr_spark.constants import (
    PDFISH_COL_GAP_FACTOR,
    PDFISH_MAGIC,
    PDFISH_MARGIN_DEN,
    PDFISH_MARGIN_NUM,
    PDFISH_SPACE_DEN,
    PDFISH_SPACE_NUM,
    PDFISH_SPAN_DEN,
    PDFISH_SPAN_NUM,
)
from univer_ocr_spark.extract.pdfish_extract import extract_pdfish
from univer_ocr_spark.spans import Span

Result = Tuple[str, List[Span]]

_COORD_BOUND = 2**31  # larger coords/dims → tolerant path (keying math)
# digits per coordinate field: 2**31 has 10, so a longer run (leading zeros)
# goes to the tolerant path — and no run can overflow the int64 place sum
_FIELD_DIGITS = 10
# composite (payload, segment, coord) sort keys must stay below this
_KEY_LIMIT = 2**62
_PAD = "\0" * 16  # after the last line: fixed-offset reads never run off the array


def _scan_bodies(bodies: List[str]):
    """Validate, tokenize and int-parse every body of the batch as ONE UTF-32
    codepoint array — no per-token ``str`` objects.

    Each body ends with ``\n``. A body passes iff every line is exactly
    ``g <ch> <f> <f> <f> <f>``: single spaces, one glyph codepoint (any
    char but the space) and four runs of ASCII digits, each at most
    ``_FIELD_DIGITS`` long and at most ``_COORD_BOUND``. Anything else —
    ``+5``, ``1_0``, ``٣``, a ``-``, a ``\r``, a blank line — fails its
    body, which the caller routes to the tolerant parser (output-identical:
    batch == row is the property).

    Returns ``(ok, counts, starts, chs, nums)``: per body whether it passed,
    then for the lines of passing bodies only their count per body, start
    offset within the body, glyph codepoint and ``(4, G)`` int fields (x, y, wd, ht).
    """
    blen = np.fromiter(map(len, bodies), dtype=np.int64, count=len(bodies))
    bstart = np.zeros(len(bodies) + 1, dtype=np.int64)
    np.cumsum(blen, out=bstart[1:])
    cp = np.frombuffer(
        "".join([*bodies, _PAD]).encode("utf-32-le", "surrogatepass"),
        dtype=np.uint32,
    )
    is_sp = cp == 32
    is_dig = (cp - 48) < 10  # uint32 wrap-around: ASCII '0'..'9' only
    nl = np.flatnonzero(cp == 10)
    ls = np.empty_like(nl)
    ls[0] = 0
    ls[1:] = nl[:-1] + 1
    # per-line counts: a reduceat over the line starts (each segment is one
    # line plus its '\n'; the last also holds the pad) — 3x cheaper than a
    # char-length cumsum
    nsp = np.add.reduceat(is_sp.view(np.uint8), ls, dtype=np.int32)
    ndg = np.add.reduceat(is_dig.view(np.uint8), ls, dtype=np.int32)

    # per line: 'g', a space, the glyph, a space, then a region of 3
    # spaces (5 in the line: the glyph is not one) and L-7 digits, i.e.
    # nothing but digits and spaces. The field check below then makes the
    # region four digit runs: a space glyph or two adjacent spaces leave an
    # empty field
    L = nl - ls
    ok = (
        (cp[ls] == 103)
        & is_sp[ls + 1]
        & is_sp[ls + 3]
        & (nsp == 5)
        & (ndg - is_dig[ls + 2] == L - 7)
    )
    # the region's spaces are the line's 3rd..5th; every field between them
    # holds 1.._FIELD_DIGITS digits. Fields are rows of (4, n) arrays, so
    # every reduction runs along a long axis
    idx = np.flatnonzero(ok)
    sp_before = np.cumsum(nsp) - nsp  # index of each line's first space
    s = np.flatnonzero(is_sp)[sp_before[idx] + np.arange(2, 5)[:, None]]
    fe = np.vstack((s, nl[idx]))
    flen = fe - np.vstack((ls[idx] + 4, s + 1))
    fit = np.all((flen >= 1) & (flen <= _FIELD_DIGITS), axis=0)
    # place-value sum, least significant digit first; fields still longer
    # than k are the only ones gathered at step k
    fe = fe.ravel() - 1
    flen = flen.ravel()
    nums = cp[fe].astype(np.int64) - 48
    at = np.flatnonzero(flen > 1)
    for k in range(1, _FIELD_DIGITS):
        at = at[flen[at] > k]
        if not at.size:
            break
        nums[at] += (cp[fe[at] - k].astype(np.int64) - 48) * 10**k
    nums = nums.reshape(4, -1)
    ok[idx] = fit & np.all(nums <= _COORD_BOUND, axis=0)

    lbound = np.searchsorted(nl, bstart)  # each body's first line, + end
    ok_p = np.logical_and.reduceat(ok, lbound[:-1])
    nlines = np.diff(lbound)
    keep = np.repeat(ok_p, nlines)
    starts = ls[keep] - np.repeat(bstart[:-1], nlines)[keep]
    return ok_p, nlines[ok_p], starts, cp[ls[keep] + 2], nums[:, keep[idx]]


def _margin_mask(c2: np.ndarray, dim: np.ndarray) -> np.ndarray:
    """True where a center (2·coord+extent) falls in the top/bottom 10%."""
    return (PDFISH_MARGIN_DEN * c2 < 2 * PDFISH_MARGIN_NUM * dim) | (
        PDFISH_MARGIN_DEN * c2
        > 2 * (PDFISH_MARGIN_DEN - PDFISH_MARGIN_NUM) * dim
    )


def extract_pdfish_many(payloads: Sequence[str]) -> List[Result]:
    results: List[Result] = [None] * len(payloads)  # type: ignore[list-item]

    # ---- page header per payload (a split and two int()s); the bodies are
    # checked and parsed batch-wide by _scan_bodies
    cand: List[int] = []
    bodies: List[str] = []
    hdr_len: List[int] = []
    page_ws: List[int] = []
    page_hs: List[int] = []
    for i, p in enumerate(payloads):
        nl = p.find("\n")
        hdr = p[:nl].split(" ") if nl != -1 else []
        if len(hdr) != 3 or hdr[0] != PDFISH_MAGIC:
            results[i] = extract_pdfish(p)
            continue
        try:
            page_w, page_h = int(hdr[1]), int(hdr[2])
        except ValueError:
            results[i] = extract_pdfish(p)
            continue
        if abs(page_w) > _COORD_BOUND or abs(page_h) > _COORD_BOUND:
            results[i] = extract_pdfish(p)  # dims outside int64-safe math
            continue
        if nl + 1 == len(p):
            results[i] = ("", [])
            continue
        body = p[nl + 1 :]
        cand.append(i)
        bodies.append(body if body.endswith("\n") else body + "\n")
        hdr_len.append(nl + 1)
        page_ws.append(page_w)
        page_hs.append(page_h)

    if not cand:
        return results
    ok_p, cnt, starts, chs, nums = _scan_bodies(bodies)
    pids: List[int] = []
    for i, ok in zip(cand, ok_p.tolist()):
        if ok:
            pids.append(i)
        else:
            results[i] = extract_pdfish(payloads[i])
    if not pids:
        return results

    G = len(chs)
    P = len(pids)
    gstart = np.zeros(P, dtype=np.int64)
    np.cumsum(cnt[:-1], out=gstart[1:])
    pid = np.repeat(np.arange(P, dtype=np.int64), cnt)
    x, y, wd, ht = nums
    # char offset of each glyph in its raw payload: header + line start + "g "
    offs = starts + np.asarray(hdr_len, dtype=np.int64)[ok_p][pid] + 2
    pw = np.asarray(page_ws, dtype=np.int64)[ok_p]
    ph = np.asarray(page_hs, dtype=np.int64)[ok_p]

    # ---- 4-way orientation vote per payload (A9 analog):
    # aspect (Σwd vs Σht) → portrait/landscape; margin-excluded mass-center
    # along the band axis → 0 vs 180 / 90 vs 270 (same vote as the slow path)
    wd_sum = np.add.reduceat(wd, gstart)
    ht_sum = np.add.reduceat(ht, gstart)
    landscape = wd_sum > ht_sum

    cx2 = 2 * x + wd
    cy2 = 2 * y + ht
    in_x = ~_margin_mask(cx2, pw[pid])
    in_y = ~_margin_mask(cy2, ph[pid])
    cnt_x = np.add.reduceat(in_x.astype(np.int64), gstart)
    cnt_y = np.add.reduceat(in_y.astype(np.int64), gstart)
    sum_x = np.add.reduceat(np.where(in_x, cx2, 0), gstart)
    sum_y = np.add.reduceat(np.where(in_y, cy2, 0), gstart)
    mass_x = (cnt_x > 0) & (sum_x > cnt_x * pw)   # stored-x mass below middle
    mass_y = (cnt_y > 0) & (sum_y > cnt_y * ph)   # stored-y mass below middle

    # orientation code: 0=upright, 1=90°CW, 2=180°, 3=270°CW
    orient_p = np.where(landscape, np.where(mass_x, 1, 3), np.where(mass_y, 2, 0))
    o = orient_p[pid]

    # ---- remap to upright reading coords; negations become S-c (order-
    # preserving, non-negative) with one global shift S
    S = int(max((x + wd).max(), (y + ht).max())) + 1
    neg_x = S - (x + wd)
    neg_y = S - (y + ht)
    bx = np.select([o == 0, o == 1, o == 2], [x, y, neg_x], default=neg_y)
    by = np.select([o == 0, o == 1, o == 2], [y, neg_x, neg_y], default=x)
    portrait_g = (o == 0) | (o == 2)
    bw = np.where(portrait_g, wd, ht)
    bh = np.where(portrait_g, ht, wd)
    negband_p = (orient_p == 1) | (orient_p == 2)  # band coords were negated
    dim_p = np.where((orient_p == 0) | (orient_p == 2), ph, pw)

    # ---- spanning-block pre-pass (r3; r4 run-level — mirrors the slow
    # path exactly): page-global y-bands are split into x-runs (the
    # column-gap rule); ANY single run covering >= 3/5 of the reading-axis
    # extent is a full-width block (spanning title/abstract) and becomes
    # its OWN segment — even when its band also holds x-disjoint column
    # lines (overlapping-band titles, the r3 degraded mode); a band's
    # non-spanning runs join the region BELOW its spanning runs.
    thresh_p = PDFISH_COL_GAP_FACTOR * np.maximum.reduceat(bw, gstart)
    thresh_g = thresh_p[pid]
    rdim_p = np.where((orient_p == 0) | (orient_p == 2), pw, ph)

    bigy = S + 1
    gykey = by + pid * bigy
    gyend = by + bh + pid * bigy
    # bx tiebreak matches the slow path's (y, x) sort: for NORMAL glyphs tie
    # order is invisible (equal-y intervals overlap, so they merge into one
    # band either way), but degenerate ZERO-HEIGHT glyphs have empty
    # y-intervals where every tie breaks a band — segmentation then follows
    # the tie order, which must be the slow path's
    gord = np.lexsort((bx, gykey))
    grun_end = np.maximum.accumulate(gyend[gord])
    gbrk = np.empty(G, dtype=bool)
    gbrk[0] = True
    gbrk[1:] = gykey[gord][1:] >= grun_end[:-1]
    gband_sorted = np.cumsum(gbrk) - 1
    gband = np.empty(G, dtype=np.int64)
    gband[gord] = gband_sorted          # global y-band id, (pid, y)-ascending
    NB = int(gband_sorted[-1]) + 1
    gband_pid = pid[gord][np.flatnonzero(gbrk)]

    # per-band x-runs + extent (the same gap rule column clustering uses);
    # runs are indexed ascending in (pid, band-y, x) by construction
    bigx = S + int(thresh_p.max()) + 1
    bxkey = bx + gband * bigx
    bxend = bx + bw + gband * bigx
    bord = np.argsort(bxkey, kind="stable")
    brun_end = np.maximum.accumulate(bxend[bord])
    bbrk = np.empty(G, dtype=bool)
    bbrk[0] = True
    bbrk[1:] = bxkey[bord][1:] >= brun_end[:-1] + thresh_g[bord][1:]
    run_first = np.flatnonzero(bbrk)
    NR = run_first.size
    run_x_lo = bx[bord][run_first]
    run_x_hi = np.maximum.reduceat((bx + bw)[bord], run_first)
    run_band = gband[bord][run_first]
    run_pid = gband_pid[run_band]
    run_span = PDFISH_SPAN_DEN * (run_x_hi - run_x_lo) >= (
        PDFISH_SPAN_NUM * rdim_p[run_pid]
    )
    grun_sorted = np.cumsum(bbrk) - 1        # run id, ascending in (band, x)
    grun = np.empty(G, dtype=np.int64)
    grun[bord] = grun_sorted                 # run id per glyph

    # ---- r5 glyph-height split (mirrors _height_split in the slow path):
    # a spanning-sized run with MIXED heights (title and column line in the
    # SAME x-run) splits at the height midpoint (2·ht > max+min). The tall
    # subset is promoted to the spanning block only if it alone passes the
    # extent test AND stays a single x-run under the page gap rule; the
    # short glyphs demote to the band's region below.
    run_bh_lo = np.minimum.reduceat(bh[bord], run_first)
    run_bh_hi = np.maximum.reduceat(bh[bord], run_first)
    mixed = run_span & (run_bh_lo != run_bh_hi)
    run_split = np.zeros(NR, dtype=bool)
    tall_g = np.zeros(G, dtype=bool)
    if mixed.any():
        tall_g = mixed[grun] & (2 * bh > (run_bh_lo + run_bh_hi)[grun])
        tall_lo = np.full(NR, np.iinfo(np.int64).max, dtype=np.int64)
        tall_hi = np.full(NR, np.iinfo(np.int64).min, dtype=np.int64)
        np.minimum.at(tall_lo, grun[tall_g], bx[tall_g])
        np.maximum.at(tall_hi, grun[tall_g], (bx + bw)[tall_g])
        # mixed runs always have ≥1 tall glyph (the max-height one)
        tall_spans = mixed & (
            PDFISH_SPAN_DEN * (tall_hi - tall_lo)
            >= PDFISH_SPAN_NUM * rdim_p[run_pid]
        )
        # single-x-run check for the tall subset: walk tall glyphs in
        # (run, x) order, break where x ≥ running-max-end + thresh (the
        # same gap rule; segmented cummax via the run-offset trick — ends
        # stay < bigx, so higher runs always dominate the running max)
        tb = tall_g[bord]
        it = bord[tb]
        tr = grun[it]
        te = (bx + bw)[it] + tr * bigx
        ce = np.maximum.accumulate(te) - tr * bigx
        brk_t = np.zeros(it.size, dtype=bool)
        if it.size > 1:
            same_run = tr[1:] == tr[:-1]
            brk_t[1:] = same_run & (
                bx[it][1:] >= ce[:-1] + thresh_g[it][1:]
            )
        disc = np.zeros(NR, dtype=bool)
        np.logical_or.at(disc, tr[brk_t], True)
        run_split = tall_spans & ~disc
        tall_g &= run_split[grun]

    # segment per RUN: the payload's k-th spanning run -> seg 2k+1; a
    # non-spanning run sits in the region AFTER all spanning runs of its
    # own band (k = spanning runs in earlier bands + in this band) -> seg
    # 2k — the interleaved reading order (region above the title, title,
    # region below), degenerating to the r3 band-level segmentation when
    # every band is pure
    span_i = run_span.astype(np.int64)
    bstart_runs = np.searchsorted(run_band, np.arange(NB))
    band_nspan = np.add.reduceat(span_i, bstart_runs)
    cum_span_band = np.cumsum(band_nspan) - band_nspan  # before band, global
    pid_first_gband = np.searchsorted(gband_pid, np.arange(P))
    base_pid = cum_span_band[pid_first_gband]  # before payload start
    srank = np.cumsum(span_i) - span_i  # spanning runs before run, global
    region_seg_of_run = 2 * (
        cum_span_band[run_band] + band_nspan[run_band] - base_pid[run_pid]
    )
    seg_of_run = np.where(
        run_span, 2 * (srank - base_pid[run_pid]) + 1, region_seg_of_run
    )
    # per-GLYPH segment: short glyphs of height-split runs demote to their
    # band's region segment (a split run keeps its spanning seg for the
    # tall subset, so the span ranks/counts above are unchanged)
    seg_g = seg_of_run[grun]
    split_any = bool(run_split.any())
    if split_any:
        demote_g = run_split[grun] & ~tall_g
        seg_g = np.where(demote_g, region_seg_of_run[grun], seg_g)
    segbound = int(seg_g.max()) + 1
    if (P * segbound + 1) * int(bigx) > _KEY_LIMIT:
        # composite segment keys would overflow int64 — adversarial-scale
        # coords only. The bound grows with P, so halve the batch until it
        # fits; a payload that overflows alone takes the tolerant parser
        if P == 1:
            results[pids[0]] = extract_pdfish(payloads[pids[0]])
        else:
            for part in (pids[: P // 2], pids[P // 2 :]):
                for i, r in zip(part, extract_pdfish_many([payloads[i] for i in part])):
                    results[i] = r
        return results
    greg_of_run = run_pid * segbound + seg_of_run

    # ---- column clustering per (payload, segment): x-projection union with
    # gap threshold = COL_GAP_FACTOR * max reading extent (page-global). A
    # spanning segment is one x-run by construction (height-split promotion
    # requires it too) -> exactly one column, so the shared pipeline below
    # handles both segment kinds uniformly.
    if split_any:
        # a height-split run's SHORT remainder need not be a contiguous
        # x-interval (the tall glyphs it lost may have bridged gaps), so
        # run granularity is unsound for this batch: cluster at GLYPH
        # granularity, exactly the slow path's cluster_columns (rare —
        # only batches containing mixed-height spanning runs pay the
        # G-length sort)
        greg_g = pid * segbound + seg_g
        gxkey = bx + greg_g * bigx
        gxend = bx + bw + greg_g * bigx
        ordc = np.argsort(gxkey, kind="stable")
        cend = np.maximum.accumulate(gxend[ordc])
        brkc = np.empty(G, dtype=bool)
        brkc[0] = True
        brkc[1:] = gxkey[ordc][1:] >= cend[:-1] + thresh_g[ordc][1:]
        col_sorted = np.cumsum(brkc) - 1
        col = np.empty(G, dtype=np.int64)
        col[ordc] = col_sorted  # global column id, ascending in (pid, seg, x)
    else:
        # run granularity: each band x-run is a contiguous x-interval whose
        # internal gaps are < thresh (by run construction), and
        # interval-union connectivity is associative, so the union of runs
        # equals the union of their glyphs — one small sort over ~#lines
        # runs instead of a G-length sort (measured section win)
        run_thresh = thresh_p[run_pid]
        rkey = run_x_lo + greg_of_run * bigx
        rend = run_x_hi + greg_of_run * bigx
        # equal keys tie-break by input order, as the slow path's stable
        # x-sort of the region does. Ties only split columns when the
        # page's gap threshold is 0 (every glyph zero-width), and then every
        # run is one glyph, so its first glyph's index is the input order
        ordr = np.lexsort((bord[run_first], rkey))
        rrun_end = np.maximum.accumulate(rend[ordr])
        brkc = np.empty(NR, dtype=bool)
        brkc[0] = True
        brkc[1:] = rkey[ordr][1:] >= rrun_end[:-1] + run_thresh[ordr][1:]
        col_sorted = np.cumsum(brkc) - 1
        col_run = np.empty(NR, dtype=np.int64)
        col_run[ordr] = col_sorted
        col = col_run[grun]  # global column id, ascending in (pid, seg, x)

    # ---- y-interval band clustering per column (col id is globally unique)
    ykey = by + col * bigy
    endkey = by + bh + col * bigy
    order = np.lexsort((bx, ykey))
    yk_s = ykey[order]
    run_end = np.maximum.accumulate(endkey[order])
    brk = np.empty(G, dtype=bool)
    brk[0] = True
    brk[1:] = yk_s[1:] >= run_end[:-1]
    band = np.cumsum(brk) - 1  # global band id (pid- and col-contiguous)

    brk_idx = np.flatnonzero(brk)
    band_lo = by[order][brk_idx]
    band_hi = np.maximum.reduceat((by + bh)[order], brk_idx)
    band_pid = pid[order][brk_idx]
    c2t = band_lo + band_hi
    c2 = np.where(negband_p[band_pid], 2 * S - c2t, c2t)
    keep_band = ~_margin_mask(c2, dim_p[band_pid])
    kept_cum = np.cumsum(keep_band)
    first_band = np.searchsorted(band_pid, np.arange(P))
    pid_base = kept_cum[first_band] - keep_band[first_band]
    unit_of_band = kept_cum - 1 - pid_base[band_pid]  # unit id within payload

    # ---- reading order (band, x) + word-gap spaces
    ord2 = np.lexsort((bx[order], band))
    g2 = order[ord2]  # original glyph index in reading order
    band2 = band[ord2]
    x2, w2 = bx[g2], bw[g2]
    same = np.empty(G, dtype=bool)
    same[0] = False
    same[1:] = band2[1:] == band2[:-1]
    gap = np.empty(G, dtype=np.int64)
    gap[0] = 0
    gap[1:] = x2[1:] - (x2[:-1] + w2[:-1])
    space = np.zeros(G, dtype=bool)
    space[1:] = (
        same[1:]
        & (gap[1:] >= 1)
        & (PDFISH_SPACE_DEN * gap[1:] >= PDFISH_SPACE_NUM * w2[:-1])
    )

    # ---- assemble: the kept glyphs' codepoints in reading order, each
    # preceded by its lead char ('\n' before a band that isn't the payload's
    # first KEPT band, ' ' on word gaps, none otherwise), decoded ONCE; each
    # payload's text and spans are slices (glyphs are pid-contiguous)
    sel = np.flatnonzero(keep_band[band2])
    g_sel = g2[sel]
    unit_sel = unit_of_band[band2[sel]]
    newline = ~same[sel] & (unit_sel != 0)
    has_lead = space[sel] | newline
    pos = np.arange(sel.size) + np.cumsum(has_lead)  # glyph slot in out
    out = np.empty(sel.size + int(has_lead.sum()), dtype=np.uint32)
    out[pos] = chs[g_sel]
    out[pos[has_lead] - 1] = np.where(newline[has_lead], 10, 32)
    text = out.tobytes().decode("utf-32-le", "surrogatepass")
    kept_bounds = np.searchsorted(pid[g_sel], np.arange(P + 1))
    lead_before = np.zeros(sel.size + 1, dtype=np.int64)
    np.cumsum(has_lead, out=lead_before[1:])
    tb = (kept_bounds + lead_before[kept_bounds]).tolist()
    o_sel = offs[g_sel]
    spans = list(zip(unit_sel.tolist(), o_sel.tolist(), (o_sel + 1).tolist()))
    kb = kept_bounds.tolist()
    for k in range(P):
        results[pids[k]] = (text[tb[k] : tb[k + 1]], spans[kb[k] : kb[k + 1]])
    return results
