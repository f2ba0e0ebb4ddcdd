"""Width-parameterized SimHash: the 64-bit queries and the 96/128-bit
extension are one pipeline. Pins (a) the signatures against an independent
pure-Python SimHash, (b) planted near-dup recall, and (c) the pigeonhole
Hamming guarantee of the banded pairs, at widths 64 and 96."""

from __future__ import annotations

import hashlib
import re

import pytest

from univer_ocr_spark.ops import dedup


@pytest.fixture(scope="module")
def simhash_docs_dir(spark, tmp_path_factory):
    """Docs with planted near-dup pairs: 5 exact duplicates (Hamming 0 at
    any width) and 5 pairs of 200-token docs differing in ONE token — a
    ~1% shingle change keeps the per-bit flip probability ~theta/pi ~ 2%,
    so signatures land within a few flipped bits of each other. The short
    docs exercise tied bit votes and the single-token shingle."""
    d = tmp_path_factory.mktemp("simhash_wide")
    rows = []
    doc_id = 0
    for i in range(5):  # exact duplicates
        text = " ".join(f"e{i}w{j}" for j in range(40))
        rows.append((doc_id, text))
        rows.append((doc_id + 1, text))
        doc_id += 2
    for i in range(5):  # one-token change in 200
        base = [f"s{i}w{j}" for j in range(200)]
        variant = list(base)
        variant[100] = f"s{i}X"
        rows.append((doc_id, " ".join(base)))
        rows.append((doc_id + 1, " ".join(variant)))
        doc_id += 2
    for i in range(20):  # unrelated filler
        rows.append((doc_id, " ".join(f"u{i}w{j}" for j in range(30))))
        doc_id += 1
    for i in range(4):  # 2 shingles (bit votes tie) and a 1-token doc
        rows.append((doc_id, f"t{i}a t{i}b t{i}c"))
        rows.append((doc_id + 1, f"Solo{i}"))
        doc_id += 2
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def _reference_signatures(texts: dict, width: int) -> dict:
    """SimHash by hand: md5 over each doc's distinct word 2-gram shingles,
    32-bit halves from hex chars [8i, 8i+8), per-bit majority vote with a
    tie counting as 1. The fixture's texts are single-space ASCII words, so
    whitespace-collapse + lower-case is the whole normalization."""
    sigs = {}
    for doc_id, text in texts.items():
        toks = re.sub(r"\s+", " ", text.strip()).lower().split(" ")
        shingles = (
            {f"{a} {b}" for a, b in zip(toks, toks[1:])}
            if len(toks) >= 2 else {" ".join(toks)}
        )
        digests = [hashlib.md5(sh.encode()).hexdigest() for sh in shingles]
        halves = []
        for i in range(width // 32):
            hs = [int(d[8 * i:8 * i + 8], 16) for d in digests]
            halves.append(sum(
                1 << j for j in range(32)
                if sum(1 if h >> j & 1 else -1 for h in hs) >= 0
            ))
        sigs[doc_id] = tuple(halves)
    return sigs


@pytest.mark.parametrize("width", [64, 96])
def test_signatures_match_python_reference(spark, simhash_docs_dir, width):
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(
            f"{simhash_docs_dir}/documents.parquet"
        ).collect()
    }
    got = {
        r["doc_id"]: tuple(r[f"sim_{i}"] for i in range(width // 32))
        for r in dedup.simhash_signatures_wide(
            spark, simhash_docs_dir, width=width
        ).collect()
    }
    want = _reference_signatures(texts, width)
    assert got == want
    if width == 64:  # the public 64-bit query names its halves (sim_hi, sim_lo)
        public = {
            r["doc_id"]: (r["sim_lo"], r["sim_hi"])
            for r in dedup.simhash_signatures(spark, simhash_docs_dir).collect()
        }
        assert public == want


@pytest.mark.parametrize("width", [64, 96])
def test_planted_pair_recall_and_hamming_exactness(
    spark, simhash_docs_dir, width
):
    planted = {(2 * i, 2 * i + 1) for i in range(10)}
    n = width // 32
    if width == 64:  # the 64-bit public queries, (sim_hi, sim_lo) halves
        sigs = {
            r["doc_id"]: (r["sim_lo"], r["sim_hi"])
            for r in dedup.simhash_signatures(spark, simhash_docs_dir).collect()
        }
        pairs = dedup.simhash_neardup_pairs(spark, simhash_docs_dir).collect()
    else:
        sigs = {
            r["doc_id"]: tuple(r[f"sim_{i}"] for i in range(n))
            for r in dedup.simhash_signatures_wide(
                spark, simhash_docs_dir, width=width
            ).collect()
        }
        pairs = dedup.simhash_neardup_pairs_wide(
            spark, simhash_docs_dir, width=width
        ).collect()
    assert all(0 <= h < 2**32 for s in sigs.values() for h in s)

    def brute_hamming(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(sigs[a], sigs[b]))

    # planted pairs sit within the default budget (bands-1): exact dups at
    # Hamming 0, the 1%-changed pairs within a few bits
    budget = 2 * n - 1
    close = {p for p in planted if brute_hamming(*p) <= budget}
    assert len(close) >= 7, sorted(brute_hamming(*p) for p in planted)

    found = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs}
    # exact recall for every pair within the pigeonhole budget
    assert close <= set(found)
    # reported Hamming equals brute-force over the signatures
    for (a, b), h in found.items():
        assert h == brute_hamming(a, b)
    # and nothing outside the budget is reported
    assert all(h <= budget for h in found.values())
