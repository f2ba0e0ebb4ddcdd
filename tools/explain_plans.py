"""Dump physical plans of headline queries to PLANS.md with a short audit:
filter pushdown reaching the parquet scan, column pruning (ReadSchema),
broadcast joins on dimension tables, and shuffle counts.

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(plan: str) -> list[str]:
    notes = []
    n_exch = len(re.findall(r"\bExchange\b", plan))
    notes.append(f"shuffles (Exchange): {n_exch}")
    if "PushedFilters: [" in plan:
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        nonempty = [p for p in pushed if p.strip()]
        notes.append(f"pushed filters: {len(nonempty)} scan(s)")
    bcast = len(re.findall(r"BroadcastHashJoin", plan))
    if bcast:
        notes.append(f"broadcast hash joins: {bcast}")
    smj = len(re.findall(r"SortMergeJoin", plan))
    if smj:
        notes.append(f"sort-merge joins: {smj}")
    wsc = len(set(re.findall(r"codegen id : (\d+)", plan)))
    notes.append(f"whole-stage codegen spans: {wsc}")
    return notes


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from univer_ocr_spark.generator.transcripts import transcripts_df
    from univer_ocr_spark.ops import dedup, relational, similarity, textstats
    from univer_ocr_spark.spark.pipeline import conv_stats, run_extraction
    from univer_ocr_spark.spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=8)

    targets = {
        "transcripts extraction (shuffle-free map)": run_extraction(
            transcripts_df(spark, 5, with_goldens=False)
        ),
        "conv_stats (one groupBy, partial agg map-side)": conv_stats(
            run_extraction(transcripts_df(spark, 5, with_goldens=False))
        ),
        "q1_pricing_summary": relational.q1_pricing_summary(spark, sf_dir),
        "q_revenue_by_nation (broadcast dims)": relational.q_revenue_by_nation(spark, sf_dir),
        "q_topk_parts": relational.q_topk_parts(spark, sf_dir),
        "ann_bruteforce_topk (broadcast queries)": similarity.ann_bruteforce_topk(spark, sf_dir),
        "minhash_lsh_pairs (bucket pair generation)": dedup.minhash_lsh_pairs(spark, sf_dir),
        "lsh_verified_pairs (2-stage sketch cascade, survivor-only verify)": dedup.lsh_verified_pairs(spark, sf_dir),
        "ann_ivf_topk (centroid cell probe)": similarity.ann_ivf_topk(spark, sf_dir),
        "ann_ivf_scaled_topk (sqrt(n) cells)": similarity.ann_ivf_scaled_topk(spark, sf_dir),
        "ann_lsh_topk (banded sign-LSH)": similarity.ann_lsh_topk(spark, sf_dir),
        "simhash_neardup_pairs (width-64 banded Hamming, bucket pairs)": dedup.simhash_neardup_pairs(spark, sf_dir),
        "ngram_jaccard_pairs (stop-shingle anti-join + bucket pairs)": dedup.ngram_jaccard_pairs(spark, sf_dir),
        "q_events_within_hour (bucketed containment join)": relational.q_events_within_hour(spark, sf_dir),
        "q17_small_qty_revenue (decorrelated scalar subquery)": relational.q17_small_qty_revenue(spark, sf_dir),
        "doc_top_terms (tf-idf: one tf agg + term-window df + rank)": textstats.doc_top_terms(spark, sf_dir),
        "q_asof_join (linear union+carry-forward, no range join)": relational.q_asof_join(spark, sf_dir),
        "doc_repetition_stats (zero-shuffle HOF aggregates)": textstats.doc_repetition_stats(spark, sf_dir),
    }

    preamble = """
## Bucket cardinality as a function of corpus size (r5)

Every near-dup/ANN candidate set is keyed on a bucket key (near-dup paths:
`dedup.bucket_pairs`; ANN: query-vs-candidate equi-join); the within-bucket
work is quadratic in bucket occupancy, so key entropy is the scale
contract. Where each path stands at corpus size n:

| path | bucket key | distinct keys | occupancy at n |
|---|---|---|---|
| minhash_lsh_pairs | raw 3-long signature slice per band, 85 bands (r6: no md5 — array group key, same equality classes; r5: 256-permutation budget steepens the derived S-curve to r=3/b=85) | ~min(n, 2^180) (signature triple) | ~1 per identical-pair group; candidate volume ~ n^2 * P(J) with P(0.025)~1.3e-3 (12x down vs r4) |
| simhash_neardup_pairs(_wide) | 16-bit band value x (width/16) bands; one path, 64-bit query = width 64 (4 bands), `_w96` = width 96 (6 bands) | 2^16 per band (r2: 2^8) | n / 65536 per band, more bands = bigger Hamming budget |
| ann_lsh_topk / embedding_cosine_neardup | sign pattern of b dims per band | 2^b, b = _sign_band_bits(n) in [8,16] | ~SIGN_BUCKET_TARGET by construction |
| ann_ivf_topk | per-label centroid cell | label cardinality (fixed twin) | n / labels |
| ann_ivf_scaled_topk | sign prefix, ceil(log2(sqrt(n))) bits | ~sqrt(n) | ~sqrt(n) |
| exact dedup / streaming dedup | full content fingerprint (md5) | ~n | ~1 + duplicate multiplicity |

Raising scale further: SimHash widens from 64 to 96/128-bit signatures
(`simhash_*_wide(width)`, tested at 64 and 96); sign-LSH raises SIGN_BAND_BITS_MAX with
embedding dim; IVF tracks sqrt(n) automatically. Corpus counts for index
sizing come from parquet footer metadata (`_corpus_count`), not scans.

r5 driver-side contract: the 255-permutation signature stays ONE wide
map-side-combined aggregate for execution, but is packed into a single
array<long> column behind a localCheckpoint (`dedup._packed_sigs`) so
every downstream plan is a few higher-order-function expressions —
Catalyst re-runs ANALYSIS per invocation and a 255-column plan costs
~2.3s of driver time per query (LSH trio walls 11/13/21s -> 4.1/6.5/10s).
`neardup_clusters` additionally checkpoints the verified pairs BEFORE the
src/dst symmetrizing union (both branches would otherwise re-execute the
whole verify lineage) and folds the CC convergence count into the jump
pass (one job per round).

r6 (OPTIMIZATION_r06.md records the before/after evidence):
shared-key pair generation (LSH candidates, ngram shared counts, SimHash
bands and embedding sign-LSH bands) is one primitive, `dedup.bucket_pairs`:
groupBy(bucket key) + array_sort(collect_list) + combination explode — the
keyed stream crosses the network ONCE, not twice as in the former
self-join; the band key is the raw 3-long signature slice (array equi-join,
no md5). lsh_verified_pairs filters candidates through a TWO-stage sketch
cascade (8-bit compressed components over all ~9.25M candidate rows — a
provable superset filter at 1/8 the attached bytes — then the exact 60-bit
count on its ~36k-row output) and re-shingles ONLY surviving docs behind a
broadcast LeftSemi join instead of re-shuffling the full corpus stream.
doc_top_terms derives df from a term-window over the single tf frame (one
token explode, was two). The extraction stage builds spans once per Arrow
batch as a ListArray from flat int32 buffers (no per-span dict).
"""

    out = [
        "# PLANS.md — physical plan audit (generated by tools/explain_plans.py)\n"
        + preamble
    ]
    for name, df in targets.items():
        plan = plan_of(df)
        out.append(f"## {name}\n")
        out.append("**Audit:** " + "; ".join(audit(plan)) + "\n")
        out.append("```\n" + plan.strip()[:4000] + "\n```\n")
        print(name, "->", "; ".join(audit(plan)))
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
