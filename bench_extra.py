#!/usr/bin/env python
"""Extra measurements for the optimization rounds (bench.py is FROZEN; this
file carries the noop-sink / per-phase evidence cited in OPTIMIZATION_r*.md).

Usage:
  python bench_extra.py [phase ...]        # default: all dedup phases
Env:
  SPARK_GRAFT_SF_DIR  (default /root/testdata/sf1.0)
  SPARK_GRAFT_CPUS    (default 32)
  BENCH_EXTRA_REPS    (default 2; reports best)

Prints one line per phase:  <phase>: best=<s> samples=[..]
Methodology mirrors bench.py: clearCache between runs, count() action for
whole declared queries (the frozen bench methodology), noop sink for
sub-phase isolation (guide §1.4).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("BENCH_EXTRA_REPS", "2"))


def main() -> None:
    from pyspark.sql import functions as F

    from univer_ocr_spark.ops import dedup
    from univer_ocr_spark.spark.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", app_name="bench_extra")
    sc = spark.sparkContext

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(name, fn, reps=REPS):
        samples = []
        for _ in range(reps):
            spark.catalog.clearCache()
            sc.setJobDescription(name)
            t0 = time.perf_counter()
            fn()
            samples.append(round(time.perf_counter() - t0, 3))
            sc.setJobDescription(None)
        print(f"{name}: best={min(samples)} samples={samples}", flush=True)

    # ---- sub-phases of the MinHash/LSH pipeline ----------------------------
    def p_explode_raw():
        noop(dedup._exploded_shingles(spark, SF_DIR))

    def p_signatures():
        noop(dedup._signatures_from(dedup._exploded_shingles(spark, SF_DIR)))

    def p_packed():
        dedup._packed_sigs(dedup._exploded_shingles(spark, SF_DIR)).count()

    def p_candidates():
        dedup._lsh_candidates_from_sigs(
            dedup._packed_sigs(dedup._exploded_shingles(spark, SF_DIR))
        ).count()

    # ---- whole declared queries (bench.py methodology: .count()) -----------
    def q(fn):
        return lambda: fn(spark, SF_DIR).count()

    phases = {
        "explode_raw": p_explode_raw,
        "signatures": p_signatures,
        "packed_sigs": p_packed,
        "candidates": p_candidates,
        "minhash_signatures": q(dedup.minhash_signatures),
        "minhash_lsh_pairs": q(dedup.minhash_lsh_pairs),
        "ngram_jaccard_pairs": q(dedup.ngram_jaccard_pairs),
        "lsh_verified_pairs": q(dedup.lsh_verified_pairs),
        "neardup_clusters": q(dedup.neardup_clusters),
        "simhash_neardup_pairs": q(dedup.simhash_neardup_pairs),
    }
    want = sys.argv[1:] or list(phases)
    # warm-up: spawn workers / codegen once
    spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    for name in want:
        timed(name, phases[name])
    spark.stop()


if __name__ == "__main__":
    main()
