"""Cross-session determinism: run the identical extraction job in two
SEPARATE Spark sessions (different JVMs, different parallelism) and compare
full result hashes — the differential test of SURVEY §5.4 (the analog of the
reference's CPU-vs-GPU identity test, ref: nn/test/test_identity.py:76-134).

Usage: python tools/determinism_check.py [n_low] [n_high]
Prints PASS/FAIL; exit code accordingly.
"""

from __future__ import annotations

import hashlib
import subprocess
import sys
import tempfile

WORKER = r"""
import hashlib, sys
sys.path.insert(0, sys.argv[2])
from pyspark.sql import functions as F
from univer_ocr_spark.spark.session import get_spark
from univer_ocr_spark.generator.transcripts import transcripts_df
from univer_ocr_spark.spark.pipeline import run_extraction

cpus = int(sys.argv[1])
spark = get_spark(master=f"local[{cpus}]", app_name=f"det_{cpus}")
df = transcripts_df(spark, 40, mega_conv_count=1, mega_conv_size=300,
                    partitions=cpus)
out = run_extraction(df)
rows = (
    out.select("conv_id", "turn_idx", "extracted_text",
               F.col("spans").cast("string").alias("s"))
    .orderBy("conv_id", "turn_idx")
    .collect()
)
h = hashlib.blake2b(digest_size=16)
for r in rows:
    h.update(repr((r["conv_id"], r["turn_idx"], r["extracted_text"], r["s"])).encode())
print("HASH", len(rows), h.hexdigest())
spark.stop()
"""


REPO = __import__("os").path.dirname(__import__("os").path.dirname(
    __import__("os").path.abspath(__file__)))


def run(cpus: int) -> str:
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(WORKER)
        path = f.name
    try:
        out = subprocess.run(
            [sys.executable, path, str(cpus), REPO],
            capture_output=True, text=True, check=True,
        )
    finally:
        import os
        os.unlink(path)
    for line in out.stdout.splitlines():
        if line.startswith("HASH"):
            return line
    raise RuntimeError(f"no hash line:\n{out.stdout}\n{out.stderr}")


def main() -> int:
    n_low = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    n_high = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    a, b = run(n_low), run(n_high)
    print(f"local[{n_low}]: {a}")
    print(f"local[{n_high}]: {b}")
    ok = a == b
    print("PASS: identical output across sessions/parallelism" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
