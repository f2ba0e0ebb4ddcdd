"""Seeded benchmark inputs, built once per (seed, generator fingerprint, size)
and cached under ``perfbench/.work/cache``.

Transcripts come from the package's own generator
(``generator.transcripts.transcripts_df``); their per-turn golden digests
are derived in the same Spark job from the generator's by-construction gold
columns and cross-checked against ``generator.goldens.golden_digest_rows``.
Documents (same schema as the ``documents`` test table) and their
near-duplicate clones come from the seeded generator below.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import shutil
from pathlib import Path
from random import Random

CACHE = Path(__file__).resolve().parent / ".work" / "cache"

# vocabulary, lengths and language mix of the `documents` test table
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
CLONE_EDIT_MAX = 0.15  # a clone re-draws up to this share of its words


def _cached(name: str, build) -> Path:
    """Return ``CACHE/name``, building it first (into a private temp dir that
    is renamed into place, so an interrupted build is never reused)."""
    final = CACHE / name
    if (final / "meta.json").exists():
        return final
    tmp = CACHE / f".{name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    meta = build(tmp)
    (tmp / "meta.json").write_text(json.dumps(meta, sort_keys=True))
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def meta(path: Path) -> dict:
    return json.loads((path / "meta.json").read_text())


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


# ------------------------------------------------------------ transcripts --

def span_digest_cols(text_col: str, spans_col: str):
    """(n_units, n_spans, n_chars, text_md5, spans_str) of an extraction, in
    the digest definition of ``generator.goldens.golden_digest_rows``."""
    from pyspark.sql import functions as F

    spans = F.col(spans_col)
    return [
        F.when(F.size(spans) == 0, F.lit(0))
        .otherwise(F.element_at(spans, -1)["unit"] + 1).cast("long").alias("n_units"),
        F.size(spans).cast("long").alias("n_spans"),
        F.length(text_col).cast("long").alias("n_chars"),
        F.md5(F.col(text_col)).alias("text_md5"),
        F.concat_ws(";", F.transform(spans, lambda s: F.concat_ws(
            ":", s["unit"], s["start"], s["end"]))).alias("spans_str"),
    ]


def transcripts(spark, seed: int, n_convs: int, cores: int) -> Path:
    """Transcript table with one mega-conversation holding ~5 % of turns,
    written with small row groups so the scan splits without a shuffle.
    Holds ``input/`` (the table), ``golden/`` (per-turn digests) and
    ``meta.json`` (turn count, golden sums, sizes)."""
    from pyspark.sql import functions as F

    from univer_ocr_spark.generator.goldens import (
        GOLDEN_DIGEST_COLS, generator_fingerprint, golden_digest_rows)
    from univer_ocr_spark.generator.transcripts import transcripts_df

    mega = n_convs * 11 // 19  # mean conv is 11 turns: mega ≈ 5 % of all turns

    def build(tmp: Path) -> dict:
        gen = transcripts_df(spark, n_convs, mega_conv_count=1, mega_conv_size=mega,
                             global_seed=seed, with_goldens=True,
                             partitions=2 * cores).persist()
        (gen.drop("gold_text", "gold_spans", "payload_kind")
            .write.option("parquet.block.size", 256 * 1024)
            .parquet(str(tmp / "input")))
        gen.select("conv_id", "turn_idx", F.col("payload_kind").alias("kind"),
                   *span_digest_cols("gold_text", "gold_spans")) \
            .coalesce(1).write.parquet(str(tmp / "golden"))
        gen.unpersist()
        golden = spark.read.parquet(str(tmp / "golden"))
        sums = golden.agg(F.count(F.lit(1)).alias("turns"),
                          F.sum("n_chars").alias("chars"),
                          F.sum("n_spans").alias("spans")).collect()[0]
        # the Spark-side digest must be the goldens module's digest: compare
        # the first turns (the mega-conversation plus a few ordinary ones)
        ref = list(itertools.islice(golden_digest_rows(n_convs, 1, mega, seed), mega + 100))
        got = {(r["conv_id"], r["turn_idx"]): r.asDict() for r in golden.filter(
            F.col("conv_id") <= ref[-1]["conv_id"]).collect()}
        for r in ref:
            g = got.get((r["conv_id"], r["turn_idx"]))
            if g is None or any(g[c] != r[c] for c in GOLDEN_DIGEST_COLS):
                raise RuntimeError(f"golden digest mismatch at {r['conv_id']}/{r['turn_idx']}")
        return {"seed": seed, "n_convs": n_convs, "mega_conv_size": mega,
                "turns": sums["turns"], "chars": sums["chars"], "spans": sums["spans"],
                "input_bytes": dir_bytes(tmp / "input")}

    return _cached(f"transcripts-s{seed}-g{generator_fingerprint()}-c{n_convs}", build)


# -------------------------------------------------------------- documents --

def _doc_generator_fingerprint() -> str:
    return hashlib.blake2b(Path(__file__).read_bytes(), digest_size=4).hexdigest()


def documents(seed: int, n_base: int, clone_share: float) -> Path:
    """``documents.parquet`` of ``n_base`` random docs plus
    ``clone_share * n_base`` near-duplicate clones. A clone copies a base
    doc, re-draws a random share (0..CLONE_EDIT_MAX) of its words, appends
    one word and gets a fresh doc_id. ``meta.json`` records the clone →
    source map."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(tmp: Path) -> dict:
        rng = Random(seed)
        texts = [" ".join(rng.choices(VOCAB, k=rng.randint(10, 100))) for _ in range(n_base)]
        n_clones = round(n_base * clone_share)
        sources = rng.sample(range(n_base), n_clones)
        for src in sources:
            words = texts[src].split(" ")
            rate = rng.uniform(0.0, CLONE_EDIT_MAX)
            words = [rng.choice(VOCAB) if rng.random() < rate else w for w in words]
            texts.append(" ".join(words) + " dup")
        n = len(texts)
        table = pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": rng.choices(LANGS, weights=LANG_WEIGHTS, k=n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
        pq.write_table(table, tmp / "documents.parquet")
        return {"seed": seed, "n_base": n_base, "docs": n, "clones": n_clones,
                "clone_share": n_clones / n,
                "clone_of": {str(n_base + i): s for i, s in enumerate(sources)}}

    key = f"docs-s{seed}-g{_doc_generator_fingerprint()}-n{n_base}-c{clone_share}"
    return _cached(key, build)


def oracle(docs_dir: Path, name: str, sql: str):
    """DuckDB oracle result for ``sql`` over ``docs_dir/documents.parquet``,
    computed once per input and cached next to it."""
    import duckdb
    import pandas as pd

    path = docs_dir / f"oracle-{name}.parquet"
    if not path.exists():
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{docs_dir / 'documents.parquet'}')")
            df = con.execute(sql).df()
        finally:
            con.close()
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        df.to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return pd.read_parquet(path)
