"""Transcript table generator (schema per BASELINE.json ``input_hint``).

columns: conv_id:string, turn_idx:int, role:string, text:string, tool:string,
ts:timestamp (+ golden columns gold_text, gold_spans, payload_kind used only
by tests/benchmarks).

Determinism contract (FIXTURES.md): every cell is a pure function of
(global_seed, conv_id, turn_idx) — independent of partitioning, process,
or PYTHONHASHSEED. The Spark path (``mapInPandas`` over ``spark.range``) and
the local pandas path produce byte-identical rows.

Skew: conversation sizes are mostly 2-20 turns with a configurable number of
mega-conversations (10^3-10^4 turns) to exercise the skew the reference
never handles (SURVEY.md X14).
"""

from __future__ import annotations

import datetime as _dt
from random import Random
from typing import Dict, Iterator, List

from univer_ocr_spark.constants import GLOBAL_SEED, turn_seed
from univer_ocr_spark.generator.html_gen import generate_html
from univer_ocr_spark.generator.markup_gen import generate_markup
from univer_ocr_spark.generator.pdfish_gen import generate_pdfish
from univer_ocr_spark.generator.words import ascii_word

_EPOCH_BASE = 1700000000  # 2023-11-14T22:13:20Z
_TOOLS = ("html_fetch", "pdf_read", "shell", "search", "code_run")

# Spark-side schema strings (golden variant adds test-only columns).
TRANSCRIPT_COLS = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
GOLDEN_COLS = (
    TRANSCRIPT_COLS
    + ", gold_text string, gold_spans array<struct<unit:int,start:int,end:int>>, payload_kind string"
)


def conv_id_of(idx: int) -> str:
    return f"conv-{idx:08d}"


def conv_size(idx: int, mega_conv_count: int = 0, mega_conv_size: int = 1000,
              global_seed: int = GLOBAL_SEED) -> int:
    """Deterministic size; the first ``mega_conv_count`` convs are mega."""
    if idx < mega_conv_count:
        return mega_conv_size
    rng = Random(turn_seed(conv_id_of(idx), -1, global_seed))
    return rng.randint(2, 20)


def build_turn(conv_id: str, turn_idx: int, global_seed: int = GLOBAL_SEED) -> Dict:
    """One turn: payload + goldens, fully determined by the key."""
    rng = Random(turn_seed(conv_id, turn_idx, global_seed))
    r = rng.random()
    if r < 0.5:
        kind = "html"
        payload, gold_text, gold_spans, _blocks = generate_html(rng)
    elif r < 0.75:
        kind = "pdfish"
        payload, gold_text, gold_spans, _blocks = generate_pdfish(rng)
    else:
        kind = "toolmarkup"
        payload, gold_text, gold_spans, _blocks = generate_markup(rng)

    if kind == "toolmarkup":
        role, tool = "tool", rng.choice(_TOOLS)
    elif turn_idx == 0:
        role, tool = ("system" if rng.random() < 0.2 else "user"), ""
    else:
        role, tool = ("user" if turn_idx % 2 == 0 else "assistant"), ""

    ts_off = (turn_seed(conv_id, -2, global_seed) % 1_000_000) * 60 + turn_idx * 37
    ts = _dt.datetime.fromtimestamp(_EPOCH_BASE + ts_off, tz=_dt.timezone.utc)

    return {
        "conv_id": conv_id,
        "turn_idx": turn_idx,
        "role": role,
        "text": payload,
        "tool": tool,
        "ts": ts,
        "gold_text": gold_text,
        "gold_spans": [
            {"unit": u, "start": s, "end": e} for (u, s, e) in gold_spans
        ],
        "payload_kind": kind,
    }


def iter_conv_rows(idx: int, mega_conv_count: int = 0, mega_conv_size: int = 1000,
                   global_seed: int = GLOBAL_SEED) -> Iterator[Dict]:
    cid = conv_id_of(idx)
    for t in range(conv_size(idx, mega_conv_count, mega_conv_size, global_seed)):
        yield build_turn(cid, t, global_seed)


def transcripts_df(spark, n_convs: int, mega_conv_count: int = 0,
                   mega_conv_size: int = 1000, global_seed: int = GLOBAL_SEED,
                   with_goldens: bool = True, partitions: int | None = None):
    """Distributed builder: ``spark.range(n_convs)`` → per-conv row fan-out
    inside ``mapInPandas`` (analog of the reference's prefetching generator
    processes, ref: train_data_generator.py:44-87 — but expressed as Spark
    tasks over an id range instead of a hand-rolled process pool)."""
    import pandas as pd  # local import: executors re-import cheaply

    schema = GOLDEN_COLS if with_goldens else TRANSCRIPT_COLS
    keep_gold = with_goldens

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: List[Dict] = []
            for idx in pdf["id"].tolist():
                for row in iter_conv_rows(int(idx), mega_conv_count,
                                          mega_conv_size, global_seed):
                    if not keep_gold:
                        row = {k: row[k] for k in
                               ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
                    out.append(row)
                if len(out) >= 2000:
                    yield pd.DataFrame(out)
                    out = []
            if out:
                yield pd.DataFrame(out)

    base = spark.range(n_convs)
    if partitions:
        base = base.repartition(partitions)
    return base.mapInPandas(gen, schema=schema)
