"""The extraction pipeline: Arrow-batched per-turn extraction over
byte-sized tasks, plus the per-conversation rollup.

Spark restatement of the reference's predict path (ref: my_model/model.py:489-529
ModelSystem component chain; my_model/predict.py:34-66): the context dict
becomes DataFrame columns, the per-paragraph/line worker pools
(ref: interpreter.py:350-418) become Spark tasks over scan splits, and
the nested text result becomes (extracted_text, spans) columns.

Scale design (SURVEY.md X14 — the one thing the reference lacks):
- extraction is row-local, so the hot path has no shuffle:
  ``run_extraction`` only merges small scan splits (a narrow ``coalesce``)
  into byte-sized tasks, because every Python task still pays a fixed
  set-up cost before it reads a row (its former largest part, the zip
  directory re-reads, is paid once per worker: ``worker_setup``). Nothing
  is keyed by ``conv_id``, so there is no key skew for a mega-conversation
  to cause;
- per-conversation aggregates are one ``groupBy``: Spark's partial
  aggregation sends a reducer one row per conversation per map task, so a
  10^4-turn mega-conversation cannot serialize one reducer;
- output ordering is by (conv_id, turn_idx) *columns*, never partition
  layout, so merging splits cannot break the ordering contract.
"""

from __future__ import annotations

from itertools import chain
from typing import TYPE_CHECKING, Callable, Iterator, List

from pyspark.sql import DataFrame, functions as F, types as T

from univer_ocr_spark import EXTRACTION_VERSION
from univer_ocr_spark.extract import extract_payloads_batch

if TYPE_CHECKING:
    import pyarrow as pa

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("unit", T.IntegerType()),
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
        ]
    )
)

EXTRA_FIELDS = [
    T.StructField("extracted_text", T.StringType()),
    T.StructField("spans", SPAN_TYPE),
    T.StructField("kind", T.StringType()),
    T.StructField("n_units", T.IntegerType()),
    T.StructField("n_spans", T.IntegerType()),
    T.StructField("n_chars", T.IntegerType()),
]


def extract_stage(df: DataFrame, drop_payload: bool = False,
                  build_payloads: Callable[["pa.RecordBatch"], List[str]] | None = None,
                  ) -> DataFrame:
    """Append extraction columns via one Arrow-batched ``mapInArrow`` stage.

    One stage, no shuffle: Catalyst keeps upstream filters/pruning below it,
    and everything downstream sees plain columns. Pass-through columns go
    back to the JVM as the input batch's own Arrow arrays; ``spans`` is one
    ``ListArray<struct<unit,start,end>>`` per batch, built from flat int32
    buffers plus per-row offsets.

    ``build_payloads`` (input batch → one payload string per row) runs
    inside the extraction batch function, so a query that synthesizes its
    payloads still crosses into Python once; its input column is then
    ``text``, which ``drop_payload`` drops like a payload.

    ``drop_payload=True`` excludes the raw payload from the OUTPUT batch —
    the extracted table should not duplicate input payloads, and at KB-scale
    payloads this halves the Python→JVM Arrow traffic (a Python map stage
    cannot be column-pruned from above).
    """
    keep = [i for i, f in enumerate(df.schema.fields)
            if not (drop_payload and f.name == "text")]
    out_fields = [df.schema.fields[i] for i in keep]
    out_schema = T.StructType(out_fields + EXTRA_FIELDS)
    names = [f.name for f in out_schema.fields]

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            payloads = (build_payloads(batch) if build_payloads
                        else batch.column("text").to_pylist())
            texts, spans_col, kinds = (
                zip(*extract_payloads_batch(payloads)) if payloads else ((), (), ()))
            counts = np.fromiter(map(len, spans_col), np.int32, len(spans_col))
            offsets = np.zeros(len(counts) + 1, np.int32)
            np.cumsum(counts, out=offsets[1:])
            flat = np.fromiter(chain.from_iterable(chain.from_iterable(spans_col)),
                               np.int32, 3 * int(offsets[-1])).reshape(-1, 3)
            units = flat[:, 0]
            # a row's unit count is its last span's unit + 1 (0 without spans)
            n_units = np.zeros(len(counts), np.int32)
            has = counts > 0
            n_units[has] = units[offsets[1:][has] - 1] + 1
            spans = pa.ListArray.from_arrays(
                pa.array(offsets),
                pa.StructArray.from_arrays(
                    [pa.array(units), pa.array(flat[:, 1]), pa.array(flat[:, 2])],
                    names=["unit", "start", "end"]),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in keep] + [
                    pa.array(texts, pa.string()),
                    spans,
                    pa.array(kinds, pa.string()),
                    pa.array(n_units),
                    pa.array(counts),
                    pa.array(np.fromiter(map(len, texts), np.int32, len(texts))),
                ],
                names=names,
            )

    return df.mapInArrow(fn, schema=out_schema)


def _byte_sized_partitions(df: DataFrame) -> int:
    """Task count for extracting ``df`` without a shuffle: one task per core,
    or one per advisory partition size
    (``spark.sql.adaptive.advisoryPartitionSizeInBytes``, 64 MB by default)
    of the optimized plan's size estimate if that is more."""
    spark = df.sparkSession
    advisory = spark._jsparkSession.sessionState().conf().getConf(
        spark._jvm.org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES())
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    # unknown statistics read as Long.MaxValue; coalesce takes an int, and a
    # count above the input's partition count keeps every partition anyway
    return min(max(spark.sparkContext.defaultParallelism, -(-est // advisory)),
               2**31 - 1)


def run_extraction(df: DataFrame, drop_payload: bool = False) -> DataFrame:
    """Full pipeline: task sizing → extraction stage → version column.

    No shuffle: input partitions are merged with a narrow ``coalesce`` down
    to ``max(cores, ceil(estimated bytes / advisory partition size))``
    tasks. Each Python task still pays a fixed set-up cost before its first
    row (~0.04 CPU-s, driver JVM included, on a reused worker of a 4-core
    host, once ``worker_setup`` has made the zip-directory re-reads a
    once-per-process cost), so small scan splits are merged while splits
    already larger than the advisory size stay as they are. Tasks are sized
    by bytes, not keyed by ``conv_id``, so a mega-conversation weighs on a
    task only by its bytes.
    """
    out = extract_stage(df.coalesce(_byte_sized_partitions(df)),
                        drop_payload=drop_payload)
    return out.withColumn("extraction_version", F.lit(EXTRACTION_VERSION))


def conv_stats(extracted: DataFrame) -> DataFrame:
    """Per-conversation rollup: one ``groupBy("conv_id")``, one Exchange.
    Spark's partial aggregation combines each map task's rows before the
    shuffle, so a mega-conversation's reducer gets one row per map task,
    not one per turn."""
    return extracted.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_spans").alias("total_spans"),
    )
