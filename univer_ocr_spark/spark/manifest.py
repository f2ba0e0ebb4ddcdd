"""Per-partition checkpoint / lineage manifest with resume.

North-rule contract: the job checkpoints completed partitions to a manifest
table carrying per-partition lineage (input snapshot id, row counts,
extraction version) and throughput metrics, so a failed run resumes without
reprocessing. This generalizes the reference's checkpoint-on-improvement /
rollback-on-NaN training loop (ref: my_model/train.py:132-141,
nn/trainer.py:258-278 — SURVEY.md X10) from model weights to data
partitions.

Unit of work: a *bucket* = ``pmod(xxhash64(conv_id), n_buckets)`` —
deterministic across runs and independent of physical partitioning. The
input is bucketized ONCE (one shuffle, written ``partitionBy("bucket")``);
a run reads that staged table once, with the schema it wrote, and each
bucket is a partition filter on it. A manifest row commits after each
bucket's output lands; the output has no payload column.

Iceberg note: on a real cluster each bucket commit would be an Iceberg
snapshot append (``df.writeTo(tbl).append()``) and the manifest would cite
the snapshot id. This container has no Iceberg runtime jar, so the same
protocol is expressed with parquet directories + a parquet manifest table;
the commit/resume logic is identical.
"""

from __future__ import annotations

import os
import time
from typing import List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from univer_ocr_spark import EXTRACTION_VERSION
from univer_ocr_spark.spark.pipeline import run_extraction

MANIFEST_SCHEMA = (
    "bucket int, n_rows long, extraction_version string, "
    "input_snapshot string, output_snapshot string, wall_sec double, "
    "rows_per_sec double, committed_at double"
)


def bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def _staged_marker(staged_dir: str) -> str:
    return os.path.join(staged_dir, "_STAGED_INPUT")


def bucketize(spark: SparkSession, df: DataFrame, staged_dir: str,
              n_buckets: int, input_snapshot: str = "") -> None:
    """One-time shuffle: stage the input partitioned by bucket so each
    bucket's processing is a partition-pruned scan (no re-scan of the full
    input per bucket).

    The staged dir records which (input_snapshot, n_buckets) it was built
    from; a resume against a DIFFERENT input re-stages instead of silently
    extracting stale data.
    """
    want = f"{input_snapshot}\n{n_buckets}"
    marker = _staged_marker(staged_dir)
    if os.path.exists(os.path.join(staged_dir, "_SUCCESS")):
        try:
            with open(marker, encoding="utf-8") as fh:
                if fh.read() == want:
                    return
        except OSError:
            pass  # no/unreadable marker → treat as stale, re-stage
    (
        df.withColumn("bucket", bucket_expr(n_buckets))
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staged_dir)
    )
    with open(marker, "w", encoding="utf-8") as fh:
        fh.write(want)


def committed_buckets(spark: SparkSession, manifest_dir: str,
                      extraction_version: str = EXTRACTION_VERSION,
                      input_snapshot: str = "") -> set:
    """Buckets committed under the CURRENT (extraction version, input
    snapshot). A bucket committed by an older code version OR against an
    older input snapshot is stale lineage — it must be reprocessed, exactly
    like an Iceberg snapshot written by a superseded job."""
    if not os.path.exists(manifest_dir):
        return set()
    rows = (
        spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)
        .select("bucket", "extraction_version", "input_snapshot")
        .collect()
    )
    return {
        r["bucket"]
        for r in rows
        if r["extraction_version"] == extraction_version
        and r["input_snapshot"] == input_snapshot
    }


def iceberg_table_name() -> Optional[str]:
    """Iceberg sink is opt-in: set UNIVER_ICEBERG_TABLE to a catalog-qualified
    table name (e.g. ``lake.db.extracted``) on a cluster whose session has the
    Iceberg runtime jar + catalog configured. This container has neither, so
    the default is the parquet-directory protocol with identical semantics."""
    return os.environ.get("UNIVER_ICEBERG_TABLE") or None


def _assert_bucket_partitioned(spark: SparkSession, table: str) -> None:
    """Fail fast unless the Iceberg table is partitioned by ``bucket``:
    ``overwritePartitions`` on a table with any other spec would treat the
    WHOLE table as one partition — each bucket commit silently wiping the
    previous buckets' rows while the manifest records them committed."""
    try:
        part_type = spark.table(f"{table}.partitions").schema["partition"].dataType
        fields = [f.name for f in part_type.fields]
    except Exception as exc:  # noqa: BLE001 — no partition column = unpartitioned
        raise ValueError(
            f"Iceberg table {table} has no readable partition spec — "
            "create it PARTITIONED BY (bucket) before pointing "
            "UNIVER_ICEBERG_TABLE at it"
        ) from exc
    if "bucket" not in fields:
        raise ValueError(
            f"Iceberg table {table} is partitioned by {fields}, not by "
            "'bucket' — overwritePartitions would clobber other buckets"
        )


def _iceberg_commit(out: DataFrame, table: str, bucket: int, n_rows: int) -> str:
    """Commit one bucket to an Iceberg table via the DataFrameWriterV2 API
    and return the resulting snapshot id (read back from the table's
    snapshots metadata — the lineage the manifest row must cite). The sink
    table has no payload column (``out`` is extracted without ``text``).

    ``overwritePartitions`` (not ``append``) keeps the resume contract
    idempotent: the table is partitioned by ``bucket``, so re-running a
    bucket whose output landed but whose manifest row didn't replaces that
    partition instead of duplicating rows. EMPTY re-run output is the one
    case ``overwritePartitions`` cannot express — it touches no partitions,
    so stale rows from a superseded commit would survive while the manifest
    records the bucket committed; the parquet path's ``mode('overwrite')``
    clears the directory, so the Iceberg twin issues an explicit
    ``DELETE FROM ... WHERE bucket = b`` instead. Callers must serialize
    calls (run_with_manifest commits one bucket at a time) so the
    snapshot-id read-back cannot observe another bucket's commit.
    """
    spark = out.sparkSession

    def latest_snapshot() -> str:
        snap = spark.sql(
            f"SELECT snapshot_id FROM {table}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return str(snap[0][0]) if snap else ""

    if n_rows == 0:
        # A DELETE matching no rows (the common first-run empty bucket)
        # creates NO new snapshot on a real catalog — the read-back would
        # cite the previous, unrelated commit as this bucket's lineage.
        # Capture the latest id before, and record '' when it is unchanged.
        before = latest_snapshot()
        spark.sql(f"DELETE FROM {table} WHERE bucket = {int(bucket)}")
        after = latest_snapshot()
        return after if after != before else ""
    out.writeTo(table).overwritePartitions()
    return latest_snapshot()


def run_with_manifest(
    spark: SparkSession,
    df: DataFrame,
    workdir: str,
    n_buckets: int = 16,
    input_snapshot: str = "",
    fail_after: Optional[int] = None,
) -> List[int]:
    """Extract ``df`` bucket-by-bucket with commit-per-bucket semantics.

    Returns the list of buckets processed in THIS run (committed buckets
    from prior runs are skipped — the resume contract). ``fail_after=k``
    injects a crash after k bucket commits (for the kill/resume test).
    A bucket's manifest row lands only after its output did, so a crash
    mid-run resumes exactly. The sink table has no payload column.
    """
    staged_dir = os.path.join(workdir, "staged")
    outdir = os.path.join(workdir, "extracted")
    manifest_dir = os.path.join(workdir, "manifest")

    bucketize(spark, df, staged_dir, n_buckets, input_snapshot)
    staged = spark.read.schema(StructType(
        df.schema.fields + [StructField("bucket", IntegerType())])).parquet(staged_dir)
    done = committed_buckets(spark, manifest_dir, EXTRACTION_VERSION,
                             input_snapshot)
    processed: List[int] = []
    iceberg_table = iceberg_table_name()
    if iceberg_table:
        _assert_bucket_partitioned(spark, iceberg_table)

    for b in range(n_buckets):
        if b in done:
            continue
        if fail_after is not None and len(processed) >= fail_after:
            raise RuntimeError(f"injected failure after {fail_after} buckets")
        t0 = time.time()
        part = staged.filter(F.col("bucket") == b).drop("bucket")
        out = run_extraction(part, drop_payload=True)
        if iceberg_table:
            # extraction emits one row per input row, so the staged bucket's
            # (pruned parquet) count picks overwritePartitions or DELETE
            n_rows = part.count()
            output_snapshot = _iceberg_commit(
                out.withColumn("bucket", F.lit(b)), iceberg_table, b, n_rows
            )
        else:
            obs = Observation(f"bucket_{b}_rows_{int(t0 * 1e6)}")
            out.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite").parquet(os.path.join(outdir, f"bucket={b}"))
            n_rows = obs.get["n"]  # folded into the write — no re-read
            output_snapshot = ""
        wall = time.time() - t0
        row = {
            "bucket": b,
            "n_rows": n_rows,
            "extraction_version": EXTRACTION_VERSION,
            "input_snapshot": input_snapshot,
            "output_snapshot": output_snapshot,
            "wall_sec": round(wall, 3),
            "rows_per_sec": round(n_rows / wall, 3) if wall > 0 else 0.0,
            "committed_at": time.time(),
        }
        # the commit: manifest row lands only after the bucket output did
        spark.createDataFrame([row], schema=MANIFEST_SCHEMA).write.mode(
            "append"
        ).parquet(manifest_dir)
        processed.append(b)
    return processed


def read_output(spark: SparkSession, workdir: str) -> DataFrame:
    """What ``run_with_manifest`` wrote: the Iceberg table when
    ``iceberg_table_name()`` routes the commits there, else the parquet
    ``extracted/`` directory."""
    table = iceberg_table_name()
    if table:
        return spark.table(table)
    return spark.read.parquet(os.path.join(workdir, "extracted"))


def read_manifest(spark: SparkSession, workdir: str) -> DataFrame:
    return spark.read.schema(MANIFEST_SCHEMA).parquet(
        os.path.join(workdir, "manifest"))
