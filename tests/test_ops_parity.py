"""Oracle parity for the ANN top-k and ``extract_*_docs`` query families:
each query runs through ``__spark_entry__.queries()`` and must return
exactly what its ``oracle_sql()`` twin returns in DuckDB (same columns, row
count and values — ``tools.check_parity.compare``).

The tables are the sf0.001 ones plus two planted rows, because neither edge
occurs in the shipped data: a whitespace-only document (the doc filter of
the wrapped-doc queries) and an exact copy of query 0's nearest candidate
under a new id (an exact cosine tie, so the ``cand_id`` tie-break decides
the rank)."""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__
from test_multimodal import SF  # the shared sf0.001 tables
from tools.check_parity import compare
from univer_ocr_spark.ops.similarity import N_QUERIES

SIMILARITY = (
    "ann_bruteforce_topk", "ann_lsh_topk", "ann_ivf_topk", "ann_ivf_scaled_topk",
    "embedding_cosine_neardup", "embedding_label_centroids",
)
EXTRACT_DOCS = (
    "extract_html_docs", "extract_html_attr_docs", "extract_html_entities_docs",
    "extract_html_br_docs", "extract_html_blocks_docs", "extract_markup_docs",
    "extract_markup_collapse_docs", "extract_pdfish_docs",
    "extract_pdfish_columns_docs", "extract_pdfish_title_docs",
    "extract_pdfish_overlap_docs", "extract_pdfish_heights_docs",
)


def _append_row(src: str, dst: str, row: dict) -> None:
    t = pq.read_table(src)
    pq.write_table(pa.concat_tables([t, pa.Table.from_pylist([row], t.schema)]), dst)


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf0.001_edges")
    docs = pq.read_table(f"{SF}/documents.parquet")
    _append_row(f"{SF}/documents.parquet", d / "documents.parquet",
                docs.slice(0, 1).to_pylist()[0] | {"doc_id": docs.num_rows, "text": "   "})
    emb = pq.read_table(f"{SF}/embeddings.parquet").to_pylist()
    v = np.array([r["embedding"] for r in emb])
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    nearest = N_QUERIES + int(np.argmax(v[N_QUERIES:] @ v[0]))
    _append_row(f"{SF}/embeddings.parquet", d / "embeddings.parquet",
                emb[nearest] | {"vec_id": len(emb)})
    return str(d)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", SIMILARITY + EXTRACT_DOCS)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    sdf = __spark_entry__.queries()[name](spark, sf_dir).toPandas()
    ddf = duck.execute(__spark_entry__.oracle_sql()[name]).df()
    assert len(sdf) > 0
    assert compare(name, sdf, ddf) == []
