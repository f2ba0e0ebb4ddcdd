"""The similarity queries read the embeddings with the scan's own splits:
no round-robin shuffle of the input in front of the pair scoring."""

from __future__ import annotations

import __spark_entry__
from test_extract_docs_plan import _executed_plan
from test_multimodal import SF  # the shared sf0.001 tables

SIMILARITY = ("ann_bruteforce_topk", "ann_lsh_topk", "ann_ivf_topk",
              "ann_ivf_scaled_topk", "embedding_cosine_neardup",
              "embedding_label_centroids")


def test_similarity_queries_do_not_spread_the_input(spark):
    queries = __spark_entry__.queries()
    for name in SIMILARITY:
        plan = _executed_plan(queries[name](spark, SF))
        assert "RoundRobinPartitioning" not in plan, name
