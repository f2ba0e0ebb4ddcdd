"""Every ``extract_*_docs`` query crosses into Python exactly once: payloads
are built in the JVM or inside the extraction stage, never in a chained
Python stage of their own."""

from __future__ import annotations

import re

import __spark_entry__
from test_multimodal import SF  # the shared sf0.001 tables

PY_NODE = re.compile(r"\b(MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|"
                     r"BatchEvalPython|FlatMapGroupsInPandas|FlatMapGroupsInArrow)\b")


def _executed_plan(df) -> str:
    df.collect()
    text = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in text:  # an adaptive plan: count its final plan only
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return text


def test_extract_docs_queries_have_one_python_node(spark):
    queries = {n: q for n, q in __spark_entry__.queries().items()
               if n.startswith("extract_") and n.endswith("_docs")}
    assert len(queries) == 12
    for name, q in queries.items():
        nodes = PY_NODE.findall(_executed_plan(q(spark, SF)))
        assert len(nodes) == 1, f"{name}: {nodes}"
