"""Beyond-reference operator library: large-scale training-data pipeline
operators (dedup, similarity search, text analysis, multimodal columns).

These extend the reference's OLAP surface (SURVEY.md §2) with the
operations a 100 TB LLM-data pipeline needs; all are DataFrame-native
compositions or Arrow-batched pandas UDFs.

Plan-building rule: a fixed-shape expression goes to the JVM as ONE SQL
text (``F.expr`` / ``selectExpr``), not as a Column-API tree. In classic
PySpark every ``F.*`` node, alias and column reference is a py4j round
trip, so a tree of hundreds of nodes costs more driver time than the
job it describes. Measured build cost (gateway commands, memory deletes
excluded; sf0.01 tables): ``text.analyze`` 1,770 → 55,
``minhash_lsh_dedup(hash_basis="md5")`` 1,957 → 138,
``ann_lsh_topk(dim=64)`` 909 → 125, and its deterministic mode
14,417 → 91. ``tests/test_plans.py`` holds each under 150. The
k-means centroid expressions of ``clustering`` took
``semantic_dedup(threshold=0.8)`` from 17,589 to 1,279 (sf0.1; its
eager k-means rounds and connected-components loop included) and
``ann_ivf_topk(centroids=...)`` from 7,192 to 265. Literal rules for
the text:

- doubles carry a ``D`` suffix (or a ``CAST``): a bare ``0.5`` parses
  as DECIMAL;
- floats print with ``repr()``, which round-trips exactly;
- nested lambdas get distinct variable names;
- column names pass through ``functions.scalar.sql_ident`` and string
  constants through ``sql_string``.
"""

from hdk_spark.operators import (
    avi,
    bpe,
    jpeg,
    png,
    chat,
    clustering,
    crawl,
    dedup,
    graph,
    html,
    layout,
    linkage,
    multimodal,
    packing,
    profile,
    sampling,
    search,
    similarity,
    stats,
    temporal,
    text,
    warc,
    web,
)

__all__ = [
    "avi",
    "bpe",
    "jpeg",
    "png",
    "chat",
    "clustering",
    "crawl",
    "dedup",
    "graph",
    "html",
    "layout",
    "linkage",
    "multimodal",
    "packing",
    "profile",
    "sampling",
    "search",
    "similarity",
    "stats",
    "temporal",
    "text",
    "warc",
    "web",
]
