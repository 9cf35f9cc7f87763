"""Distributed k-means over an embedding column — the clustering /
corpus-mapping step of an embedding pipeline (topic bucketing, IVF
coarse quantizers, diversity sampling).

Scale design:

- **Assignment is map-only.** Centroids are k×dim literals folded into
  the plan (k-means centroids are always driver-small); each row's
  nearest centroid is an argmin over k JVM higher-order-function
  distance expressions — no join, no shuffle, no Python.
- **Update is one partial-aggregated groupBy** per iteration (k×dim
  numbers out), collected to the driver — the same bounded-action
  pattern as the IVF quantizer (similarity.py).
- **Deterministic by construction** (unusual for k-means, deliberate
  here): init picks the k rows with the smallest arithmetic key hash
  (recompute-stable, no rand()); per-dimension centroid sums go
  through DECIMAL(20,10) so partial-aggregation order cannot perturb
  the result; distance folds are sequential from 0.0 (IEEE: 0+x == x,
  so any engine's first-element fold agrees bit-for-bit); argmin ties
  break on the lower cluster id. Two engines running this spec produce
  IDENTICAL assignments — the driver's DuckDB oracle does.
- **Built as SQL text** (the ``hdk_spark.operators`` rule): the k
  distance folds, the sorted struct array and the per-dimension sums
  each reach the JVM as one expression string, not as a Column tree of
  k×dim literal nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hdk_spark.functions.scalar import sql_ident
from hdk_spark.operators.sampling import hash_bucket_sql
from hdk_spark.operators.similarity import _double_array

__all__ = ["kmeans_assignments", "kmeans_centroids"]


def _dist_sq(vec: str, centroid: list[float]) -> str:
    """SQL text of the squared L2 distance from array column ``vec`` to
    a literal centroid: a left fold from 0.0 in double precision."""
    return (
        f"aggregate(zip_with({vec}, {_double_array(centroid)}, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _by_distance(vec: str, cents: dict[int, list[float]]) -> str:
    """SQL text of ONE sorted array of (d, c) structs, one per centroid:
    struct ordering is (d asc, c asc), so element 0 is the nearest
    centroid with ties to the lower id, and a prefix is a probe set.
    A when-chain argmin re-nests every prior distance expression per
    centroid (tree size doubles each step: fine at k=4, analysis
    explosion at k=16 — measured as a hang on the IVF quantizer)."""
    return "array_sort(array(" + ", ".join(
        f"struct({_dist_sq(vec, cents[cid])} AS d, CAST({cid} AS BIGINT) AS c)"
        for cid in sorted(cents)
    ) + "))"


def _assign(df: DataFrame, id_col: str, vec_col: str, cents: dict[int, list[float]]):
    # cdist (exact squared distance to the winning centroid) rides along
    # for free — it is the winning struct's sort key. semantic_dedup's
    # keep-farthest-from-centroid rule consumes it; kmeans callers that
    # don't need it project it away.
    vec = sql_ident(vec_col)
    best = f"{_by_distance(vec, cents)}[0]"
    return df.selectExpr(
        sql_ident(id_col),
        f"{vec} AS `{vec_col}`",
        f"{best}.c AS cluster",
        f"{best}.d AS cdist",
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0,
) -> dict[int, list[float]]:
    """Lloyd's k-means, ``iters`` driver-coordinated rounds; returns the
    final centroids {cluster_id: vector}. Every step is exactly
    reproducible across engines (module docstring) — this is also the
    deterministic coarse-quantizer trainer for similarity.ann_ivf_topk's
    oracle-checkable path."""
    dim = len(df.select(vec_col).first()[0])

    vec = sql_ident(vec_col)
    ident = sql_ident(id_col)
    init = (
        df.selectExpr(
            f"{ident} AS __id", f"{vec} AS __v",
            f"{hash_bucket_sql(ident, 1_000_000_007, seed)} AS __h",
        )
        .orderBy("__h", "__id")
        .limit(k)
        .collect()
    )
    cents = {i: [float(x) for x in r["__v"]] for i, r in enumerate(init)}

    # exact decimal per-dimension sums -> shuffle-order-independent; all
    # dimensions in one array-valued aggregate expression
    means = F.expr(
        "array("
        + ", ".join(
            f"CAST(sum(CAST(CAST(element_at({vec}, {d + 1}) AS DOUBLE) AS DECIMAL(20,10)))"
            " AS DOUBLE) / count(1)"
            for d in range(dim)
        )
        + ") AS means"
    )
    for _ in range(iters):
        rows = _assign(df, id_col, vec_col, cents).groupBy("cluster").agg(means).collect()
        cents = {int(r["cluster"]): [float(x) for x in r["means"]] for r in rows}
    return cents


def kmeans_assignments(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 0,
) -> DataFrame:
    """Lloyd's k-means, ``iters`` driver-coordinated rounds; returns
    (id, cluster) for every row. See module docstring for why every
    step is exactly reproducible across engines."""
    cents = kmeans_centroids(df, k, iters, id_col, vec_col, seed)
    return _assign(df, id_col, vec_col, cents).select(id_col, "cluster")
