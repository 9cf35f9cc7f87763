"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k — the correctness baseline. The
  query set is broadcast (it's small by construction); the corpus scan
  is a single pass, so at 100 TB this is one read + a TakeOrdered per
  query, no shuffle of the corpus.
- ann_lsh_topk: random-hyperplane LSH variant — candidates restricted
  to the query's sign-bucket (equi-join on bucket id), then exact
  cosine within the bucket. Sub-linear candidate count at scale;
  recall < 1 by design.

Dot products use a fixed left-to-right fold in double precision so the
value is bit-reproducible in SQL oracles. The fold, norm, cosine and
sign-bucket helpers return SQL text over column names (hyperplanes
inline as double-array literals), so an expression costs one JVM parse
rather than one py4j round trip per node.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from hdk_spark.functions.scalar import round6, round6_sql, sql_ident
from hdk_spark.operators.caches import _attach_caches, _caches_of, _persist_internal


def _dot(a: str, b: str) -> str:
    """SQL text of the dot product of array columns ``a`` and ``b``: a
    strict left fold in double precision, so the value is
    bit-reproducible in SQL oracles. Built as text (one JVM parse per
    expression, not one py4j round trip per node; see the
    ``hdk_spark.operators`` docstring for the literal rules)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0D, (acc, t) -> acc + t)"
    )


def _norm(v: str) -> str:
    """SQL text of the fold-based L2 norm of array column ``v``."""
    return f"sqrt({_dot(v, v)})"


def _cosine(a: str, b: str, na: str, nb: str) -> str:
    """SQL text of the cosine of ``a`` and ``b`` given their norms."""
    return f"{_dot(a, b)} / ({na} * {nb})"


def _double_array(xs) -> str:
    """SQL text of an array<double> literal: ``repr`` round-trips every
    float exactly and the ``D`` suffix keeps it DOUBLE (a bare ``0.5``
    parses as DECIMAL)."""
    return "array(" + ", ".join(f"{float(c)!r}D" for c in xs) + ")"


def _sign_bits(tests) -> str:
    """SQL text of the bucket id whose bit i is set when ``tests[i]``
    (a boolean SQL expression) holds."""
    return " + ".join(
        ["CAST(0 AS BIGINT)"]
        + [
            f"CASE WHEN {t} THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            for i, t in enumerate(tests)
        ]
    )


def _fold_plane_dots(v: str, planes) -> str:
    """SQL text of the array of fold-based plane dots of column ``v`` —
    the SQL-replayable sign-projection kernel shared by the multiprobe
    family (ann_multiprobe_topk, bitext_mine): one fix here reaches
    every consumer AND stays textually aligned with their oracles."""
    return "array(" + ", ".join(_dot(v, _double_array(p)) for p in planes) + ")"


def _bucket_from_dots(n_planes: int) -> str:
    """SQL text of the sign-bucket id from the ``__dots`` column (bit i
    = dot_i >= 0)."""
    return _sign_bits(f"element_at(__dots, {i + 1}) >= 0" for i in range(n_planes))


def _multiprobe_probes(n_planes: int, n_probes: int) -> str:
    """SQL text of the Lv 2007 probe set from columns ``b`` and
    ``__dots``: the exact bucket plus flips of the n_probes−1
    lowest-|margin| planes (ties to the lower plane index — total
    order)."""
    pow2 = "array(" + ", ".join(f"CAST({1 << i} AS BIGINT)" for i in range(n_planes)) + ")"
    flips = (
        f"slice(transform(array_sort(transform(sequence(0, {n_planes - 1}), "
        "i -> named_struct('m', abs(element_at(__dots, i + 1)), 'i', i))), s -> s.i), "
        f"1, {n_probes - 1})"
    )
    return f"concat(array(b), transform({flips}, f -> b ^ element_at({pow2}, f + 1)))"


def _vec_base(df: DataFrame, id_col: str, vec_col: str, *extra: str) -> DataFrame:
    """(id, v, norm, *extra) projection of an embedding relation."""
    v = sql_ident(vec_col)
    return df.selectExpr(f"{sql_ident(id_col)} AS id", f"{v} AS v", f"{_norm(v)} AS norm", *extra)


def _as_queries(base: DataFrame, query_ids, *extra: str) -> DataFrame:
    """The (qid, qv, qnorm, *extra) query side of an (id, v, norm)
    relation, restricted to ``query_ids``."""
    return base.where(_id_in(query_ids)).selectExpr(
        "id AS qid", "v AS qv", "norm AS qnorm", *extra
    )


def _id_in(ids) -> str:
    """SQL text of ``id IN (ids)``; ``false`` for no ids, as ``isin([])``."""
    return f"id IN ({', '.join(str(int(i)) for i in ids)})" if len(ids) else "false"


def _scored(cand: DataFrame) -> DataFrame:
    """(qid, neighbor_id, cosine) of (qid, qv, qnorm, id, v, norm) pairs."""
    return cand.selectExpr(
        "qid", "id AS neighbor_id", f"{_cosine('qv', 'v', 'qnorm', 'norm')} AS cosine"
    )


def _topk_rank(scored: DataFrame, k: int) -> DataFrame:
    """Top-k per ``qid`` of a (qid, neighbor_id, cosine) relation — the
    shared tail of every exact and approximate top-k here, so the
    tie-break (lower neighbor id) and the rounding (``round6``) cannot
    drift between them."""
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id ASC) AS rank",
        )
        .where(f"rank <= {int(k)}")
        .selectExpr(
            "qid", "neighbor_id", "CAST(rank AS INT) AS rank", f"{round6_sql('cosine')} AS cosine"
        )
    )


def _width_gate(df: DataFrame, vec_col: str, d: int) -> DataFrame:
    """Rows whose vector has exactly ``d`` components."""
    return df.where(f"size({sql_ident(vec_col)}) = {int(d)}")


def _brute_cosine_rank(base: DataFrame, queries: DataFrame, k: int):
    """Exact-cosine top-k of broadcast ``queries`` (qid, qv, qnorm)
    against ``base`` (id, v, norm) — the shared scoring tail of
    cosine_topk / sq8_topk."""
    return _topk_rank(_scored(base.join(F.broadcast(queries), F.expr("id <> qid"))), k)


def cosine_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self).
    Ties break on neighbor id (deterministic)."""
    base = _vec_base(df, id_col, vec_col)
    return _brute_cosine_rank(base, _as_queries(base, query_ids), k)


# ---------------------------------------------------------------------------
# LSH (random hyperplanes)
# ---------------------------------------------------------------------------


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG-based gaussian-ish
    via sum of uniforms). Plain Python so the same constants can be
    inlined into an oracle SQL string."""
    state = seed

    def nxt():
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        return state / float(1 << 63)

    return [
        [sum(nxt() for _ in range(4)) - 2.0 for _ in range(dim)]
        for _ in range(n_planes)
    ]


def _bucket_expr(v: str, planes: list[list[float]]) -> str:
    """SQL text of the bucket id = bit pattern of sign(v·h) across
    hyperplanes, for array column ``v``."""
    return _sign_bits(f"{_dot(v, _double_array(p))} >= 0" for p in planes)


def _table_buckets(v: str, planes: list[list[float]], n_planes: int, n_tables: int) -> str:
    """SQL text of ``array<struct<tbl:int, bkt:bigint>>``: one sign
    bucket of array column ``v`` per hash table, table t using planes
    ``t*n_planes`` up to ``(t+1)*n_planes``."""
    return "array(" + ", ".join(
        f"named_struct('tbl', {t}, 'bkt', "
        f"{_bucket_expr(v, planes[t * n_planes:(t + 1) * n_planes])})"
        for t in range(n_tables)
    ) + ")"


def _kmeans_fit(sample: np.ndarray, k: int, iters: int = 10, seed: int = 42) -> np.ndarray:
    """Tiny deterministic k-means (driver-side, on a bounded sample) —
    the coarse quantizer for IVF. Sample size is capped by the caller,
    so this stays O(sample × k × iters) regardless of corpus size."""
    rng = np.random.RandomState(seed)
    centroids = sample[rng.choice(len(sample), size=k, replace=False)]
    for _ in range(iters):
        d = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(k):
            m = sample[assign == c]
            if len(m):
                centroids[c] = m.mean(axis=0)
    return centroids


def ann_ivf_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    nprobe: int = 4,
    train_sample: int = 4096,
    seed: int = 42,
    centroids: "dict[int, list[float]] | None" = None,
    dim: "int | None" = None,
    codes: "DataFrame | None" = None,
    bounds: "list[tuple[float, float]] | None" = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted file): corpus vectors are
    assigned to their nearest of ``n_lists`` k-means centroids; each
    query probes its ``nprobe`` nearest lists and scores ONLY those
    candidates with exact cosine.

    Quantizer: by default, trained on a bounded driver-side sample
    (numpy k-means, cap ``train_sample``) with vectorized pandas-UDF
    assignment — fast but not cross-engine-reproducible. Passing
    explicit ``centroids`` (e.g. from clustering.kmeans_centroids, the
    deterministic trainer) switches assignment and probing to JVM
    fold-based distance expressions: every step is then bit-for-bit
    expressible as a SQL oracle, which is how the driver value-checks
    the contract query.

    Scale shape either way: assignment is one map-only pass; the probe
    is an equi-join on list id — candidates shrink by ~n_lists/nprobe
    vs a full scan, and precision stays 1 because scoring is exact.
    This is the standard IVF-Flat layout (FAISS-style) expressed as
    DataFrame ops.

    Coded-lake entrance: ``codes=`` + ``bounds=`` dequantize an
    ``sq8_encode`` relation inside the kernel (``sq8_decode``) —
    IVF over ¼-width storage, the same composition as
    ``ann_multiprobe_topk(codes=...)``. SCALE.md already prefers IVF
    above ~100k corpus vectors, so this is the preferred coded-lake
    search path. ``df``/``id_col``/``vec_col`` ignored in that
    regime (``df`` may be None).

    Wrong-width vectors are DROPPED (the ann_multiprobe_topk /
    ann_lsh_topk policy): un-gated, a ragged row NULLs the fold
    distances in centroid mode and breaks the training/assignment
    Arrow batches (ragged np.array → object dtype) in the default
    mode. d comes from ``bounds`` (coded), the given ``centroids``,
    an explicit ``dim=`` (callers that know the lake's width skip
    the inference job), or the majority-of-sample ``_vec_dim`` —
    never a single row."""
    if codes is not None:
        if bounds is None:
            raise ValueError("codes= requires the bounds it was trained on")
        df, id_col, vec_col = sq8_decode(codes, bounds), "id", "v"
        gate_d = len(bounds)
        if dim is not None and dim != gate_d:
            raise ValueError(
                f"dim={dim} conflicts with len(bounds)={gate_d} — the "
                "coded lake's width is fixed by its bounds")
    elif centroids is not None:
        gate_d = len(next(iter(centroids.values())))
        if dim is not None and dim != gate_d:
            raise ValueError(
                f"dim={dim} conflicts with centroid width {gate_d}")
    elif dim is not None:
        gate_d = dim
    else:
        from hdk_spark.operators.dedup import _vec_dim

        gate_d = _vec_dim(df, vec_col)
    base = _vec_base(_width_gate(df, vec_col, gate_d), id_col, vec_col)
    if centroids is not None:
        from hdk_spark.operators.clustering import _by_distance

        cents = {int(c): [float(x) for x in v] for c, v in centroids.items()}
        # ONE sorted (distance, id) struct array serves both assignment
        # (first element) and the nprobe probe set (first nprobe)
        ranked = _by_distance("v", cents)
        assign_col = F.expr(f"{ranked}[0].c")
        probe_col = F.expr(f"transform(slice({ranked}, 1, {int(nprobe)}), s -> s.c)")
    else:
        from pyspark.sql.pandas.functions import pandas_udf

        sample_rows = (
            df.select(vec_col).limit(train_sample).toPandas()[vec_col].tolist()
        )
        if not sample_rows:
            # every row gated out (e.g. wrong explicit dim=): empty
            # contract-shaped result, not a k-means crash on 0 samples
            return df.sparkSession.createDataFrame(
                [], "qid long, neighbor_id long, rank int, cosine double"
            )
        trained = _kmeans_fit(
            np.array(sample_rows, dtype=np.float64), n_lists, seed=seed
        )

        @pandas_udf("long")
        def _assign(vecs: pd.Series) -> pd.Series:
            m = np.array(vecs.tolist(), dtype=np.float64)
            d = ((m[:, None, :] - trained[None, :, :]) ** 2).sum(axis=2)
            return pd.Series(d.argmin(axis=1))

        @pandas_udf("array<long>")
        def _probe(vecs: pd.Series) -> pd.Series:
            m = np.array(vecs.tolist(), dtype=np.float64)
            d = ((m[:, None, :] - trained[None, :, :]) ** 2).sum(axis=2)
            return pd.Series(list(d.argsort(axis=1)[:, :nprobe].astype(np.int64)))

        assign_col = _assign(F.col("v"))
        probe_col = _probe(F.col("v"))

    # read by the query side and the candidate join;
    # release_caches(result) frees it
    base, caches = _persist_internal(base.withColumn("list_id", assign_col))
    queries = (
        base.where(_id_in(query_ids))
        .select(
            F.col("id").alias("qid"),
            F.col("v").alias("qv"),
            F.col("norm").alias("qnorm"),
            F.explode(probe_col).alias("qlist"),
        )
    )
    cand = base.join(
        F.broadcast(queries),
        (F.col("list_id") == F.col("qlist")) & (F.col("id") != F.col("qid")),
    ).select("qid", "qv", "qnorm", "id", "v", "norm").dropDuplicates(["qid", "id"])
    return _attach_caches(_topk_rank(_scored(cand), k), caches)


def ann_lsh_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    deterministic: bool = False,
    dim: "int | None" = None,
    codes: "DataFrame | None" = None,
    bounds: "list[tuple[float, float]] | None" = None,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE random-hyperplane LSH.

    ``deterministic=False`` (default — the production path) computes
    all sign buckets AND the vector norm in one vectorized numpy pass
    per Arrow batch. ``deterministic=True`` computes bucket bits and
    norms with fold-based JVM dot-product expressions instead: numpy's
    pairwise-summation matmul can flip the sign of a near-zero dot and
    land a vector in a different bucket than a strict left-fold would,
    so the oracle-checked contract query pins this mode (the same
    split ann_ivf_topk makes via explicit ``centroids``). ~10× slower
    per corpus row (interpreted HOFs), identical plan shape.

    Single-probe LSH has poor recall when true neighbors sit at
    moderate angles (P(same bucket) = (1-θ/π)^planes — measured 0.04
    recall@10 on the synthetic embeddings), so we use the standard
    L-tables construction: ``n_tables`` independent sign-buckets of
    ``n_planes`` bits each; a corpus vector is a candidate if it shares
    ANY table's bucket with the query (P = 1-(1-(1-θ/π)^planes)^tables;
    ~0.7 for θ=60° with 8x4). Candidates are then scored with EXACT
    cosine, so precision is 1 — only recall is approximate.

    Plan shape: corpus exploded to n_tables rows (table_id, bucket) —
    linear, no cross join; the query side is broadcast; candidate pairs
    dedup on (qid, id) before scoring; TakeOrdered per query. Candidate
    volume is bounded by |queries| × bucket occupancy, so the only
    corpus-scale cost is the cached bucket relation (×n_tables vector
    bytes — measured faster than narrow-rows + re-attach joins up to
    10× local scale); for corpora where that amplification doesn't fit
    cache, ann_ivf_topk is the scale path (×1 vector storage, bounded
    driver-side training). Free the cached bucket relation with
    ``sketches.release_caches(result)`` once the result is materialized.

    Measured boundary (SCALE.md, d=64, 16 queries, n_tables=8): the
    cached relation is exactly n_tables × the vector storage — 459 MB
    at 200k vectors, 2.30 GB at 1M — and IVF already wins wall-clock
    there (200k: 5.2 s vs 13.9 s; 1M: 8.3 s vs 19.3 s). **Prefer
    ann_ivf_topk above ~100k corpus vectors**; LSH remains the
    no-training choice for small/mid corpora and for workloads that
    tune recall per table instead of per probe.

    Coded-lake entrance: ``codes=`` + ``bounds=`` dequantize an
    ``sq8_encode`` relation inside the kernel (``sq8_decode``) exactly
    like ``ann_multiprobe_topk(codes=...)`` — ¼ the bytes scanned,
    ``df``/``id_col``/``vec_col`` ignored (``df`` may be None).

    Wrong-width vectors (including ragged rows arriving through a
    user-supplied ``codes=`` relation) are DROPPED — the same
    explicit policy as ann_multiprobe_topk/bitext_mine/sq8_encode:
    un-gated they zip_with into NULL dots and land in bucket 0 with
    NULL cosines in deterministic mode, and break the Arrow batch
    (ragged np.array → object dtype) in the numpy kernel. The
    float-path dimension comes from ``dim=`` when the caller knows
    the lake's width (skips the inference job — use it in
    production loops), else the MAJORITY size of a bounded sample
    (_vec_dim), so a lone corrupt first row cannot set d and gate
    out the whole corpus. The width-gate filter itself always runs:
    it is one cheap JVM comparison per row and is what buys the
    ragged-corpus safety."""
    if codes is not None:
        if bounds is None:
            raise ValueError("codes= requires the bounds it was trained on")
        if dim is not None and dim != len(bounds):
            raise ValueError(
                f"dim={dim} conflicts with len(bounds)={len(bounds)} — "
                "the coded lake's width is fixed by its bounds")
        df, id_col, vec_col = sq8_decode(codes, bounds), "id", "v"
        dim = len(bounds)
    elif dim is None:
        from hdk_spark.operators.dedup import _vec_dim

        dim = _vec_dim(df, vec_col)
    df = _width_gate(df, vec_col, dim)
    tables = [
        _hyperplanes(n_planes, dim, seed + 1000 * t) for t in range(n_tables)
    ]
    if deterministic:
        # fold-based JVM expressions: bit-reproducible in a SQL oracle
        buckets = "array(" + ", ".join(_bucket_expr("v", tbl) for tbl in tables) + ")"
        hashed = _vec_base(df, id_col, vec_col).selectExpr(
            "id", "v", "norm", f"posexplode({buckets}) AS (tbl, b)"
        )
    else:
        from pyspark.sql.pandas.functions import pandas_udf

        # one (dim × n_tables*n_planes) matrix: all sign bits in a
        # single vectorized matmul per Arrow batch — the interpreted
        # HOF version (n_tables*n_planes aggregate() calls per row)
        # measured ~10× slower. The norm rides the same pass.
        planes_mat = np.array(
            [p for tbl in tables for p in tbl], dtype=np.float64
        ).T  # dim × (n_tables*n_planes)
        pow2 = np.array([1 << i for i in range(n_planes)], dtype=np.int64)

        @pandas_udf("struct<bs:array<long>,norm:double>")
        def _sketch(vecs: pd.Series) -> pd.DataFrame:
            m = np.array(vecs.tolist(), dtype=np.float64)  # batch × dim
            signs = (m @ planes_mat) >= 0  # batch × tables*planes
            signs = signs.reshape(len(m), n_tables, n_planes)
            ids = (signs * pow2[None, None, :]).sum(axis=2)  # batch × tables
            norms = np.sqrt((m * m).sum(axis=1))
            return pd.DataFrame({"bs": list(ids), "norm": norms})

        hashed = (
            df.withColumn("__sk", _sketch(F.col(vec_col)))
            .selectExpr(
                f"{sql_ident(id_col)} AS id", f"{sql_ident(vec_col)} AS v",
                "__sk.norm AS norm", "posexplode(__sk.bs) AS (tbl, b)",
            )
        )
    # persist: referenced by both sides of the candidate join (same
    # reasoning as dedup sketches); release_caches(result) frees it
    hashed, caches = _persist_internal(hashed)
    queries = _as_queries(hashed, query_ids, "tbl AS qtbl", "b AS qb")
    # One qid-keyed exchange serves BOTH the candidate dedup and the
    # top-k window (r15, VERDICT r14 #7): hashpartitioning(qid)
    # clusters equal (qid, id) pairs, so the dropDuplicates aggregate
    # adds no exchange of its own, and the window's
    # ClusteredDistribution(qid) is already satisfied — the old shape
    # paid two exchanges ((qid,id) then (qid)) and one extra AQE stage
    # job per run. Values unchanged: every duplicate (qid, id) row is
    # bit-identical (same cached hashed rows joined through different
    # colliding tables), so which copy the aggregate keeps is
    # irrelevant, and the window order carries its unique tie-break.
    # Skew note: all of one query's candidates land in one partition —
    # candidate volume per query is bounded by bucket occupancy
    # (the operator's existing scale contract), not corpus size.
    cand = (
        hashed.join(
            F.broadcast(queries), F.expr("tbl = qtbl AND b = qb AND id <> qid")
        )
        .selectExpr("qid", "qv", "qnorm", "id", "v", "norm")
        .repartition("qid")
        .dropDuplicates(["qid", "id"])
    )
    return _attach_caches(_topk_rank(_scored(cand), k), caches)


# measured LSH→IVF crossover (SCALE.md, d=64/8 tables): the LSH bucket
# cache is n_tables × vector storage and IVF wins wall-clock from
# ~100k corpus vectors up (200k: 5.2 s vs 13.9 s; 1M: 8.3 s vs 19.3 s)
ANN_LSH_MAX_VECTORS = 100_000


def ann_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vectors: int | None = None,
    **kwargs,
) -> DataFrame:
    """Size-dispatched approximate top-k: :func:`ann_lsh_topk` below
    ``ANN_LSH_MAX_VECTORS`` corpus vectors (no training, no centroid
    broadcast), :func:`ann_ivf_topk` above it (×1 vector storage vs
    LSH's ×n_tables cached bucket relation — the measured boundary in
    SCALE.md). Pass ``n_vectors`` when the caller already knows the
    corpus size (catalog stats, a prior count) to skip the one
    counting pass; extra ``kwargs`` flow to the chosen variant.

    Route note (measured r10, SCALE.md): :func:`ann_multiprobe_topk`
    matches the L-tables recall at exactly 1/n_tables the cache and
    less wall at 200k×64d — it is the better explicit choice at ANY
    size when executor cache is the constraint. The dispatch here
    keeps the L-tables/IVF split for stability (per-table recall
    knobs small, trained lists big); callers who want the
    memory-bound path should call multiprobe directly."""
    if n_vectors is None:
        n_vectors = df.count()
    if n_vectors <= ANN_LSH_MAX_VECTORS:
        return ann_lsh_topk(df, query_ids, k, id_col, vec_col, **kwargs)
    return ann_ivf_topk(df, query_ids, k, id_col, vec_col, **kwargs)


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search") — the memory-bounded big-corpus ANN path.
# ---------------------------------------------------------------------------


def _sub_dist_sq(vec, lo: int, dsub: int, cent: "list[float]"):
    """Squared L2 between vec[lo:lo+dsub] (1-based slice) and a literal
    centroid — fixed left-to-right double fold (oracle-reproducible)."""
    sub = F.slice(vec, lo, dsub)
    cl = F.array(*[F.lit(float(x)) for x in cent])
    return F.aggregate(
        F.zip_with(
            sub, cl,
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _check_codebooks(codebooks, dim_hint=None):
    cbs = [
        [[float(x) for x in cent] for cent in sub] for sub in codebooks
    ]
    if not cbs:
        raise ValueError("codebooks must have at least one subspace")
    ksub = len(cbs[0])
    dsub = len(cbs[0][0])
    for sub in cbs:
        if len(sub) != ksub or any(len(c) != dsub for c in sub):
            raise ValueError(
                "every subspace needs the same centroid count and sub-dim"
            )
    return cbs, ksub, dsub


def pq_train(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int = 4096,
    seed: int = 42,
) -> "list[list[list[float]]]":
    """Train PQ codebooks: split dimensions into ``m`` contiguous
    subspaces and k-means each on a bounded driver-side sample (the
    ann_ivf_topk quantizer discipline — sample capped, so cost is
    O(sample · ksub · m) regardless of corpus size). Returns
    codebooks[j][c] = centroid c of subspace j. Like IVF's default
    quantizer this is deterministic-given-sample but not
    cross-engine-reproducible; the contract rows pass explicit
    codebooks instead."""
    rows = df.select(vec_col).limit(train_sample).toPandas()[vec_col]
    mat = np.array(rows.tolist(), dtype=np.float64)
    d = mat.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    out = []
    for j in range(m):
        sub = mat[:, j * dsub:(j + 1) * dsub]
        out.append(
            _kmeans_fit(sub.copy(), ksub, seed=seed + j).tolist()
        )
    return out


def pq_encode(
    df: DataFrame,
    codebooks: "list[list[list[float]]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its PQ code — nearest codebook centroid
    per subspace, ties to the lower centroid id. Returns (id, code:
    array<int>): ``m`` small ints per vector, i.e. m·log2(ksub) bits
    instead of d·32 — 64-dim float32 at m=8, ksub=16 compresses 256 B
    → 4 B (64×), which is what makes a 10¹⁰-vector index hold in
    cluster memory.

    MAP-ONLY and fully JVM-side: per subspace, a sorted
    (distance, centroid) struct array picks the argmin (the
    ann_ivf_topk assignment shape — never a when-chain). Codebooks are
    literals (model-sized); no join, no shuffle, SQL-replayable."""
    cbs, ksub, dsub = _check_codebooks(codebooks)
    vec = F.col(vec_col)
    code = F.array(
        *[
            F.array_sort(
                F.array(
                    *[
                        F.struct(
                            _sub_dist_sq(
                                vec, j * dsub + 1, dsub, cbs[j][c]
                            ).alias("d"),
                            F.lit(c).cast("int").alias("c"),
                        )
                        for c in range(ksub)
                    ]
                )
            )[0]["c"]
            for j in range(len(cbs))
        ]
    )
    return df.select(F.col(id_col).alias("id"), code.alias("code"))


def pq_topk(
    df: DataFrame,
    query_ids: "list[int]",
    codebooks: "list[list[list[float]]]",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: "DataFrame | None" = None,
) -> DataFrame:
    """Approximate top-k by ASYMMETRIC DISTANCE (ADC): corpus vectors
    are scanned as PQ codes; each query's exact subvector-to-centroid
    distances form an m×ksub lookup table and a candidate's distance
    estimate is Σ_j lut[j][code_j]. Lower is closer; returns
    (qid, neighbor_id, rank, adc_dist) with rank by (adc asc, id
    asc), adc rounded to 6 digits.

    ``codes`` accepts a pre-built :func:`pq_encode` relation — the
    build-once/query-many shape (the inverted-index trade): re-ranking
    or a new query batch then never re-reads the raw vectors.

    Scale shape: encode is map-only; scoring joins the m-byte code
    relation against the BROADCAST query set — the corpus-side scan
    moves codes, never d-dim vectors (the 64× memory/shuffle cut is
    the operator's point vs cosine_topk; compose with an IVF list
    restriction upstream for IVF-PQ). The LUT is computed per
    (query, candidate) as a JVM fold over literal centroids — at
    ksub=16 that is 16 short folds per subspace, still codegen, no
    Python. Exact re-ranking of the ADC top-k' (k' ≈ 4k) through
    cosine_topk is the standard precision refinement."""
    cbs, ksub, dsub = _check_codebooks(codebooks)
    m = len(cbs)
    enc = codes if codes is not None else pq_encode(df, codebooks, id_col, vec_col)
    queries = df.filter(F.col(id_col).isin([int(q) for q in query_ids])).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    )
    # per-subspace LUT as a sorted-by-centroid array of exact
    # query-subvector distances; candidate cost = element_at by code
    luts = [
        F.array(
            *[
                _sub_dist_sq(F.col("qv"), j * dsub + 1, dsub, cbs[j][c])
                for c in range(ksub)
            ]
        ).alias(f"__lut{j}")
        for j in range(m)
    ]
    q2 = queries.select("qid", "qv", *luts)
    adc = None
    for j in range(m):
        term = F.element_at(
            F.col(f"__lut{j}"), F.col("code")[j].cast("int") + 1
        )
        adc = term if adc is None else adc + term
    scored = (
        enc.join(F.broadcast(q2), F.col("id") != F.col("qid"))
        .select("qid", F.col("id").alias("neighbor_id"), adc.alias("adc"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid", "neighbor_id", F.col("rank").cast("int").alias("rank"),
            round6("adc").alias("adc_dist"),
        )
    )


def ann_ivfpq_topk(
    df: DataFrame,
    query_ids: "list[int]",
    centroids: "dict[int, list[float]]",
    codebooks: "list[list[list[float]]]",
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ (the FAISS big-corpus composition): coarse-quantize the
    corpus into inverted lists (the ann_ivf_topk assignment), PQ-encode
    every vector (:func:`pq_encode`), then answer a query by scanning
    ONLY its ``nprobe`` nearest lists' CODES with asymmetric distance
    (:func:`pq_topk`'s LUT scoring). The two restrictions compose
    multiplicatively: candidate volume drops by ~n_lists/nprobe AND
    each candidate moves m·log₂k bits instead of d·32 — which is how a
    10¹⁰-vector index answers from cluster memory.

    Both models are explicit literals (the contract discipline of
    ann_ivf_topk's ``centroids=`` / pq_topk's codebooks), so every
    stage — assignment, probe set, codes, LUTs, ADC, rank — replays
    in SQL. Residual encoding (PQ over vector−centroid, FAISS's
    default refinement) is deliberately NOT done: codebooks stay
    list-independent so the code relation is buildable before the
    coarse quantizer exists and reusable across re-clusterings; at
    equal bit budget residual-PQ is more accurate — revisit if recall
    at the contract sizes warrants it.

    Returns (qid, neighbor_id, rank, adc_dist); rank by (adc asc, id
    asc) within the probed candidate set, self excluded.

    Scale shape: assignment + encode are ONE map-only pass over the
    corpus; the probe is an equi-join on list id against the broadcast
    exploded query probe set; ADC joins only probed codes. No
    corpus-sized shuffle anywhere; the window ranks per-query
    candidate subsets."""
    from hdk_spark.operators.clustering import _by_distance

    cbs, ksub, dsub = _check_codebooks(codebooks)
    m = len(cbs)
    cents = {int(c): [float(x) for x in v] for c, v in centroids.items()}
    vec = sql_ident(vec_col)
    ranked = _by_distance(vec, cents)
    base = df.selectExpr(
        f"{sql_ident(id_col)} AS id",
        f"{vec} AS v",
        f"{ranked}[0].c AS list_id",
        f"transform(slice({ranked}, 1, {int(nprobe)}), s -> s.c) AS probes",
    )
    codes = pq_encode(
        base.select(F.col("id").alias(id_col), F.col("v").alias(vec_col)),
        cbs, id_col, vec_col,
    )
    indexed = base.select("id", "list_id").join(codes, "id")
    queries = base.filter(
        F.col("id").isin([int(q) for q in query_ids])
    ).select(
        F.col("id").alias("qid"),
        F.col("v").alias("qv"),
        F.explode("probes").alias("qlist"),
    )
    luts = [
        F.array(
            *[
                _sub_dist_sq(F.col("qv"), j * dsub + 1, dsub, cbs[j][c])
                for c in range(ksub)
            ]
        ).alias(f"__lut{j}")
        for j in range(m)
    ]
    q2 = queries.select("qid", "qlist", *luts)
    adc = None
    for j in range(m):
        term = F.element_at(
            F.col(f"__lut{j}"), F.col("code")[j].cast("int") + 1
        )
        adc = term if adc is None else adc + term
    # no pair dedup needed (unlike a multi-table LSH join): a vector
    # has exactly ONE list_id and the probe set is distinct centroid
    # ids, so each (query, candidate) matches at most one probe row —
    # skipping dropDuplicates saves its exchange
    cand = indexed.join(
        F.broadcast(q2),
        (F.col("list_id") == F.col("qlist"))
        & (F.col("id") != F.col("qid")),
    ).select("qid", F.col("id").alias("neighbor_id"), adc.alias("adc"))
    w = Window.partitionBy("qid").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid", "neighbor_id", F.col("rank").cast("int").alias("rank"),
            round6("adc").alias("adc_dist"),
        )
    )


def _asym_anchor_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    floor: float,
    n_planes: int,
    n_tables: int,
    seed: int,
    dim: "int | None",
    anchor_pct: int,
) -> DataFrame:
    """Asymmetric LSH candidate generation for anchor-sampled
    contrastive mining: the corpus buckets ONCE per table; the left
    (anchor) side keeps only the hash-sampled anchor_pct% of ids, so
    candidate volume scales with the sample rate while partners still
    come from the full corpus. Emits the symmetric-form relation
    (anchor, other, cosine) with cosine ≥ floor, cosine through
    round6 — drop-in for the full-anchor union path."""
    if not (0 < anchor_pct <= 100):
        raise ValueError(f"anchor_pct must be in (0, 100], got {anchor_pct}")
    from hdk_spark.operators.dedup import _vec_dim, rademacher_planes
    from hdk_spark.operators.sampling import hash_bucket

    d = dim if dim is not None else _vec_dim(df, vec_col)
    planes = rademacher_planes(n_planes * n_tables, d, seed)
    # read by both candidate sides and both re-attach joins
    base, caches = _persist_internal(_vec_base(df, id_col, vec_col))
    bucketed = base.selectExpr(
        "id", f"explode({_table_buckets('v', planes, n_planes, n_tables)}) AS tb"
    ).selectExpr("id", "tb.tbl AS tbl", "tb.bkt AS bkt")
    a = bucketed.filter(
        hash_bucket(F.col("id"), 100, seed + 501) < F.lit(anchor_pct)
    ).alias("a")
    b = bucketed.hint("shuffle_hash").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(F.col("a.id").alias("anchor"), F.col("b.id").alias("other"))
        .dropDuplicates(["anchor", "other"])
    )
    paired = cand.join(
        base.select(F.col("id").alias("anchor"), F.col("v").alias("va"),
                    F.col("norm").alias("na")),
        "anchor",
    ).join(
        base.select(F.col("id").alias("other"), F.col("v").alias("vb"),
                    F.col("norm").alias("nb")),
        "other",
    )
    return _attach_caches(
        paired.withColumn("cosine", F.expr(_cosine("va", "vb", "na", "nb")))
        .filter(F.col("cosine") >= floor)
        .select("anchor", "other", round6("cosine").alias("cosine")),
        caches,
    )


def mine_contrastive_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pos_threshold: float = 0.5,
    neg_lo: float = 0.2,
    neg_hi: float = 0.45,
    mode: str = "lsh",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 7,
    dim: "int | None" = None,
    anchor_pct: "int | None" = None,
) -> DataFrame:
    """Mine (anchor, positive, hard-negative) triplets for contrastive
    embedding training (the in-batch-negatives upgrade; cf. SimCSE /
    DPR hard-negative mining): positives are near-duplicates
    (cosine ≥ ``pos_threshold``), hard negatives are same-bucket
    neighbors in the ``[neg_lo, neg_hi)`` band — close enough to
    collide in LSH, far enough to be semantically distinct, which is
    exactly what makes them HARD. Each anchor emits at most ONE
    triplet: its best positive and its best hard negative
    (max cosine, ties to the smallest partner id — deterministic).

    Classification happens on the round6-rounded cosine (the same
    value the pair relation emits), so the band edges are engine-
    stable. Anchors missing either side emit nothing.

    Scale shape: candidate generation is the bucketed
    ``embedding_neardup_pairs`` machinery (Σ|bucket|² candidates,
    never n²); the triplet pick is ONE window on (anchor, class) and
    one partial-agg groupBy on anchor. Returns
    (anchor, positive, pos_cos, negative, neg_cos).

    ``anchor_pct`` is the big-corpus knob: restrict ANCHORS to a
    deterministic hash-sampled ``anchor_pct``% of ids and generate
    candidates asymmetrically (sampled-anchor buckets × full corpus
    buckets), cutting candidate volume by the sample rate — triplet
    counts needed for contrastive training are corpus-sublinear, so
    mining from every anchor is waste at 10⁶+ vectors (measured: the
    full-anchor pass floors the rescore at neg_lo and pays ~10× a
    near-dup candidate set). Partners still come from the FULL
    corpus; only the anchor side is sampled. lsh mode only.
    """
    if not (neg_lo < neg_hi <= pos_threshold):
        raise ValueError(
            "need neg_lo < neg_hi <= pos_threshold, got "
            f"({neg_lo}, {neg_hi}, {pos_threshold})"
        )
    if anchor_pct is not None and mode != "lsh":
        raise ValueError("anchor_pct requires mode='lsh'")
    if anchor_pct is None:
        from hdk_spark.operators.dedup import embedding_neardup_pairs

        pairs = embedding_neardup_pairs(
            df, id_col=id_col, vec_col=vec_col, threshold=neg_lo,
            mode=mode, n_planes=n_planes, n_tables=n_tables, seed=seed,
            dim=dim,
        )
        # explode both directions in ONE pass (r14): the previous
        # union of two selects over `pairs` duplicated the whole
        # candidate-join + exact-rescore subtree — Spark recomputes a
        # DAG-shared relation per union branch. Same rows, same
        # columns; downstream is a window + groupBy, so row order is
        # irrelevant.
        sym = pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("anchor"),
                        F.col("id_b").alias("other"),
                        F.col("cosine"),
                    ),
                    F.struct(
                        F.col("id_b").alias("anchor"),
                        F.col("id_a").alias("other"),
                        F.col("cosine"),
                    ),
                )
            ).alias("__e")
        ).select("__e.anchor", "__e.other", "__e.cosine")
        caches = _caches_of(pairs)
    else:
        sym = _asym_anchor_pairs(
            df, id_col, vec_col, neg_lo, n_planes, n_tables, seed,
            dim, int(anchor_pct),
        )
        caches = _caches_of(sym)
    cls = (
        F.when(F.col("cosine") >= pos_threshold, F.lit("P"))
        .when(F.col("cosine") < neg_hi, F.lit("N"))
    )
    classified = sym.withColumn("cls", cls).filter(F.col("cls").isNotNull())
    w = Window.partitionBy("anchor", "cls").orderBy(
        F.desc("cosine"), F.asc("other")
    )
    top = classified.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    folded = top.groupBy("anchor").agg(
        F.max(
            F.when(
                F.col("cls") == "P",
                F.struct(F.col("other"), F.col("cosine")),
            )
        ).alias("__p"),
        F.max(
            F.when(
                F.col("cls") == "N",
                F.struct(F.col("other"), F.col("cosine")),
            )
        ).alias("__n"),
    )
    return _attach_caches(
        folded.filter(F.col("__p").isNotNull() & F.col("__n").isNotNull())
        .select(
            "anchor",
            F.col("__p.other").alias("positive"),
            F.col("__p.cosine").alias("pos_cos"),
            F.col("__n.other").alias("negative"),
            F.col("__n.cosine").alias("neg_cos"),
        ),
        caches,
    )


def ann_multiprobe_topk(
    df: DataFrame,
    query_ids: "list[int]",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_probes: int = 4,
    seed: int = 7,
    dim: "int | None" = None,
    deterministic: bool = True,
    codes: "DataFrame | None" = None,
    bounds: "list[tuple[float, float]] | None" = None,
) -> DataFrame:
    """Approximate top-k via MULTI-PROBE LSH (Lv et al. 2007): ONE
    sign-bucket table of ``n_planes`` bits; each query probes its
    exact bucket plus the ``n_probes − 1`` buckets reached by
    flipping its lowest-|margin| sign bits — the planes the query
    sits closest to, exactly where a true neighbor most likely fell
    on the other side. The recall-per-MEMORY upgrade over the
    L-tables construction (``ann_lsh_topk``): L tables store the
    corpus L times (the measured 459 MB/200k amplification above);
    multi-probe stores it ONCE and spends probes instead — probes
    multiply only the broadcast-side rows (|queries| × n_probes),
    never the corpus.

    Candidates are rescored with EXACT cosine (precision 1, recall
    approximate, monotone non-decreasing in n_probes — property-
    tested). ``deterministic=True`` (the oracle-pinned default)
    computes every plane dot as a fold-based JVM expression, so the
    whole path is SQL-replayable; ``deterministic=False`` is the
    production corpus kernel — all sign bits + the norm in one
    vectorized numpy matmul per Arrow batch, the same split (and the
    same ~10× interpreted-HOF gap) as ``ann_lsh_topk``. The query
    side (|queries| rows) always uses fold expressions — at 16 rows
    the kernel dispatch would cost more than it saves.
    Returns (qid, neighbor_id, rank, cosine) like the other ANN ops.

    Row-drop policy: vectors whose length differs from the (inferred
    or passed) ``dim`` are DROPPED before hashing — the same explicit
    mismatched-row policy as ``bitext_mine`` / ``sq8_encode`` (a
    wrong-width vector would otherwise bucket to 0 with NULL cosines,
    or break the numpy batch).

    Coded-lake entrance (the actual 100 TB configuration): pass
    ``codes`` (an ``sq8_encode`` relation, (id, codes)) plus its
    ``bounds`` and the corpus is DEQUANTIZED inside this kernel
    (``sq8_decode``, map-only) before hashing — ¼ the bytes scanned
    off storage AND sub-linear candidate generation, composing the
    SQ8 lake with the multi-probe search path instead of the brute
    ``sq8_topk`` scanner. ``df``/``id_col``/``vec_col`` are ignored
    in that regime (``df`` may be None — the floats are gone);
    ``dim`` is ``len(bounds)``. Recall vs the float corpus is
    property-tested (the 255-step grid moves near-tie ranks only).

    Scale shape: corpus side is ONE bucket row per vector (no
    posexplode ×tables) and the persisted relation carries ONLY
    (id, v, norm, b) — plane dots are never cached; the probe set
    builds on the |queries|-sized relation with array HOFs and
    broadcasts; candidate volume ≈ |queries| · n_probes · bucket
    occupancy; TakeOrdered per query. Measured at 200k×64d vs the
    L-tables construction: see SCALE.md (×1 cache vs ×n_tables at
    comparable recall).
    """
    if n_probes < 1 or n_probes > n_planes + 1:
        raise ValueError(
            f"n_probes must be in [1, n_planes + 1], got {n_probes}"
        )
    from hdk_spark.operators.dedup import _vec_dim, rademacher_planes

    if codes is not None:
        if bounds is None:
            raise ValueError("codes= requires the bounds it was trained on")
        if dim is not None and dim != len(bounds):
            raise ValueError(
                f"dim={dim} conflicts with len(bounds)={len(bounds)} — "
                "the coded lake's width is fixed by its bounds")
        df, id_col, vec_col, dim = sq8_decode(codes, bounds), "id", "v", len(bounds)
    d = dim if dim is not None else _vec_dim(df, vec_col)
    planes = rademacher_planes(n_planes, d, seed)
    dots = _fold_plane_dots("v", planes)
    # dimension gate (same explicit policy as bitext_mine/sq8_encode):
    # a wrong-width vector would zip_with into NULL plane dots and
    # silently land in bucket 0 with NULL cosines in deterministic
    # mode, and would make the Arrow batch ragged (np.array of lists
    # of unequal length → object dtype → matmul error) in the numpy
    # kernel — drop mismatched rows instead
    df = _width_gate(df, vec_col, d)
    if deterministic:
        # fold-based JVM plane dots: bit-reproducible in a SQL oracle
        corpus = (
            _vec_base(df, id_col, vec_col, f"{_fold_plane_dots(sql_ident(vec_col), planes)} AS __dots")
            .selectExpr("id", "v", "norm", f"{_bucket_from_dots(n_planes)} AS b")
        )
    else:
        from pyspark.sql.pandas.functions import pandas_udf

        planes_mat = np.array(planes, dtype=np.float64).T  # dim × planes
        pow2_np = np.array(
            [1 << i for i in range(n_planes)], dtype=np.int64
        )

        @pandas_udf("struct<b:long,norm:double>")
        def _sketch(vecs: pd.Series) -> pd.DataFrame:
            m = np.array(vecs.tolist(), dtype=np.float64)  # batch × dim
            signs = (m @ planes_mat) >= 0  # batch × planes
            ids = (signs * pow2_np[None, :]).sum(axis=1)
            norms = np.sqrt((m * m).sum(axis=1))
            return pd.DataFrame({"b": ids, "norm": norms})

        corpus = (
            df.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).alias("v"),
                _sketch(F.col(vec_col)).alias("sk"),
            )
            .selectExpr("id", "v", "sk.norm AS norm", "sk.b AS b")
        )
    # read by the query side and the candidate join;
    # release_caches(result) frees it
    corpus, caches = _persist_internal(corpus)
    # query side: filter the PERSISTED hashed relation, so the query's
    # exact bucket b comes from the SAME kernel that bucketed the
    # corpus — a near-zero plane dot may get opposite signs from the
    # numpy matmul vs a fold (the ann_lsh_topk divergence note), and a
    # fold-derived query bucket would then miss the query's own
    # (duplicate-holding) corpus bucket entirely at n_probes=1. Fold
    # dots are recomputed on the |queries| rows ONLY for the margin
    # ORDERING of the flips, where a near-zero disagreement just
    # reorders near-tied probe candidates.
    # Probe set: exact bucket + flips of the n_probes-1 smallest
    # |margin| planes (ties to the lower plane index — total order)
    qbase = corpus.where(_id_in(query_ids)).selectExpr(
        "*", f"{dots} AS __dots"
    )
    queries = qbase.selectExpr(
        "id AS qid", "v AS qv", "norm AS qnorm",
        f"explode({_multiprobe_probes(n_planes, n_probes)}) AS pb",
    )
    cand = (
        corpus.join(F.broadcast(queries), F.expr("b = pb AND id <> qid"))
        .select("qid", "qv", "qnorm", "id", "v", "norm")
        .dropDuplicates(["qid", "id"])
    )
    return _attach_caches(_topk_rank(_scored(cand), k), caches)


# ---------------------------------------------------------------------------
# Scalar (int8) quantization — the ×4 storage shrink for embedding
# LAKES (per-dimension affine quantization; the simple high-recall
# companion of PQ's ×(d·4/m) shrink). Citation pattern: the standard
# symmetric-range SQ8 of FAISS's ScalarQuantizer (public algorithm;
# no code consulted).
# ---------------------------------------------------------------------------


def sq8_train(
    df: DataFrame,
    vec_col: str = "embedding",
) -> "list[tuple[float, float]]":
    """Per-dimension (min, max) quantization bounds from ONE exact
    aggregation pass: posexplode → groupBy(dim) → min/max → collect of
    a d-sized relation (the bounded driver action of the centroid /
    codebook trainers — d rows, never corpus rows). Exact bounds (not
    sampled) so train is deterministic AND cross-engine-reproducible:
    unlike pq_train / ivf centroids, contract rows can use the real
    trainer."""
    stats = (
        df.select(F.posexplode(vec_col).alias("d", "x"))
        .groupBy("d")
        .agg(F.min(F.col("x").cast("double")).alias("lo"),
             F.max(F.col("x").cast("double")).alias("hi"))
        .orderBy("d")
        .collect()
    )
    return [(float(r["lo"]), float(r["hi"])) for r in stats]


def sq8_encode(
    df: DataFrame,
    bounds: "list[tuple[float, float]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to ``array<tinyint>``: per dimension,
    code = round(255·(x − lo)/(hi − lo)) − 128, clamped to [−128, 127]
    (constant dims — hi == lo — encode to 0). Map-only, one codegen
    projection; the coded relation is ¼ the float32 storage and the
    reconstruction error per dim is ≤ (hi−lo)/510 + representation
    error (round-to-nearest on a 255-step grid), property-tested.
    Returns (id, codes). SQL-replayable: round() on the same doubles.

    Row-drop policy: vectors whose length differs from len(bounds)
    (corrupt/truncated embeddings, or NULL) CANNOT be coded against
    these bounds and are DROPPED — the output may have fewer rows
    than the input; audit ``input.count() - coded.count()`` before
    committing a lake if silent loss matters (the same explicit
    mismatched-row policy as bitext_mine's dimension gate).
    """
    d = len(bounds)
    los = F.array(*[F.lit(lo) for lo, _ in bounds])
    spans = F.array(*[
        F.lit((hi - lo) if hi > lo else None).cast("double")
        for lo, hi in bounds
    ])
    codes = F.transform(
        F.col(vec_col),
        # NULL span marks a constant dim (hi == lo) -> code 0; the
        # branch must be a when, NOT coalesce around greatest/least
        # (Spark's greatest/least SKIP nulls, so a NULL code would be
        # silently clamped to -128 instead of surfacing)
        lambda x, i: F.when(
            F.element_at(spans, i + 1).isNotNull(),
            F.least(
                F.lit(127),
                F.greatest(
                    F.lit(-128),
                    (
                        F.round(
                            F.lit(255.0)
                            * (x.cast("double") - F.element_at(los, i + 1))
                            / F.element_at(spans, i + 1)
                        ).cast("int")
                        - F.lit(128)
                    ),
                ),
            ),
        ).otherwise(F.lit(0)).cast("tinyint"),
    )
    out = df.select(
        F.col(id_col).alias("id"),
        F.when(F.size(vec_col) == d, codes).alias("codes"),
    )
    return out.filter(F.col("codes").isNotNull())


def sq8_decode(
    coded: DataFrame,
    bounds: "list[tuple[float, float]]",
    id_col: str = "id",
    codes_col: str = "codes",
) -> DataFrame:
    """Dequantize an SQ8-coded relation back to float vectors:
    (id, v) with v[i] = lo_i + (code_i + 128) · (hi_i − lo_i)/255
    (constant dims — hi == lo — reconstruct to lo exactly). Map-only,
    one codegen projection, SQL-replayable — the shared reconstruction
    kernel of ``sq8_topk`` and the coded-corpus ANN entrances
    (``ann_multiprobe_topk(codes=...)`` / ``ann_lsh_topk(codes=...)``),
    so the affine inverse cannot drift between the brute and the
    sub-linear search paths."""
    los = F.array(*[F.lit(lo) for lo, _ in bounds])
    scales = F.array(*[
        F.lit(((hi - lo) / 255.0) if hi > lo else 0.0)
        for lo, hi in bounds
    ])
    deq = F.transform(
        F.col(codes_col),
        lambda c, i: F.element_at(los, i + 1)
        + (c.cast("double") + F.lit(128.0)) * F.element_at(scales, i + 1),
    )
    return coded.select(F.col(id_col).alias("id"), deq.alias("v"))


def sq8_topk(
    df: DataFrame,
    query_ids: "list[int]",
    bounds: "list[tuple[float, float]]",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: "DataFrame | None" = None,
) -> DataFrame:
    """Brute-force cosine top-k over DEQUANTIZED int8 codes — the
    memory path when the embedding lake is stored coded (¼ float32
    bytes scanned; recall vs exact float cosine is high because SQ8
    is a per-dim 255-step grid, property-tested on clustered synth).
    Queries are dequantized from their own codes (the stored-lake
    regime: floats are gone). Pass ``codes`` to reuse an encoded
    relation; otherwise encodes in-flight. Returns (qid, neighbor_id,
    rank, cosine) like the other ANN ops; cosine is the dequantized
    estimate through round6.

    This is the deliberate EXACT scanner over ¼-width codes; the
    sub-linear coded-lake configuration is the same codes fed to
    ``ann_multiprobe_topk(codes=..., bounds=...)``."""
    coded = codes if codes is not None else sq8_encode(
        df, bounds, id_col, vec_col)
    base = sq8_decode(coded, bounds).selectExpr("id", "v", f"{_norm('v')} AS norm")
    return _brute_cosine_rank(base, _as_queries(base, query_ids), k)


# ---------------------------------------------------------------------------
# Bitext mining — margin-based parallel-pair extraction across two
# embedding corpora (Artetxe & Schwenk 2019, "Margin-based Parallel
# Corpus Mining"; the CCMatrix/LASER pipeline op). Candidates come
# from the SAME sign-bucket machinery as ann_multiprobe_topk, so there
# is no all-pairs path: candidate volume is Σ per-bucket |src|·|tgt|.
# ---------------------------------------------------------------------------


def bitext_mine(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: "int | None" = 8,
    n_probes: int = 4,
    seed: int = 7,
    dim: "int | None" = None,
) -> DataFrame:
    """Mine aligned (src, tgt) pairs by RATIO MARGIN scoring:

        margin(x, y) = cos(x, y) /
                       ((avgₖNN(x) + avgₖNN(y)) / 2)

    where avgₖNN is the mean cosine of a side's top-k candidate
    neighborhood — the correction that separates true translations
    from hubs (a vector close to everything scores high raw cosine
    but its dense neighborhood deflates the margin). Emits the
    margin-best target per source with margin ≥ threshold:
    (src_id, tgt_id, cosine, margin).

    Candidates: both corpora bucket under the SAME Rademacher planes;
    the src side probes its exact bucket plus the n_probes−1
    lowest-|margin| bit flips (the multi-probe construction) and pairs
    with co-bucketed tgt rows — Σ|bucket_src|·|bucket_tgt| work, never
    |src|·|tgt|. Neighborhoods are computed WITHIN the candidate
    relation (the standard ANN-mining approximation — CCMatrix does
    the same with its index; exact k-NN would be a full cross
    product). All plane dots are fold-based JVM expressions, so the
    whole path — buckets, probes, cosines, both neighborhood windows,
    the margin divide — replays as a SQL oracle.

    Scale shape: two map-only bucket projections (each corpus hashed
    ONCE), one equi-join on bucket id, two windows over the cached
    candidate relation sharing its (qid)/(tid) partitionings
    (``release_caches(result)`` frees it), one filter. At 100 TB raise n_planes ≈ log₂(n) so buckets stay small —
    ``n_planes=None`` derives exactly that, max(8, ⌈log₂(max(|src|,
    |tgt|))⌉), from two corpus counts (a bounded driver action, the
    same opt-in discipline as the trainers). The literal default stays
    8 because (a) plane literals are baked into contract-row oracle
    SQL, so an implicit size-dependent default would make the query
    non-reproducible across scale factors, and (b) a library call
    should not silently scan the corpus twice unless asked. The
    candidate-volume/recall trade is measured in SCALE.md (the r11
    n_planes sweep: volume ~ |src|·|tgt|·n_probes/2^n_planes while
    planted-twin recall degrades gently).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_planes is None:
        import math

        n_biggest = max(src.count(), tgt.count())
        n_planes = max(8, math.ceil(math.log2(max(n_biggest, 2))))
    if n_probes < 1 or n_probes > n_planes + 1:
        raise ValueError(
            f"n_probes must be in [1, n_planes + 1], got {n_probes}"
        )
    from hdk_spark.operators.dedup import _vec_dim, rademacher_planes

    d = dim if dim is not None else _vec_dim(src, vec_col)
    planes = rademacher_planes(n_planes, d, seed)
    dots = _fold_plane_dots(sql_ident(vec_col), planes)
    bucket = _bucket_from_dots(n_planes)

    def hashed(df: DataFrame, with_dots: bool) -> DataFrame:
        # dimension gate: a vector of the wrong width would zip_with
        # into NULL plane dots that silently collapse into bucket 0
        # with NULL cosines (and NULL-cosine candidates would still
        # count in the k-NN averages) — drop mismatched rows instead,
        # the same explicit policy as sq8_encode
        base = _vec_base(
            _width_gate(df, vec_col, d), id_col, vec_col, f"{dots} AS __dots"
        ).selectExpr("*", f"{bucket} AS b")
        cols = ["id", "v", "norm", "b"] + (["__dots"] if with_dots else [])
        # no persist: each side feeds exactly one consumer (the probe
        # explode / the candidate join) — the THRICE-consumed relation
        # is `ranked` below, which is what gets persisted
        return base.select(*cols)

    s = hashed(src, with_dots=True)
    t = hashed(tgt, with_dots=False)
    # multi-probe set on the src side (the shared Lv 2007 construction)
    sprobed = s.selectExpr(
        "id AS qid", "v AS qv", "norm AS qnorm",
        f"explode({_multiprobe_probes(n_planes, n_probes)}) AS pb",
    )
    cand = (
        t.join(sprobed, F.expr("b = pb"))
        .selectExpr("qid", "id AS tid", f"{_cosine('qv', 'v', 'qnorm', 'norm')} AS cosine")
        .dropDuplicates(["qid", "tid"])
    )
    wq = Window.partitionBy("qid").orderBy(
        F.desc("cosine"), F.asc("tid")
    )
    wt = Window.partitionBy("tid").orderBy(
        F.desc("cosine"), F.asc("qid")
    )
    # persisted: three consumers (avg_q, avg_t, the final margin
    # join) over a 3-scalar-column candidate relation — the cheap
    # thing to cache, unlike the full-vector corpus relations
    ranked, caches = _persist_internal(cand.select(
        "qid", "tid", "cosine",
        F.row_number().over(wq).alias("__rq"),
        F.row_number().over(wt).alias("__rt"),
    ))
    # avg of each side's top-k candidate cosines — MICRO-QUANTIZED
    # (round(cos·1e9) summed in DECIMAL(38,0)): a plain double avg
    # sums in partial-agg arrival order, so near-boundary margins
    # could flip their 6-dp rounding across engines/partitionings
    q9 = F.round(F.col("cosine") * F.lit(1e9)).cast("decimal(38,0)")
    avg_q = ranked.filter(F.col("__rq") <= k).groupBy("qid").agg(
        (F.sum(q9).cast("double") / F.count(F.lit(1)) / F.lit(1e9))
        .alias("__aq")
    )
    avg_t = ranked.filter(F.col("__rt") <= k).groupBy("tid").agg(
        (F.sum(q9).cast("double") / F.count(F.lit(1)) / F.lit(1e9))
        .alias("__at")
    )
    scored = (
        ranked.join(avg_q, "qid")
        .join(avg_t, "tid")
        .select(
            "qid", "tid", "cosine",
            (F.col("cosine")
             / ((F.col("__aq") + F.col("__at")) / F.lit(2.0))
             ).alias("__margin"),
        )
    )
    wbest = Window.partitionBy("qid").orderBy(
        F.desc("__margin"), F.asc("tid")
    )
    return _attach_caches(
        scored.withColumn("__r", F.row_number().over(wbest))
        .filter((F.col("__r") == 1) & (F.col("__margin") >= threshold))
        .select(
            F.col("qid").alias("src_id"),
            F.col("tid").alias("tgt_id"),
            round6("cosine").alias("cosine"),
            round6("__margin").alias("margin"),
        ),
        caches,
    )
