"""Mergeable sketches — sketch each ingest slice ONCE, store the
summary beside the slice, and answer rollup questions by MERGING
summaries, never by re-scanning history (the only maintenance model
that survives 100 TB).

Layout: each family is defined ONCE, as a private core per step —
cells (corpus rows → bounded summary cells), merge law (slice
summaries → the summary of their union) and query (summary →
answer) — parameterised by a list of key columns. A global sketch is
a by-group sketch over a constant key: the global form passes no
key, the ``_by_group`` form keys every step on ``grp``, and each
global / ``_by_group`` pair is two thin wrappers over one core (the
set-algebra queries kmv_jaccard, kmv_set_stats and kmv_pairwise_stats
share the KMV estimator expressions). Cores that join derived
relations back key on the injective NULL-safe ``_grp_key``
(``__gk``) and carry ``grp`` along, so the NULL group, kept per SQL
GROUP BY, survives the equi-joins. The key list also
picks the physical shape: with no key every derived relation is
bucket- or shard-sized, so the global form forces broadcasts (and
KMV takes its bottom-k with TakeOrdered); keyed relations are
groups-scaled, so the by-group form keeps plain equi-joins (AQE may
still broadcast small ones) and takes bottom-k / top-(k+1) in the
salted two-phase aggregation.

The families and their merge laws:

- HLL distinct counts (ndv_rollup / merge_ndv_rollups /
  ndv_estimate) — register-wise max, idempotent; Spark's Apache
  DataSketches functions, the family the reference's
  approx_count_distinct maps to (SURVEY.md §2.5). Exact by
  construction: sketch(A) ∪ sketch(B) has byte-for-byte the
  registers of sketch(A∪B) at the same lgConfigK (property-tested).
- Count-Min point frequencies (cms_*) — linear cell sum.
- Misra-Gries frequency tops (mg_*; exact recount via
  frequent_items) — counter add + one trim (Agarwal et al. 2012
  "Mergeable Summaries" §3).
- DDSketch quantiles (dds_*) — linear bucket sum, with the
  relative-error guarantee of Masson, Rim & Lee 2019.
- KMV / bottom-k distinct samples (kmv_*) — bottom-k of the summary
  union (Bar-Yossef et al. 2002; Beyer et al. 2007), which also
  answers set-operation questions (Jaccard, union/intersection NDV,
  both containments; kmv_pairwise_stats for every group pair).

The streaming twins in hdk_spark.streaming apply each merge law per
micro-batch: the linear and HLL twins (stream_cms, stream_dds, their
by-group forms, stream_ndv_rollup) ARE the batch builds run as
streaming aggregations; stream_frequent_items and stream_kmv (each
one keyed builder, global or by group) hold MG counters / bottom-k
lists as applyInPandasWithState state."""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, functions as F

from hdk_spark.operators.caches import (
    _attach_caches,
    _persist_internal,
    release_caches,
)

__all__ = ["ndv_rollup", "merge_ndv_rollups", "ndv_estimate",
           "frequent_items", "mg_summary", "mg_merge",
           "mg_heavy_hitters", "mg_summary_by_group", "mg_merge_by_group",
           "mg_heavy_hitters_by_group",
           "cms_build", "cms_merge", "cms_query",
           "cms_build_by_group", "cms_merge_by_group",
           "cms_query_by_group",
           "dds_build", "dds_merge", "dds_quantile",
           "dds_build_by_group", "dds_merge_by_group",
           "dds_quantile_by_group",
           "kmv_summary", "kmv_merge", "kmv_ndv", "kmv_jaccard",
           "kmv_set_stats", "kmv_by_group", "kmv_ndv_by_group",
           "kmv_merge_by_group", "kmv_pairwise_stats",
           "release_caches",
]

#: the by-group key of cores that join derived relations back: the
#: NULL-safe join key (see _grp_key) and the group column it carries
_GK = ["__gk", "grp"]

#: salt fan-out of the two-phase per-key top-k (the MG rank-(k+1)
#: median and the by-group KMV bottom-k): each phase-1 group holds
#: ~distinct/(keys·salts) entries, so no single task ever sorts a
#: whole shard's or group's vocabulary (VERDICT r11 #3)
_TOPK_SALTS = 64


def _check_k(k: int, lo: int) -> None:
    if k < lo:
        raise ValueError(f"k must be >= {lo}, got {k}")


def _check_m(m: int) -> None:
    if m < 1 or (m & (m - 1)) != 0:
        raise ValueError(f"m must be a power of two >= 1, got {m}")


def _grp_cols(group_col: "str | None") -> list:
    """The key a build projects: nothing for the global form, the
    group column cast to string as ``grp`` for the by-group form."""
    return [] if group_col is None else [
        F.col(group_col).cast("string").alias("grp")]


def _grp_key(grp_col):
    """Injective NOT-NULL join key for a nullable group column: SQL
    equi-joins never match NULL = NULL, so any per-group operator
    that JOINS its derived relations back on grp would silently drop
    the NULL group's rows (the kept-per-SQL-GROUP-BY group). "n" for
    the NULL group, "v:" + value otherwise — prefixes disjoint, so no
    value collides with the NULL marker."""
    return F.when(grp_col.isNull(), F.lit("n")).otherwise(
        F.concat(F.lit("v:"), grp_col))


def _with_gk(df: DataFrame, keys) -> DataFrame:
    """Add the ``__gk`` join key when the core is keyed by group."""
    return df.withColumn("__gk", _grp_key(F.col("grp"))) if keys else df


def _small(df: DataFrame, keys) -> DataFrame:
    """Broadcast hint for a derived relation of an UNKEYED core, where
    every derived relation is bucket- or shard-sized; keyed relations
    are groups-scaled, so the by-group form leaves the choice to AQE."""
    return df if keys else F.broadcast(df)


def _union_all(rels, err: str) -> DataFrame:
    if not rels:
        raise ValueError(err)
    out = rels[0]
    for r in rels[1:]:
        out = out.unionByName(r)
    return out


def _sum_cells(sketches, cols, err: str) -> DataFrame:
    """The linear merge law (CMS cells, DDS buckets): element-wise
    counter sum over the union — EXACTLY the sketch of the
    concatenated multisets."""
    return _union_all(sketches, err).groupBy(*cols).agg(
        F.sum("c").cast("long").alias("c"))


def ndv_rollup(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lgk: int = 12,
) -> DataFrame:
    """Per-group HLL sketch of ``value_col``: one partial-agg groupBy
    emitting (group, n_rows, sketch) — sketch is binary, ~(2^lgk)
    bytes max per group regardless of cardinality (lgk=12 → ±1.6%
    standard error in ~4 KB). Store it with the slice's metadata; the
    merge path never re-reads the slice."""
    return df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias("sketch"),
    )


def merge_ndv_rollups(*rollups: DataFrame) -> DataFrame:
    """Combine :func:`ndv_rollup` outputs from disjoint (or
    overlapping — HLL unions are idempotent) slices into the rollup
    of the union WITHOUT touching the underlying rows: union of
    groups-sized relations + one partial-agg groupBy folding
    register-wise maxima. ``ndv_estimate(merge(r(A), r(B))) ==
    ndv_estimate(r(A ∪ B))`` exactly (property-tested)."""
    out = _union_all(rollups, "merge_ndv_rollups needs at least one input")
    return out.groupBy("grp").agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.hll_union_agg("sketch").alias("sketch"),
    )


def ndv_estimate(rollup: DataFrame) -> DataFrame:
    """(group, n_rows, ndv) from a sketch rollup — ndv is the HLL
    estimate rounded to the nearest long (DataSketches' estimator is
    deterministic for fixed registers)."""
    return rollup.select(
        "grp",
        "n_rows",
        F.round(F.hll_sketch_estimate("sketch")).cast("long").alias("ndv"),
    )


# ---------------------------------------------------------------- Misra-Gries


def _mg_trim(counters: "dict", k: int) -> None:
    """Misra-Gries overflow step: subtract the (k+1)-th largest
    counter from everything and drop non-positives — the mergeable-
    summaries trim (Agarwal et al. 2012, "Mergeable Summaries" §3),
    which keeps per-item undercount ≤ (N − Σcounters)/(k+1)."""
    if len(counters) <= k:
        return
    med = sorted(counters.values(), reverse=True)[k]
    for key in list(counters):
        c = counters[key] - med
        if c > 0:
            counters[key] = c
        else:
            del counters[key]


def frequent_items(
    df: DataFrame,
    value_col: str,
    k: int = 100,
) -> DataFrame:
    """EXACT heavy hitters: every item of ``value_col`` whose count
    strictly exceeds n/k, with its TRUE count — at any scale, in two
    bounded passes (Misra-Gries 1982 + the classic recount).

    Pass 1 — candidates AND total: each partition folds its rows
    through a k-counter Misra-Gries summary (bounded memory regardless
    of the partition's cardinality; the decremental trim is why this
    is a Python kernel — a decrement-all step is not expressible as a
    Spark partial aggregate) and emits its row count alongside, so
    n_total needs NO extra corpus pass. Pass 2 — exact: the corpus is
    semi-joined to the (≤ partitions·k)-row candidate set and counted
    exactly, then thresholded with integer arithmetic (cnt·k > n).
    Exactly two corpus scans, both unavoidable (any exact algorithm
    needs the recount).

    The candidate superset is GUARANTEED: if an item survives no
    partition summary, its count in every partition p is at most
    n_p/(k+1), so its total is ≤ n/(k+1) < n/k — contraposition says
    every item over the threshold is a candidate (property-tested
    against brute force). NULLs are excluded (not an item).

    Returns (item, cnt, n_total), descending cnt, ties on item.

    Cache lifetime: the bounded candidate summary is persisted (the
    total and the candidate set both read it) and the returned lazy
    plan reads it; after materializing, ``release_caches(result)``
    frees it.
    """
    _check_k(k, 1)
    from collections.abc import Iterator

    import pandas as pd

    from pyspark.sql import types as T

    src = df.select(F.col(value_col).cast("string").alias("item")).filter(
        F.col("item").isNotNull()
    )
    out_schema = T.StructType(
        [
            T.StructField("item", T.StringType()),
            T.StructField("n_part", T.LongType()),
        ]
    )

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        seen = 0
        for pdf in batches:
            seen += len(pdf)
            for v, c in pdf["item"].value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
            _mg_trim(counters, k)
        items = sorted(counters) + [None]
        yield pd.DataFrame(
            {"item": items, "n_part": [0] * (len(items) - 1) + [seen]}
        )

    # tiny (≤ partitions·(k+1) rows); persisted because both the total
    # and the candidate set read it — without the persist the corpus
    # summary pass would run twice
    summ, _own = _persist_internal(src.mapInPandas(summarize, out_schema))
    n_total = summ.agg(F.sum("n_part")).collect()[0][0] or 0
    cands = summ.filter(F.col("item").isNotNull()).select("item").distinct()
    counted = (
        src.join(F.broadcast(cands), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") * F.lit(k) > F.lit(int(n_total)))
    )
    return _attach_caches(
        counted.select(
            "item", "cnt", F.lit(int(n_total)).cast("long").alias("n_total")
        ).orderBy(F.desc("cnt"), "item"),
        _own,
    )


def _mg_tops(cnt: DataFrame, k: int, keys, *aggs) -> DataFrame:
    """Phase 1 of the windowless MG trim over a (*keys, shard, item,
    c) count relation: per (*keys, shard, salt) the negated top-(k+1)
    count list, plus any extra ``aggs`` computed in the same pass.

    The rank-(k+1) value is found WITHOUT any Window over the count
    relation (the r11 version row_numbered each whole shard through
    one window partition — a vocabulary-sized single-task sort at
    lake scale). Items salt into _TOPK_SALTS sub-groups per shard and
    each sub-group keeps only its top-(k+1) counts (bounded
    aggregation: the global rank-(k+1) row is necessarily within its
    own sub-group's top-(k+1), since fewer than k+1 rows can precede
    it anywhere); :func:`_mg_median_from_tops` merges the ≤
    salts·(k+1) survivors per shard to the exact median value.

    Bare negated counts, not (c, item) structs: the rank-(k+1) VALUE
    depends only on the MULTISET of counts (any tie-break permutes
    equal values without moving the value at a rank), so the r11
    row_number's (c desc, item asc) order and this ascending-(-c)
    order put the same c at rank k+1 — bit-identical output, and the
    aggregation ships longs instead of structs."""
    return (
        cnt.withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.col("item")), F.lit(_TOPK_SALTS))
            .cast("int"),
        )
        .groupBy(*keys, "shard", "__salt")
        .agg(
            F.slice(F.array_sort(F.collect_list(-F.col("c"))), 1, k + 1)
            .alias("tops"),
            *aggs,
        )
    )


def _mg_median_from_tops(part: DataFrame, k: int, jk) -> DataFrame:
    """Merge per-(*jk, shard, salt) negated top-(k+1) count lists to
    the exact per-shard rank-(k+1) value: explode the survivors, one
    tiny aggregation, pick element k+1. Returns (*jk, shard, __med) —
    shards with < k+1 distinct items emit no row (their trim
    subtracts 0)."""
    kp1 = k + 1
    return (
        part.select(*jk, "shard", F.explode("tops").alias("nc"))
        .groupBy(*jk, "shard")
        .agg(F.array_sort(F.collect_list("nc")).alias("tops"))
        .filter(F.size("tops") >= kp1)
        .select(
            *jk, "shard",
            (-F.element_at("tops", kp1)).cast("long").alias("__med"),
        )
    )


def _mg_subtract(cnt: DataFrame, med_rel: DataFrame, jk) -> DataFrame:
    """The MG trim's subtraction: join the median relation onto the
    count relation, subtract, drop non-positives — the corpus-sized
    side never sorts, never shuffles for this. Returns (*jk, shard,
    item, cnt)."""
    return (
        cnt.join(_small(med_rel, jk), [*jk, "shard"], "left")
        .select(
            *jk, "shard", "item",
            (F.col("c") - F.coalesce(F.col("__med"), F.lit(0)))
            .cast("long").alias("cnt"),
        )
        .filter(F.col("cnt") > 0)
    )


def _mg_with_totals(trimmed: DataFrame, n_rel: DataFrame, keys) -> DataFrame:
    """Attach the per-(key, shard) n_shard accounting to a trimmed
    counter relation. Outer toward the totals: an all-trimmed shard
    keeps its accounting row (item NULL, cnt NULL, n_shard). RIGHT
    outer with the unkeyed broadcast hint on the LEFT (non-preserved)
    side — hinting the preserved side of an outer join is silently
    ignored and degrades to a sort-merge join with two extra
    exchanges."""
    return _small(trimmed, keys).join(
        n_rel, [*keys[:1], "shard"], "right"
    ).select(*keys[1:], "shard", "item", "cnt", "n_shard")


def _mg_build(df, group_col, value_col, k, n_shards, hash_basis):
    """The MG cells: exact per-(key, shard, item) counts, ONE trim
    per (key, shard), n_shard accounting — eager, see mg_summary."""
    _check_k(k, 1)
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    keys = _GK if group_col is not None else []
    src = df.select(
        *_grp_cols(group_col), F.col(value_col).cast("string").alias("item")
    ).filter(F.col("item").isNotNull())
    # persisted: cnt feeds BOTH the trim relation and the per-shard
    # totals, and Spark's exchange reuse does not bridge the two
    # subtrees — un-persisted, building one summary scanned the corpus
    # twice (executed-plan-verified, 0 ReusedExchange). cnt is
    # distinct-(key, shard, item)-sized; persist() is MEMORY_AND_DISK,
    # so a huge vocabulary spills rather than OOMs, and one spilled
    # pass still beats two corpus scans + two identical shuffles. The
    # cnt cache is SCOPED TO THE BUILD: the summary (bounded, ≤
    # keys·n_shards·(k+1) rows) is persisted and forced with one
    # count() — a bounded driver action, the trainer convention — then
    # cnt is released, so a session building summaries over many
    # slices retains only k-sized caches, never the vocabularies.
    cnt = _with_gk(
        src.withColumn(
            "shard",
            F.pmod(
                _cms_base_hash(F.col("item"), hash_basis), F.lit(n_shards)
            ).cast("int"),
        ),
        keys,
    ).groupBy(*keys, "shard", "item").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).persist()
    # ONE phase-1 pass computes BOTH trim ingredients: the salted
    # top-(k+1) count lists for the rank-(k+1) median AND the partial
    # totals for n_shard — so the build keeps exactly two passes over
    # the cached count relation (this aggregation + the subtraction
    # join). phase1 is tiny and build-scoped like cnt.
    phase1 = _mg_tops(
        cnt, k, keys, F.sum("c").cast("long").alias("__s")).persist()
    med_rel = _mg_median_from_tops(phase1, k, keys[:1])
    n_rel = phase1.groupBy(*keys, "shard").agg(
        F.sum("__s").cast("long").alias("n_shard"))
    summary = _mg_with_totals(
        _mg_subtract(cnt, med_rel, keys[:1]), n_rel, keys).persist()
    summary.count()
    phase1.unpersist()
    cnt.unpersist()
    return summary


def mg_summary(
    df: DataFrame,
    value_col: str,
    k: int = 100,
    n_shards: int = 8,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """ONE-ROUND sharded Misra-Gries summary as a relation — the
    deterministic batch REFERENCE for ``streaming.stream_frequent_
    items``: items hash-shard on ``pmod(hash(item), n_shards)``; per
    shard the EXACT counts take one MG trim (subtract the (k+1)-th
    largest count value, drop non-positives — no trim when the shard
    holds ≤ k items). Because counting is exact before the single
    trim, the result is a pure function of the multiset — order- and
    partitioning-independent, and (on the 'md5' basis) fully
    SQL-replayable: counts, the rank-(k+1) median, the subtraction.
    Returns (shard, item, cnt, n_shard): ≤ k item rows per shard, each
    with cnt > 0, plus NULL-item accounting rows (below).

    MG guarantees carried (Misra-Gries 1982; Agarwal et al. 2012
    "Mergeable Summaries" §3): cnt never exceeds the true shard
    count; undercount ≤ (n_shard − Σcnt)/(k+1); every item with true
    count > n_shard/(k+1) survives. Sharding by item TIGHTENS the
    bound (each shard sees ~n/n_shards rows) and is what lets the
    streaming twin hold ≤ n_shards·k counters of state.

    A shard whose trim drops EVERY item (all counts tie at ≤ the
    (k+1)-th value — flat distributions) still emits one ACCOUNTING
    row (item NULL, cnt NULL, n_shard) so shard volume is never lost:
    mg_merge's n_shard accounting and error bounds stay true even
    when an input slice's shard summarized to nothing. Consumers
    reading items should filter ``cnt IS NOT NULL``.

    Scale note: the rank-(k+1) median comes from the salted two-phase
    aggregation (_mg_tops), never a Window, and the ≤ n_shards-row
    median relation broadcasts back for the subtraction. The build is
    EAGER (one bounded count() action): the corpus is scanned once,
    the ≤ n_shards·(k+1)-row summary is cached, and the
    vocabulary-sized intermediate is released — repeated builds in a
    long-lived session retain only k-sized caches. The EXACT
    heavy-hitter query is ``frequent_items`` (which recounts).

    Cache lifetime: the RETURNED summary stays persisted (its
    consumers — mg_merge, mg_heavy_hitters, the oracle replays — read
    it repeatedly), and distinct slices produce distinct plans, so
    the cache manager never dedupes them. A long-lived session
    building summaries over MANY slices should ``.unpersist()`` each
    returned summary once done with it; each entry is tiny
    (≤ n_shards·(k+1) rows) but the count is otherwise unbounded."""
    return _mg_build(df, None, value_col, k, n_shards, hash_basis)


def _mg_merge(summaries, k, keys, err):
    """The MG merge law: per-(key, shard, item) counter ADD over the
    tagged union, ONE trim, n_shard summed per input."""
    _check_k(k, 1)
    # each input is consumed by BOTH the counter union and the totals
    # union; tagging rows with their input index and persisting the
    # single tagged union makes every input's lineage run ONCE (an
    # in-lineage mg_summary input would otherwise re-scan its corpus
    # per consumer). The tag also keeps per-input totals distinct
    # BEFORE summing — two inputs whose shard happens to carry the
    # same n_shard value must contribute it twice.
    u = _union_all([
        s.select(*keys[1:], "shard", "item", "cnt", "n_shard",
                 F.lit(i).alias("__src"))
        for i, s in enumerate(summaries)
    ], err)
    # bounded: ≤ inputs·(k+1) rows per (key, shard); ownership-aware
    # persist (repeat calls share one refcounted entry)
    u, _own = _persist_internal(_with_gk(u, keys))
    jk = keys[:1]
    merged = (
        u.filter(F.col("item").isNotNull())  # accounting rows
        .groupBy(*jk, "shard", "item")
        .agg(F.sum("cnt").cast("long").alias("c"))
    )
    n_rel = (
        u.select(*keys, "shard", "n_shard", "__src").distinct()
        .groupBy(*keys, "shard")
        .agg(F.sum("n_shard").cast("long").alias("n_shard"))
    )
    med_rel = _mg_median_from_tops(_mg_tops(merged, k, jk), k, jk)
    return _attach_caches(
        _mg_with_totals(_mg_subtract(merged, med_rel, jk), n_rel, keys),
        _own,
    )


def mg_merge(*summaries: DataFrame, k: int = 100) -> DataFrame:
    """Combine :func:`mg_summary` relations from corpus SLICES into a
    summary of the union WITHOUT re-reading any rows — the MG member
    of the repo's merge-not-rescan family (``cms_merge`` cell sums,
    ``merge_ndv_rollups`` register maxima; here: per-(shard, item)
    counter ADD over the ≤ inputs·k-rows-per-shard union, then ONE
    trim — Agarwal et al. 2012 "Mergeable Summaries" §3). n_shard
    accounting sums each input's per-shard total (taken DISTINCT from
    its repeated column); inputs' NULL-item accounting rows carry an
    all-trimmed shard's volume, so no mass is ever lost, and the
    merged relation emits the same accounting row for shards that
    end up empty.

    Merged guarantees (property-tested, and value-checked by the
    stats_mg_merge contract row): cnt never exceeds the true union
    count; undercount ≤ (n_shard − Σcnt)/(k+1); every item with true
    union count > n_shard/(k+1) survives. When no trim fired anywhere
    (k ≥ every distinct-per-shard), merge(mg(A), mg(B)) ==
    mg_summary(A ∪ B) exactly.

    All inputs must share the hash basis and n_shards they were built
    with (shard ids are only comparable under the same sharding) and
    the SAME k should be passed here — a larger k cannot recover
    already-trimmed mass, a smaller one tightens the summary.

    Cache lifetime: the tagged input union is persisted (bounded, ≤
    inputs·(k+1) rows per shard) and the returned lazy plan reads it;
    after materializing, release it with ``release_caches(result)`` —
    unpersisting the inputs is a no-op (Dataset.unpersist is
    non-cascading)."""
    return _mg_merge(summaries, k, [], "mg_merge needs at least one input")


def _mg_heavy_hitters(summary, phi, k, keys):
    """The MG query: per-(key, shard) slack, per-key volume N, the
    φ·N certain/possible split."""
    _check_k(k, 1)
    if not (0.0 < phi <= 1.0):
        raise ValueError(f"phi must be in (0, 1], got {phi}")
    jk, carried = keys[:1], keys[1:]
    # three consumers (totals, slack, items) — persist the bounded
    # summary so an in-lineage input's corpus derivation runs once;
    # when the caller already cached it (mg_summary returns a
    # persisted frame by contract) reuse THEIR cache and attach
    # nothing, so release_caches(result) can never clobber it
    summary, _own = _persist_internal(_with_gk(summary.select(
        *carried, "shard", "item", "cnt", "n_shard"), keys))
    totals = summary.select(*jk, "shard", "n_shard").distinct()
    n_rel = totals.groupBy(*jk).agg(F.sum("n_shard").cast("long").alias("n"))
    slack = (
        summary.groupBy(*jk, "shard")
        .agg(
            F.floor(
                (F.max("n_shard") - F.coalesce(F.sum("cnt"), F.lit(0)))
                / F.lit(k + 1)
            ).cast("long").alias("__slack")
        )
    )
    items = summary.filter(F.col("item").isNotNull()).join(
        _small(slack, keys), [*jk, "shard"])
    # unkeyed, N is ONE row: a broadcast nested-loop attach (the
    # Krippendorff 1-row-aggregate pattern — the 'nested loop' is a
    # constant)
    items = items.join(n_rel, jk) if keys else items.crossJoin(
        F.broadcast(n_rel))
    scored = items.select(
        *carried, "item",
        F.col("cnt").alias("cnt_lower"),
        (F.col("cnt") + F.col("__slack")).alias("cnt_upper"),
        (F.col("cnt").cast("double") >= F.lit(phi) * F.col("n"))
        .alias("certain"),
        (F.col("cnt") + F.col("__slack")).cast("double").alias("__up"),
        (F.lit(phi) * F.col("n")).alias("__thr"),
    )
    return _attach_caches(
        scored.filter(F.col("__up") >= F.col("__thr"))
        .select(*carried, "item", "cnt_lower", "cnt_upper", "certain")
        .orderBy(*carried, F.desc("cnt_lower"), "item"),
        _own,
    )


def mg_heavy_hitters(summary: DataFrame, phi: float, k: int) -> DataFrame:
    """φ-heavy-hitter QUERY over an MG summary relation — the
    consumer that completes the family (CMS has cms_query; this is
    the MG analog): every item whose true global count COULD reach
    φ·N, split into certain and possible. Because items shard BY
    item hash, an item's entire count lives in one shard, so the
    global question decomposes per shard exactly:

    - lower bound = cnt (MG counters never overcount),
    - upper bound = cnt + shard slack, slack = ⌊(n_shard − Σcnt_shard)
      /(k+1)⌋ (the Misra-Gries undercount bound; an UNLISTED item is
      bounded by the slack alone, which is why items below it can
      never be certified absent — the summary's honest limit),
    - ``certain`` = lower ≥ φ·N; emitted rows are upper ≥ φ·N.

    COMPLETENESS PRECONDITION (r11 review): only LISTED items are
    scored, and MG guarantees an item survives its shard's trim only
    when its true count > n_shard/(k+1) — so "no true φ-heavy item is
    missed" holds iff φ·N > n_s/(k+1) for every shard s (pick k ≥
    max_s n_s/(φ·N); with even hash sharding n_s ≈ N/n_shards, i.e.
    k ≥ 1/(φ·n_shards) suffices with margin). Below that, a fully-
    trimmed item whose slack-only upper bound clears φ·N is silently
    absent — the summary's honest limit (test-pinned both ways:
    guarantee above the threshold, documented miss below it).

    N = Σ per-shard n_shard — TOTAL volume, which the NULL-item
    accounting rows keep exact even for all-trimmed shards. Pass the
    SAME k the summary was built/merged with (it is not stored in the
    relation). Pure shards-sized arithmetic: one totals distinct, one
    per-shard Σcnt aggregate, one broadcast hash join for the slack
    and a ONE-ROW broadcast nested-loop for the global N; no window,
    no corpus access. Returns (item, cnt_lower, cnt_upper, certain),
    filterable fully in SQL (contract row stats_mg_heavy_hitters).

    Cache lifetime: the bounded summary is persisted for its three
    subtrees and the returned lazy plan reads it; after
    materializing, ``release_caches(result)`` frees it. When the
    CALLER already cached the summary (mg_summary returns a persisted
    frame), that cache is reused and nothing is attached —
    release_caches(result) returns 0 and never clobbers a
    caller-owned cache."""
    return _mg_heavy_hitters(summary, phi, k, [])


def mg_summary_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 100,
    n_shards: int = 8,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Per-GROUP :func:`mg_summary`: each group's rows ARE mg_summary
    of that group's values with grp attached (sharding by ITEM hash —
    grp does not enter the shard). Returns (grp, shard, item, cnt,
    n_shard). NULL GROUPS are kept (SQL GROUP BY); the derived
    relations are groups-scaled, so nothing is force-broadcast."""
    return _mg_build(df, group_col, value_col, k, n_shards, hash_basis)


def mg_merge_by_group(*summaries: DataFrame, k: int = 100) -> DataFrame:
    """Per-GROUP :func:`mg_merge` of :func:`mg_summary_by_group`
    relations: the same law per (grp, shard); groups missing from one
    slice pass through. NULL GROUPS are kept; nothing is
    force-broadcast. Release the tagged union with
    ``release_caches(result)``."""
    return _mg_merge(
        summaries, k, _GK, "mg_merge_by_group needs at least one input")


def mg_heavy_hitters_by_group(
    summary: DataFrame, phi: float, k: int
) -> DataFrame:
    """Per-GROUP :func:`mg_heavy_hitters`: N is each GROUP's volume,
    so φ asks "heavy within its group". Returns (grp, item,
    cnt_lower, cnt_upper, certain) ordered per group. NULL GROUPS are
    kept; nothing is force-broadcast. Release the keyed summary cache
    with ``release_caches(result)``."""
    return _mg_heavy_hitters(summary, phi, k, _GK)


# ------------------------------------------------------------------- Count-Min


def _cms_base_hash(col, hash_basis: str):
    """64-bit base hash of a value for the CMS Knuth-cell family.

    'xxhash64' (default): JVM-native, the production basis.
    'md5': first 4 md5 bytes as a non-negative int — computable
    identically in DuckDB (``CAST(('0x' || substr(md5(v),1,8)) AS
    BIGINT)``), so contract rows can replay every cell in SQL (the
    same basis discipline as simhash_pairs / minhash md5 modes).
    """
    s = col.cast("string")
    if hash_basis == "xxhash64":
        return F.xxhash64(s)
    if hash_basis == "md5":
        return F.conv(
            F.substring(F.md5(F.encode(s, "utf-8")), 1, 8), 16, 10
        ).cast("long")
    raise ValueError(f"unknown hash_basis {hash_basis!r}")


def _cms_cell_rows(xcol, depth: int, width: int, seed: int):
    """The depth (r, b) cells of one hashed value, exploded to one
    ``rb`` struct row each: the repo's arithmetic Knuth family ((x mod P)·MULT + seed + r·r_mult)
    mod P mod width with P = 1e9+7 — every factor < 2^31 so the
    product stays inside int64 in Spark AND DuckDB."""
    return F.explode(F.array(*[
        F.struct(
            F.lit(r).alias("r"),
            (
                F.pmod(
                    F.pmod(xcol, F.lit(1_000_000_007))
                    * F.lit(2654435761 % 1_000_000_007)
                    + F.lit(seed + r * 1_000_003),
                    F.lit(1_000_000_007),
                )
                % F.lit(width)
            ).cast("int").alias("b"),
        )
        for r in range(depth)
    ])).alias("rb")


def _cms_build(df, group_col, value_col, depth, width, seed, hash_basis):
    """The CMS cells: one map-side explode of depth cells per row +
    ONE partial-agg groupBy over (key, r, b)."""
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    keys = [] if group_col is None else ["grp"]
    v = _cms_base_hash(F.col(value_col), hash_basis)
    src = df.filter(F.col(value_col).isNotNull()).select(
        *_grp_cols(group_col), v.alias("__x"))
    cells = src.select(
        *keys, _cms_cell_rows(F.col("__x"), depth, width, seed))
    return cells.groupBy(
        *keys, F.col("rb.r").alias("r"), F.col("rb.b").alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))


def _probe_values(sketch: DataFrame, values) -> DataFrame:
    """The probe relation (item): a Python list inlines as a literal
    relation; a DataFrame's FIRST column is deduplicated with NULL
    probes dropped (probe sets too large to ship as literals)."""
    if isinstance(values, DataFrame):
        # positional toDF rename, not F.col/df[name]: a first column
        # whose name contains a dot would otherwise resolve as a
        # struct-field path and fail analysis (r14 review; both
        # accessors dot-parse in Spark 4)
        vals = (
            values.toDF(*[f"_c{i}" for i in range(len(values.columns))])
            .select(F.col("_c0").cast("string").alias("item"))
            .filter(F.col("item").isNotNull())
            .dropDuplicates(["item"])
        )
        # same loud failure as the literal path: an upstream probe
        # relation that came up empty (or all-NULL) must not return a
        # silently empty answer — the one eager action here is a
        # limit-1 probe of a relation the caller sized to be a probe
        # set, not a corpus
        if vals.isEmpty():
            raise ValueError("values must be non-empty")
        return vals
    if not values:
        raise ValueError("values must be non-empty")
    return sketch.sparkSession.createDataFrame(
        [(v,) for v in values], ["item"])


def _cms_query(sketch, values, depth, width, seed, hash_basis, keys):
    """The CMS query: every probe value against every key's depth
    cells, min over them (absent cell = 0)."""
    probes = _probe_values(sketch, values)
    if keys:  # every group of the sketch × every probe value
        probes = sketch.select(_grp_key(F.col("grp")).alias("__gk"),
                               "grp").distinct().crossJoin(probes)
        sketch = sketch.select(
            _grp_key(F.col("grp")).alias("__gk"), "r", "b", "c")
    x = _cms_base_hash(F.col("item"), hash_basis)
    probes = probes.select(
        *keys, "item", _cms_cell_rows(x, depth, width, seed)
    ).select(*keys, "item", F.col("rb.r").alias("r"),
             F.col("rb.b").alias("b"))
    joined = probes.join(sketch, [*keys[:1], "r", "b"], "left").select(
        *keys, "item", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    return joined.groupBy(*keys, "item").agg(
        F.min("c").cast("long").alias("est")
    ).select(*keys[1:], "item", "est")


def cms_build(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 37,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) of a value
    column as a RELATION: (r, b, c) cells with r < depth hash rows,
    b < width buckets — the mergeable frequency summary (store one
    per ingest slice, answer "how often did X appear so far" without
    re-scanning history; the frequency-sketch sibling of
    ``ndv_rollup``'s HLL). Build is one map-side explode of depth
    cells per row + ONE partial-agg groupBy; absent cells are zero.

    Row hashes are the repo's arithmetic Knuth family
    (((x·MULT + seed + r·r_mult) mod P) mod width over the value's
    base hash), so the sketch is a pure function of the multiset and
    SQL-replayable. ``hash_basis='md5'`` pins a DuckDB-computable
    base hash for the contract row (production default: xxhash64).
    NULLs are excluded (not an item).
    """
    return _cms_build(df, None, value_col, depth, width, seed, hash_basis)


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge Count-Min sketches built with the SAME (depth, width,
    seed): element-wise cell sum — EXACTLY the sketch of the
    concatenated multisets (counter addition commutes, unlike HLL's
    register max this is even linear: deletions via negative slices
    work too). Property-pinned: estimates from merge(A, B) equal
    estimates from build(A ++ B) bit-for-bit."""
    return _sum_cells(sketches, ["r", "b"],
                      "cms_merge needs at least one sketch")


def cms_query(
    sketch: DataFrame,
    values: "list[str]",
    depth: int = 4,
    width: int = 1024,
    seed: int = 37,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Point-frequency estimates from a Count-Min sketch: for each
    value, min over its depth cells (absent cell = 0). The classic
    guarantee: estimate ≥ true count always, ≤ true + εN with
    probability 1 − (1/2)^depth for width = ⌈e/ε⌉ (property-tested:
    never under, overestimate bounded on a planted stream). The query
    relation is |values|·depth rows — broadcast-sized."""
    return _cms_query(sketch, values, depth, width, seed, hash_basis, [])


def cms_build_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 37,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Per-GROUP :func:`cms_build`: (grp, r, b, c) cells, each group's
    cells ARE the cms_build of that group's values (row-for-row law,
    property-tested). NULL GROUPS are kept (SQL GROUP BY)."""
    return _cms_build(df, group_col, value_col, depth, width, seed,
                      hash_basis)


def cms_merge_by_group(*sketches: DataFrame) -> DataFrame:
    """Per-GROUP :func:`cms_merge`: cell sum per (grp, r, b); groups
    missing from one slice pass through."""
    return _sum_cells(sketches, ["grp", "r", "b"],
                      "cms_merge_by_group needs at least one sketch")


def cms_query_by_group(
    sketch: DataFrame,
    values: "list[str] | DataFrame",
    depth: int = 4,
    width: int = 1024,
    seed: int = 37,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Per-GROUP :func:`cms_query`: every probe value is estimated
    against EVERY group in the sketch; returns (grp, item, est). NULL
    GROUPS are kept (the cell lookup joins on the NULL-safe group
    key); nothing is force-broadcast. ``values`` may also be a
    DataFrame whose FIRST column holds the probe items (deduplicated,
    NULL probes dropped — property-tested bit-equal to the list
    path)."""
    return _cms_query(sketch, values, depth, width, seed, hash_basis, _GK)


# -------------------------------------------------------------------- DDSketch


def _dds_cells(x, m: int):
    """(b, j) bucket coordinates of a POSITIVE double under the
    binary-interpolated DDSketch mapping: b is the exact binary
    exponent (2^b ≤ x < 2^(b+1)), j = ⌊(x/2^b − 1)·m⌋ subdivides the
    binade into m linear sub-buckets. Every step after the log2 seed
    is EXACT IEEE-double arithmetic when m is a power of two
    (division by 2^b, subtract-1 inside [1,2), multiply by m), and
    the log2 seed's ±1-ulp platform wiggle is repaired by exact
    power-of-two comparisons — so the cell is a pure function of the
    input BITS, identical in Spark and DuckDB (the determinism that
    lets contract oracles replay the sketch cell-for-cell, where the
    paper's γ-logarithm mapping would disagree across libm builds).
    Max relative bucket half-width: 1/(2m + 2j) ≤ 1/(2m)."""
    b0 = F.floor(F.log2(x))
    b = (
        F.when(F.pow(F.lit(2.0), b0 + 1) <= x, b0 + 1)
        .when(F.pow(F.lit(2.0), b0) > x, b0 - 1)
        .otherwise(b0)
    ).cast("long")
    j = F.floor((x / F.pow(F.lit(2.0), b) - F.lit(1.0)) * F.lit(float(m)))
    return b, j.cast("long")


def _dds_build(df, group_col, value_col, m):
    """The DDS cells: the finite-value gate, the (store, b, j)
    projection and ONE partial-agg groupBy over (key, store, b, j)."""
    _check_m(m)
    x = F.col(value_col).cast("double")
    ax = F.abs(x)
    b, j = _dds_cells(ax, m)
    finite = (
        x.isNotNull() & ~F.isnan(x)
        & (ax != F.lit(float("inf")))
    )
    src = df.filter(finite).select(
        *_grp_cols(group_col),
        F.when(x > 0, F.lit(1)).when(x < 0, F.lit(-1)).otherwise(F.lit(0))
        .cast("int").alias("store"),
        F.when(x == 0, F.lit(0)).otherwise(b).cast("long").alias("b"),
        F.when(x == 0, F.lit(0)).otherwise(j).cast("long").alias("j"),
    )
    keys = [] if group_col is None else ["grp"]
    return src.groupBy(*keys, "store", "b", "j").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def _dds_quantile(sketch, qs, m, keys):
    """The DDS query: per key the value-ordered cumulative bucket walk
    and the rank-⌊q·(n−1)⌋+1 bucket pick, answered with the bucket
    midpoint."""
    _check_m(m)
    if not qs:
        raise ValueError("qs must be non-empty")
    if any(not (0.0 <= q <= 1.0) for q in qs):
        raise ValueError(f"quantiles must be in [0, 1], got {qs}")
    from pyspark.sql.window import Window

    jk, carried = keys[:1], keys[1:]
    # consumed by THREE subtrees (cumulative walk, totals, rank
    # targets) — bounded rows, the family's persist rule; an
    # already-persisted input is reused and nothing is attached (see
    # _persist_internal)
    sketch, _own = _persist_internal(_with_gk(
        sketch.select(*carried, "store", "b", "j", "c"), keys))
    ordered = sketch.select(
        *jk, "store", "b", "j", "c",
        F.when(F.col("store") == -1, -F.col("b")).otherwise(F.col("b"))
        .alias("__kb"),
        F.when(F.col("store") == -1, -F.col("j")).otherwise(F.col("j"))
        .alias("__kj"),
    )
    w = (
        Window.partitionBy(*jk).orderBy("store", "__kb", "__kj")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ordered.select(
        *[F.col(c).alias("__cg") for c in jk], "store", "b", "j", "c",
        F.sum("c").over(w).alias("__cum"),
    )
    # unkeyed, an EMPTY sketch still aggregates to one row: (q, NULL,
    # 0), a stable row shape; a keyed empty group has no row at all
    tot = F.sum("c") if keys else F.coalesce(F.sum("c"), F.lit(0))
    n_rel = sketch.groupBy(*keys).agg(tot.cast("long").alias("n"))
    qrel = sketch.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q: double"
    )
    # broadcast whichever side is bounded: the 1-row total unkeyed,
    # the |qs|-row literal relation against groups-scaled totals
    targets = (n_rel.crossJoin(F.broadcast(qrel)) if keys
               else qrel.crossJoin(F.broadcast(n_rel))).select(
        *keys, "q", "n",
        (F.floor(F.col("q") * (F.col("n") - 1)) + 1).alias("__tgt"),
    )
    est = (
        F.when(F.col("store") == 0, F.lit(0.0))
        .otherwise(
            F.col("store")
            * F.pow(F.lit(2.0), F.col("b"))
            * (F.lit(1.0) + (F.col("j") + F.lit(0.5)) / F.lit(float(m)))
        )
    )
    hit = targets.join(
        _small(cum, keys),
        functools.reduce(operator.and_, [
            *[F.col(c) == F.col("__cg") for c in jk],
            F.col("__cum") >= F.col("__tgt"),
            F.col("__cum") - F.col("c") < F.col("__tgt"),
        ]),
        "left",
    )
    return _attach_caches(
        hit.select(
            *carried, "q", F.round(est, 6).alias("est"),
            F.col("n").cast("long").alias("n"),
        ).orderBy(*carried, "q"),
        _own,
    )


def dds_build(df: DataFrame, value_col: str, m: int = 64) -> DataFrame:
    """DDSketch (Masson, Rim & Lee 2019, "DDSketch: a fast and
    fully-mergeable quantile sketch with relative-error guarantees")
    of a numeric column as a RELATION: (store, b, j, c) bucket
    counters — the mergeable QUANTILE summary completing the repo's
    merge-not-rescan family (HLL distincts, CMS frequencies, MG tops;
    store one per ingest slice, answer percentile questions over any
    slice union without re-reading rows). Build is ONE map-only
    projection + ONE partial-agg groupBy — no join, no window.

    Mapping: the paper's log-γ index is replaced by the
    binary-interpolated variant (binade exponent + m linear
    sub-buckets, see _dds_cells) so the cell is bit-deterministic
    across engines; relative error ≤ 1/(2m) (~0.78% at the default
    m=64), property-tested. store ∈ {-1, 0, 1} routes negatives to a
    mirrored store and zeros to a dedicated bucket (the paper's
    two-store extension); NULLs are excluded. NaN and ±Infinity are
    DROPPED explicitly (the same stated-drop policy as the similarity
    kernels' wrong-width vectors): NaN fails every sign comparison and
    would silently land in the ZERO bucket, ±Inf would floor an
    infinite log2 seed into a garbage binade — neither has a
    meaningful quantile rank, and a lake column with sensor glitches
    must not corrupt the summary (test-pinned). m must be a power of
    two — that is what makes the sub-bucket arithmetic exact."""
    return _dds_build(df, None, value_col, m)


def dds_merge(*sketches: DataFrame) -> DataFrame:
    """Merge DDSketches built with the SAME m: element-wise bucket
    sum — EXACTLY the sketch of the concatenated multisets (the
    counters are plain counts, so like cms_merge this is linear and
    the merged sketch is bit-for-bit the single-pass build;
    property-tested). The error bound never degrades under merging —
    the 'fully mergeable' property of the paper's title."""
    return _sum_cells(sketches, ["store", "b", "j"],
                      "dds_merge needs at least one sketch")


def dds_quantile(
    sketch: DataFrame, qs: "list[float]", m: int = 64
) -> DataFrame:
    """Quantile QUERY over a DDSketch relation: for each q the bucket
    holding global rank ⌊q·(n−1)⌋+1 in value order (negative store
    descending-magnitude first, then zeros, then positive ascending),
    answered with the bucket midpoint — relative error ≤ 1/(2m) for
    any q, any merge history. Pure sketch-sized arithmetic: one
    cumulative window and one theta join of the |qs|-row literal
    relation against the bounded bucket relation (≤ stores·binades·m
    rows regardless of data volume — THIS is why it scales; the
    corpus is never touched). The sketch relation is consumed by
    THREE subtrees (cumulative walk, total count, rank targets), so
    it is persisted here — bounded rows, and without it an IN-LINEAGE
    sketch re-derives its corpus aggregation once per subtree (the
    un-persisted static plan carried FOUR corpus scans, plan-pinned
    down to one). Returns (q, est, n), ordered by q; an EMPTY sketch
    answers (q, NULL, 0) — no data has no quantiles, but the row
    shape stays stable (test-pinned).

    Cache lifetime: the bounded sketch is persisted for its three
    subtrees and the returned lazy plan reads it; after
    materializing, ``release_caches(result)`` frees it — unpersisting
    the input sketch cannot (non-cascading). When the caller already
    cached the sketch, that cache is reused and nothing is attached —
    release_caches(result) returns 0 and never clobbers a
    caller-owned cache."""
    return _dds_quantile(sketch, qs, m, [])


def dds_build_by_group(
    df: DataFrame, group_col: str, value_col: str, m: int = 64
) -> DataFrame:
    """Per-GROUP :func:`dds_build`: (grp, store, b, j, c) bucket
    counters, each group's rows ARE the dds_build of that group's
    values (row-for-row law, property-tested) — MERGEABLE per-group
    quantiles, which ``approx_percentile`` with a GROUP BY cannot
    give. NULL GROUPS are kept (SQL GROUP BY)."""
    return _dds_build(df, group_col, value_col, m)


def dds_merge_by_group(*sketches: DataFrame) -> DataFrame:
    """Per-GROUP :func:`dds_merge`: bucket sum per (grp, store, b,
    j); groups missing from one slice pass through."""
    return _sum_cells(sketches, ["grp", "store", "b", "j"],
                      "dds_merge_by_group needs at least one sketch")


def dds_quantile_by_group(
    sketch: DataFrame, qs: "list[float]", m: int = 64
) -> DataFrame:
    """Per-GROUP :func:`dds_quantile`: the walk is partitioned by
    group; returns (grp, q, est, n) ordered. NULL GROUPS are kept (the
    walk joins on the NULL-safe group key); groups absent from the
    sketch produce no rows, where the global form answers an empty
    sketch with (q, NULL, 0). Nothing is force-broadcast. Release the
    keyed sketch cache with ``release_caches(result)``."""
    return _dds_quantile(sketch, qs, m, _GK)


# ------------------------------------------------------------ KMV / bottom-k


def _kmv_unit(hcol, hash_basis: str):
    """Map a base hash to a unit-interval double for the KMV
    estimator: md5-basis hashes live in [0, 2^32) (divide), xxhash64
    spans the full signed-long range (affine shift). Exact IEEE
    division/addition — identical bits in Spark and DuckDB."""
    if hash_basis == "md5":
        return hcol.cast("double") / F.lit(4294967296.0)
    if hash_basis == "xxhash64":
        return hcol.cast("double") / F.lit(1.8446744073709552e19) + F.lit(0.5)
    raise ValueError(f"unknown hash_basis {hash_basis!r}")


def _kmv_bottom_k(rel: DataFrame, k: int, keys) -> DataFrame:
    """The KMV cells and merge law at once: per key, the k smallest
    distinct hashes of an (*keys, h, item) relation, hash collisions
    keeping the smallest item (a pure function of the value set).

    Unkeyed: orderBy(h).limit(k), which Spark compiles to
    TakeOrderedAndProject (per-partition bottom-k, k-sized merge) —
    NOT a global sort or window. Keyed: the salted two-phase shape
    the MG trim uses (_mg_tops, flipped to ascending): each (key,
    salt) sub-group keeps its k smallest (h, item) structs in a
    bounded aggregation — any of a key's true bottom-k is necessarily
    inside its own sub-group's bottom-k — and the ≤ salts·k survivors
    per key merge in one tiny aggregation. No Window over the
    distinct relation (a per-group row_number sorts whole groups
    through single tasks), no per-group TakeOrdered jobs."""
    rel = rel.groupBy(*keys, "h").agg(F.min("item").alias("item"))
    if not keys:
        return rel.orderBy("h").limit(k)
    entry = F.struct(F.col("h").alias("h"), F.col("item").alias("item"))
    part = (
        rel.withColumn(
            "__salt", F.pmod(F.col("h"), F.lit(_TOPK_SALTS)).cast("int")
        )
        .groupBy(*keys, "__salt")
        .agg(F.slice(F.array_sort(F.collect_list(entry)), 1, k)
             .alias("tops"))
    )
    return (
        part.select(*keys, F.explode("tops").alias("t"))
        .groupBy(*keys)
        .agg(F.slice(F.array_sort(F.collect_list("t")), 1, k).alias("tops"))
        .select(*keys, F.explode("tops").alias("t"))
        .select(*keys, F.col("t.h").alias("h"), F.col("t.item").alias("item"))
    )


def _kmv_build(df, group_col, value_col, k, hash_basis):
    _check_k(k, 2)
    keys = [] if group_col is None else ["grp"]
    src = df.select(
        *_grp_cols(group_col), F.col(value_col).cast("string").alias("item")
    ).filter(F.col("item").isNotNull())
    return _kmv_bottom_k(src.select(
        *keys, _cms_base_hash(F.col("item"), hash_basis).alias("h"), "item"
    ), k, keys)


def _kmv_sides(rel: DataFrame, keys, hash_basis: str, n: str, uk: str):
    """Per key: the kept-hash count and the largest kept hash on the
    unit interval — the two inputs of :func:`_kmv_est`."""
    return rel.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias(n),
        F.max(_kmv_unit(F.col("h"), hash_basis)).alias(uk),
    )


def _kmv_est(n: str, uk: str, k: int):
    """The KMV distinct-value estimate: exact (the summary IS the
    distinct set) below k kept hashes, else the Beyer et al. 2007
    unbiased (k−1)/u_k, standard error ~1/√(k−2)."""
    return F.when(F.col(n) < k, F.col(n).cast("double")).otherwise(
        F.lit(float(k - 1)) / F.col(uk))


def _kmv_ndv(summary, k, hash_basis, keys):
    _check_k(k, 2)
    return _kmv_sides(summary, keys, hash_basis, "n_kept", "__uk").select(
        *keys, "n_kept",
        F.round(_kmv_est("n_kept", "__uk", k), 4).alias("ndv_est"),
    )


def _kmv_overlap_cols(k: int) -> list:
    """The Beyer et al. 2007 §5 set-operation estimators over one
    (n_k, n_inter, __uk, __na, __uka, __nb, __ukb) row per pair:
    union NDV from the union bottom-k K; ρ = |K ∩ A ∩ B| / |K|
    estimates |A∩B| / |A∪B|; intersection NDV = ρ · D̂_union; both
    containments D̂_inter / D̂_side, NULL when a side is empty. The
    estimates stay un-rounded until the output so the SQL oracles
    replay them bit-for-bit."""
    eu = _kmv_est("n_k", "__uk", k)
    ea = _kmv_est("__na", "__uka", k)
    eb = _kmv_est("__nb", "__ukb", k)
    rho = F.col("n_inter") / F.col("n_k")
    ei = rho * eu
    return [
        "n_k", "n_inter",
        F.round(eu, 4).alias("ndv_union"),
        F.round(ei, 4).alias("ndv_inter"),
        F.round(ea, 4).alias("ndv_a"),
        F.round(eb, 4).alias("ndv_b"),
        F.when(F.col("__na") > 0, F.round(ei / ea, 4))
        .alias("containment_a_in_b"),
        F.when(F.col("__nb") > 0, F.round(ei / eb, 4))
        .alias("containment_b_in_a"),
        F.round(rho, 4).alias("jaccard_est"),
    ]


def _kmv_pair(summary_a, summary_b, k):
    """The two persisted ≤ k-row hash projections and K, the bottom-k
    of their union. Each summary feeds the union AND a membership
    probe, and the bottom-k TakeOrdered cannot be exchange-reused —
    un-persisted, in-lineage summaries re-ran their corpus
    distinct+bottom-k per consumer (executed-plan-verified)."""
    _check_k(k, 2)
    ha, _own_a = _persist_internal(summary_a.select("h"))
    hb, _own_b = _persist_internal(summary_b.select("h"))
    kk = ha.unionByName(hb).distinct().orderBy("h").limit(k)
    return ha, hb, kk, _own_a + _own_b


def kmv_summary(
    df: DataFrame,
    value_col: str,
    k: int = 256,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """KMV / bottom-k sketch (Bar-Yossef et al. 2002; Beyer et al.
    2007 "On synopses for distinct-value estimation under multiset
    operations"): the k smallest DISTINCT base-hash values of the
    column, each with a representative item — a mergeable uniform
    sample of the column's DISTINCT values. The family member no
    other sketch covers: it answers NDV (kmv_ndv), set Jaccard
    (kmv_jaccard), and "show me ~k random distinct examples" from
    one k-row relation per slice.

    Scale shape: one distinct-keyed partial-agg groupBy then
    orderBy(h).limit(k) — TakeOrderedAndProject, never a global sort
    or window; the full distinct relation never funnels through one
    partition (plan-pinned). Hash collisions keep the smallest item
    so the summary is a pure function of the value set. NULLs
    excluded. ``hash_basis='md5'`` pins the DuckDB-computable base
    hash (contract rows); production default xxhash64. Returns (h,
    item), ≤ k rows."""
    return _kmv_build(df, None, value_col, k, hash_basis)


def kmv_merge(*summaries: DataFrame, k: int = 256) -> DataFrame:
    """Combine :func:`kmv_summary` relations into the summary of the
    UNION without touching any rows: bottom-k of the k-row summary
    union. Exact by the bottom-k closure property: any of the k
    smallest distinct hashes of A ∪ B is among the k smallest of
    whichever side contains it, so merge(kmv(A), kmv(B)) ==
    kmv_summary(A ∪ B) bit-for-bit (property-tested; overlapping
    slices are idempotent for the same reason — it is a SET union).
    Same k and hash basis as the inputs, or smaller k to tighten."""
    _check_k(k, 2)
    return _kmv_bottom_k(
        _union_all(summaries, "kmv_merge needs at least one input"), k, [])


def kmv_ndv(
    summary: DataFrame, k: int = 256, hash_basis: str = "xxhash64"
) -> DataFrame:
    """Distinct-value estimate from a KMV summary: with fewer than k
    hashes kept the summary IS the distinct set (exact count);
    otherwise the Beyer et al. 2007 unbiased estimator (k−1)/u_k,
    where u_k is the k-th smallest hash mapped to the unit interval —
    standard error ~1/√(k−2). One k-row aggregate; returns a single
    row (n_kept, ndv_est)."""
    return _kmv_ndv(summary, k, hash_basis, [])


def kmv_jaccard(
    summary_a: DataFrame, summary_b: DataFrame, k: int = 256
) -> DataFrame:
    """Jaccard similarity of two VALUE SETS from their KMV summaries
    alone (Beyer et al. 2007 §5: bottom-k sketches are closed under
    set operations): K = the k smallest hashes of the summary union
    is a uniform sample of A ∪ B's distinct hashes, so |K ∩ A ∩ B| /
    |K| estimates |A∩B| / |A∪B|. Pure k-row arithmetic — two
    broadcast semi-joins of k-sized relations, no corpus access
    (THE way to compare column domains across 100 TB slices: ship
    two k-row summaries, not two scans). Returns one row (n_k,
    n_inter, jaccard_est)."""
    ha, hb, kk, own = _kmv_pair(summary_a, summary_b, k)
    inter = (
        kk.join(F.broadcast(ha), "h", "left_semi")
        .join(F.broadcast(hb), "h", "left_semi")
    )
    n_k = kk.agg(F.count(F.lit(1)).cast("long").alias("n_k"))
    n_i = inter.agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    return _attach_caches(
        n_k.crossJoin(F.broadcast(n_i)).select(
            "n_k", "n_inter",
            F.round(F.col("n_inter") / F.col("n_k"), 4)
            .alias("jaccard_est"),
        ),
        own,
    )


def kmv_set_stats(
    summary_a: DataFrame,
    summary_b: DataFrame,
    k: int = 256,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Full multiset algebra over two KMV summaries (Beyer et al.
    2007 §5, "On synopses for distinct-value estimation under
    multiset operations"): union NDV, intersection NDV, per-side NDV
    and both containments |A∩B|/|A| and |A∩B|/|B| — from the two
    k-row relations ALONE, no corpus access. The estimators
    (_kmv_overlap_cols):

    - K = bottom-k of the summary union is itself the KMV summary of
      A ∪ B (closure), so union NDV is the standard (k−1)/u_k —
      EXACT (= |K|) while |K| < k;
    - ρ = |K ∩ A ∩ B| / |K| estimates |A∩B| / |A∪B| (K is a uniform
      sample of A ∪ B's distinct hashes — the kmv_jaccard estimator);
    - intersection NDV = ρ · D̂_union (§5's compound estimator);
    - containment(A in B) = D̂_inter / D̂_A, the directional overlap
      question Jaccard can't answer (is slice A inside slice B, or
      merely similar-sized?). NULL when a side's summary is empty.

    All of it is k-row arithmetic — the 100 TB shape is "ship two
    k-row summaries, not two scans": one pass over the ≤ k-row K with
    two broadcast flag joins, one bounded aggregate per side, a
    broadcast crossJoin of three 1-row relations. In the exact regime
    (both true NDVs < k) every output equals the true value. Returns
    one row (n_k, n_inter, ndv_union, ndv_inter, ndv_a, ndv_b,
    containment_a_in_b, containment_b_in_a, jaccard_est).

    Cache lifetime: both ≤ k-row input projections stay persisted
    because the RETURNED plan is lazy and reads each twice (union +
    flag join); ``input.unpersist()`` CANNOT release them. Callers
    comparing MANY summary pairs in a long-lived session should
    materialize the 1-row result, then ``release_caches(result)``."""
    ha, hb, kk, own = _kmv_pair(summary_a, summary_b, k)
    flagged = kk.join(
        F.broadcast(ha.select("h", F.lit(1).alias("__ina"))), "h", "left"
    ).join(F.broadcast(hb.select("h", F.lit(1).alias("__inb"))), "h", "left")
    stats = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_k"),
        F.sum(
            F.when(F.col("__ina").isNotNull() & F.col("__inb").isNotNull(),
                   1).otherwise(0)
        ).cast("long").alias("n_inter"),
        F.max(_kmv_unit(F.col("h"), hash_basis)).alias("__uk"),
    )
    joined = stats.crossJoin(
        F.broadcast(_kmv_sides(ha, [], hash_basis, "__na", "__uka"))
    ).crossJoin(F.broadcast(_kmv_sides(hb, [], hash_basis, "__nb", "__ukb")))
    return _attach_caches(joined.select(*_kmv_overlap_cols(k)), own)


def kmv_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 256,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Per-GROUP :func:`kmv_summary` in ONE pass over the corpus —
    "distinct X per Y" at k rows per group; each group's rows ARE a
    kmv_summary of that group's values, so kmv_ndv, kmv_merge and
    kmv_set_stats apply unchanged. Returns (grp, h, item). NULL
    GROUPS are kept (SQL GROUP BY); the bottom-k is the salted
    two-phase aggregation instead of TakeOrdered (one job, however
    many groups)."""
    return _kmv_build(df, group_col, value_col, k, hash_basis)


def kmv_merge_by_group(*summaries: DataFrame, k: int = 256) -> DataFrame:
    """Per-GROUP :func:`kmv_merge` of :func:`kmv_by_group` relations:
    merge(kmv_by_group(A), kmv_by_group(B)) == kmv_by_group(A ∪ B)
    row-for-row; groups missing from one slice pass through. NULL
    GROUPS are kept; the bottom-k is the salted two-phase
    aggregation."""
    _check_k(k, 2)
    return _kmv_bottom_k(_union_all(
        summaries, "kmv_merge_by_group needs at least one input"), k, ["grp"])


def kmv_ndv_by_group(
    summary: DataFrame, k: int = 256, hash_basis: str = "xxhash64"
) -> DataFrame:
    """Per-GROUP :func:`kmv_ndv` over a :func:`kmv_by_group` relation:
    returns (grp, n_kept, ndv_est). NULL GROUPS are kept."""
    return _kmv_ndv(summary, k, hash_basis, ["grp"])


def kmv_pairwise_stats(
    summary: DataFrame, k: int = 256, hash_basis: str = "xxhash64"
) -> DataFrame:
    """ALL-PAIRS group overlap matrix from one :func:`kmv_by_group`
    relation — "which sources/domains share vocabulary", the question
    :func:`kmv_set_stats` answers for ONE pair, computed for every
    unordered group pair in a single relational plan (no driver loop
    over groups, no per-pair jobs). Each pair's row is BIT-IDENTICAL
    to kmv_set_stats of the two groups' summaries (property-tested):
    the per-pair union bottom-k equals the KMV summary of A ∪ B by
    the same closure, and the estimators are the same expressions
    (_kmv_overlap_cols).

    Shape: one pass over the ≤ groups·k-row summary for per-side
    stats; the pair enumeration and the tagged per-pair union are
    DELIBERATELY groups²-scaled — that is the size of the answer (the
    pair matrix itself), not an avoidable blow-up. The union relation
    is ≤ pairs·2k rows and the bottom-k walk windows only over it
    (never over a corpus relation). With a large group domain, filter
    the summary to the groups of interest first. Joins keep their
    group-key equi-joins without forced broadcasts. NULL groups
    participate via the injective ``_grp_key``, ordered before every
    value group in the pair orientation.

    Returns one row per unordered pair (grp_a < grp_b by the group
    key): (grp_a, grp_b, n_k, n_inter, ndv_union, ndv_inter, ndv_a,
    ndv_b, containment_a_in_b, containment_b_in_a, jaccard_est).

    Cache lifetime: the keyed summary projection stays persisted —
    bounded at ≤ groups·k rows — because the RETURNED plan is lazy
    and reads it three times (side stats + both pair tags);
    materialize the matrix, then ``release_caches(result)``."""
    _check_k(k, 2)
    from pyspark.sql.window import Window

    s, _own = _persist_internal(summary.select(
        _grp_key(F.col("grp")).alias("__gk"), "grp", "h"))
    sides = _kmv_sides(s, _GK, hash_basis, "__n", "__uks")
    pa = sides.select(
        F.col("__gk").alias("__ga"), F.col("grp").alias("grp_a"),
        F.col("__n").alias("__na"), F.col("__uks").alias("__uka"))
    pb = sides.select(
        F.col("__gk").alias("__gb"), F.col("grp").alias("grp_b"),
        F.col("__n").alias("__nb"), F.col("__uks").alias("__ukb"))
    pairs = pa.crossJoin(pb).filter(F.col("__ga") < F.col("__gb"))
    keys = pairs.select("__ga", "__gb")
    ua = keys.join(s.select(F.col("__gk").alias("__ga"), "h"), "__ga") \
        .select("__ga", "__gb", "h",
                F.lit(1).alias("__ina"), F.lit(0).alias("__inb"))
    ub = keys.join(s.select(F.col("__gk").alias("__gb"), "h"), "__gb") \
        .select("__ga", "__gb", "h",
                F.lit(0).alias("__ina"), F.lit(1).alias("__inb"))
    u = ua.unionByName(ub).groupBy("__ga", "__gb", "h").agg(
        F.max("__ina").alias("__ina"), F.max("__inb").alias("__inb"))
    w = Window.partitionBy("__ga", "__gb").orderBy("h")
    kk = u.withColumn("__rn", F.row_number().over(w)) \
        .filter(F.col("__rn") <= k)
    stats = kk.groupBy("__ga", "__gb").agg(
        F.count(F.lit(1)).cast("long").alias("n_k"),
        F.sum(F.col("__ina") * F.col("__inb")).cast("long")
        .alias("n_inter"),
        F.max(_kmv_unit(F.col("h"), hash_basis)).alias("__uk"),
    )
    joined = stats.join(pairs, ["__ga", "__gb"])
    return _attach_caches(
        joined.select("grp_a", "grp_b", *_kmv_overlap_cols(k)), _own)
