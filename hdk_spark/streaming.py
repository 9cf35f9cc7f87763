"""Structured Streaming surface (beyond-reference).

The reference's only incremental capability is batch table append
(reference omniscidb/ArrowStorage/ArrowStorage.h:95-133 appendCsvFile /
appendArrowTable / appendParquetFile, exercised by the streaming-ingest
benchmark script omniscidb/Benchmarks/scripts/
bench_batch_streaming_ingest.py). This module is its scale path: the
same tables consumed as unbounded streams with event-time semantics —
watermarks bound state so every operator here runs indefinitely on a
1000-executor cluster.

All builders return lazy streaming DataFrames; callers pick the sink
(``writeStream``). Tests drive them with file sources +
``trigger(availableNow=True)`` + memory sinks and cross-check against
the batch equivalents.

State stores: a stateful query keeps one state store per shuffle
partition and commits every one of them on every micro-batch, so the
per-batch cost grows with that count, not with the batch's rows. The
count is the session's ``spark.sql.shuffle.partitions`` when the query
FIRST starts (``__spark_entry__.load_tables`` and ``get_spark`` set it
to the session's cores); the checkpoint's offset log then freezes it,
and a restart from that checkpoint keeps the old count whatever the
session says now. The other per-batch cost is per FILE: every state
delta, offsets/commits/sources log entry and checksum file is written
atomically, and without the native Hadoop library each write forks
processes: one ``chmod`` for the file and one for its ``.crc``, and,
under Spark's default checkpoint manager, eight ``readlink`` for the
rename (about 90 a batch for a 4-store query). ``get_spark`` sessions
on ``local[...]`` masters write through the ``FileSystem`` manager,
whose rename forks none (``hdk_spark.session``).
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

#: Seconds any wait on a streaming query may take before the query is
#: stopped and :class:`TimeoutError` raised. The waits here drive
#: ``availableNow`` runs over bounded inputs into memory or test sinks,
#: which finish in seconds; a run still going after 5 minutes is stuck.
AWAIT_TIMEOUT_S = 300


def await_termination(q: StreamingQuery) -> StreamingQuery:
    """Wait for ``q`` to finish, at most :data:`AWAIT_TIMEOUT_S`
    seconds. On timeout stop it and raise ``TimeoutError`` naming the
    query; a query that failed re-raises its error as
    ``awaitTermination`` does."""
    if not q.awaitTermination(AWAIT_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not finish within "
            f"{AWAIT_TIMEOUT_S} s; stopped"
        )
    return q


def stream_parquet(spark: SparkSession, path: str, schema) -> DataFrame:
    """Incremental parquet ingest — streaming analog of the reference's
    appendParquetFile (ArrowStorage.h:129). New files appearing under
    ``path`` become new micro-batch input; ``maxFilesPerTrigger`` keeps
    per-batch work bounded at scale."""
    return spark.readStream.schema(schema).parquet(path)


def stream_csv(spark: SparkSession, path: str, schema, header: bool = True,
               delimiter: str = ",") -> DataFrame:
    """Streaming analog of appendCsvFile (ArrowStorage.h:98)."""
    return (
        spark.readStream.schema(schema)
        .option("header", header)
        .option("sep", delimiter)
        .csv(path)
    )


def with_watermark(df: DataFrame, ts_col: str, delay: str = "10 minutes") -> DataFrame:
    """Event-time watermark: bounds state for every stateful op below.
    Without it, a 100 TB/day stream accretes unbounded agg state."""
    return df.withWatermark(ts_col, delay)


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    agg_exprs: list[Column],
    group_cols: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling event-time window aggregation. Batch-mode equivalent:
    GROUP BY date_trunc (entry_queries events_tumbling_hour)."""
    g = [F.window(F.col(ts_col), duration)] + [F.col(c) for c in (group_cols or [])]
    return (
        with_watermark(df, ts_col, watermark)
        .groupBy(*g)
        .agg(*agg_exprs)
        .withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    agg_exprs: list[Column],
    group_cols: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding event-time windows (window duration > slide → overlap)."""
    g = [F.window(F.col(ts_col), duration, slide)] + [
        F.col(c) for c in (group_cols or [])
    ]
    return (
        with_watermark(df, ts_col, watermark)
        .groupBy(*g)
        .agg(*agg_exprs)
        .withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap: str = "30 minutes",
    agg_exprs: list[Column] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows: events within ``gap`` of each other merge into
    one session per key (dynamic-length windows). The batch equivalent
    is the lag+cumsum composition in entry_queries.q_events_sessionize;
    F.session_window is the streaming-native form — state is bounded by
    the watermark, so it scales to unbounded streams."""
    aggs = agg_exprs or [F.count(F.lit(1)).alias("n_events")]
    return (
        with_watermark(df, ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), *[F.col(c) for c in key_cols])
        .agg(*aggs)
        .withColumn("session_start", F.col("session_window.start"))
        .withColumn("session_end", F.col("session_window.end"))
        .drop("session_window")
    )


def stream_dedup(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup on key columns. With a watermark the
    dedup state is garbage-collected past the horizon —
    dropDuplicatesWithinWatermark keeps it bounded for 100 TB/day
    ingest (vs unbounded dropDuplicates)."""
    if ts_col is not None:
        return with_watermark(df, ts_col, watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return df.dropDuplicates(key_cols)


def running_counts_stateful(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    watermark: str = "10 minutes",
):
    """Custom stateful operator via applyInPandasWithState: per-key
    running event count + last-seen timestamp, the template for
    reference-free stateful logic (the reference has no streaming
    operators at all, SURVEY.md §2.10).

    Returned stream schema: key, n_events, last_ts.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("n_events", LongType()),
            StructField("last_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("last_us", LongType())]
    )

    def update(key, pdfs, state: GroupState):
        n, last_us = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                last_us = max(
                    last_us, int(pd.Timestamp(pdf[ts_col].max()).value // 1000)
                )
        state.update((n, last_us))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_events": [n],
                "last_ts": [pd.Timestamp(last_us * 1000)],
            }
        )

    return (
        with_watermark(df, ts_col, watermark)
        .withColumn("key", F.col(key_col).cast("string"))
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory(stream_df: DataFrame, query_name: str, output_mode: str = "append"):
    """Drive a streaming DataFrame to a memory sink with
    availableNow trigger (process-everything-then-stop) — the test/
    verification harness path."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    return await_termination(q)


def stream_static_join(
    stream_df: DataFrame, static_df: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """Enrichment join of an unbounded stream against a static (or
    slowly-refreshed) dimension — the canonical streaming lookup.

    Stateless: each micro-batch joins against the static relation, so
    there is no streaming state to watermark; at scale the static side
    is broadcast (dimension-sized) and the stream never shuffles for
    the join."""
    return stream_df.join(static_df, on=on, how=how)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "30 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream event-time interval join: right-side events within
    ``[left_ts, left_ts + within]`` for the same key (e.g. purchases
    within 30 minutes of a click).

    Both sides are watermarked — Spark derives the join-state retention
    bound from the watermark + the time-range condition, so state stays
    bounded on unbounded input; the join itself shuffles both streams
    on the key like any equi-join. Caller must rename clashing columns
    beforehand (standard streaming self-join hygiene).

    ``how="left_outer"`` additionally emits null-extended rows for
    unmatched left events — but only once the watermark has passed
    ``left_ts + within``, i.e. the engine has proof no match can still
    arrive. Left rows closer than (watermark + within) to the end of a
    bounded input therefore never get their outer row; a finite
    verification drive must cut both the stream result and the batch
    oracle at that horizon."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[left_key] == rw[right_key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, how)


def stream_minhash_dedup(
    new_stream: DataFrame,
    corpus_sig: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    threshold: float = 0.5,
    hash_basis: str = "crc32",
) -> DataFrame:
    """Streaming incremental near-dup detection — the production shape
    of a crawl-ingest pipeline: every arriving micro-batch of documents
    is sketched and checked against the EXISTING corpus's stored
    signatures, which are never re-computed (the streaming analog of
    :func:`hdk_spark.operators.dedup.minhash_dedup_incremental`).

    Plan per micro-batch: the Arrow-batched signature projection runs
    on the new documents only; their band rows equi-join the static
    corpus band relation (stream-static joins are stateless — no
    watermark, no state store). A pair colliding in k bands is emitted
    exactly once via the first-match-band rule (cheap earlier-band
    hash compares carried on BOTH sides), so no dropDuplicates state
    exists and the query runs indefinitely with EMPTY streaming state.

    Returns a streaming DataFrame of (new_id, corpus_id, jaccard_est ≥
    threshold). Same (n, num_perm, seed, hash_basis) as the stored
    signatures is the caller's contract.
    """
    from hdk_spark.operators.dedup import _banded_sig, minhash_signatures

    assert num_perm % bands == 0
    rpb = num_perm // bands
    new_sig = minhash_signatures(
        new_stream, id_col, text_col, n, num_perm, seed, hash_basis=hash_basis
    )
    # shared banding construction (keep_bhs carries the per-band hash
    # arrays both sides for the first-match-band rule) — the batch
    # incremental operator and the stored-signature format use the
    # same arithmetic, so they cannot drift
    nb = _banded_sig(new_sig, "new", bands, rpb, keep_bhs=True)
    cb = _banded_sig(corpus_sig, "corpus", bands, rpb, keep_bhs=True)
    joined = nb.join(cb, ["band", "bh"])
    first_match = F.when(F.col("band") == 0, F.lit(True)).otherwise(
        F.size(
            F.filter(
                F.zip_with(
                    F.slice(F.col("new_bhs"), F.lit(1), F.col("band")),
                    F.slice(F.col("corpus_bhs"), F.lit(1), F.col("band")),
                    lambda p, q: p == q,
                ),
                lambda eq: eq,
            )
        )
        == 0
    )
    est = F.size(
        F.filter(
            F.zip_with(F.col("new_sig"), F.col("corpus_sig"), lambda p, q: p == q),
            lambda eq: eq,
        )
    ).cast("double") / F.lit(float(num_perm))
    return (
        joined.filter(first_match)
        .select(
            "new_id", "corpus_id", F.round(est, 6).alias("jaccard_est")
        )
        .filter(F.col("jaccard_est") >= F.lit(threshold))
    )


def stream_span_flags(
    new_stream: DataFrame,
    window_freq: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    min_count: int = 1,
    basis: str = "xxhash64",
) -> DataFrame:
    """Streaming repeated-substring flagging — the crawl-ingest analog
    of :func:`hdk_spark.operators.dedup.duplicate_spans`: every
    arriving document is checked for n-token windows already seen in
    the STATIC corpus window-frequency relation (``window_freq``:
    (wkey, wc) from a duplicate_spans-style counting pass over the
    ingested corpus — stored once and joined, never rebuilt).

    Emits one row per DUPLICATED window: (id, pos, wkey) — the same
    per-event contract as :func:`stream_minhash_dedup`'s pair stream,
    so the query is a stateless stream-static join (no watermark, no
    aggregation state, append mode, runs indefinitely). Doc-level
    rollups (dup-window fraction, quarantine routing) belong in the
    sink or a foreachBatch, where per-batch aggregation is free;
    exact span islands come from running the batch operator on the
    routed documents.

    Plan per micro-batch: map-only window explode on the NEW docs only
    + ONE equi-join on the window key against the static relation.
    ``basis`` must match how ``window_freq`` was keyed
    ('xxhash64' production / 'text' exact)."""
    from hdk_spark.operators.dedup import window_rows

    staged = window_rows(new_stream, id_col, text_col, n, basis)
    seen = window_freq.filter(F.col("wc") >= min_count).select("wkey")
    return (
        staged.join(seen, "wkey", "left_semi")
        .select(F.col("id").alias(id_col), "pos", "wkey")
    )


def stream_crawl_ingest(
    warc_stream: DataFrame,
    robots_compact: DataFrame,
    warc_id_col: str = "warc_id",
    data_col: str = "data",
    langs: "list[str] | None" = None,
    n_lang_buckets: int = 256,
    lang_basis: str = "md5",
    lang_model: "dict[str, list[float]] | None" = None,
) -> DataFrame:
    """Streaming crawl front-end — the STATELESS prefix of
    :func:`hdk_spark.operators.crawl.crawl_curate` applied to an
    unbounded stream of WARC files (the shape of live crawl ingest:
    records arrive continuously, curation runs per micro-batch, the
    corpus-level stages run downstream):

      WARC records (Arrow ``mapInPandas`` — works unchanged on a
      stream) → 200/text-html gate → HTML extract + noindex gate →
      robots gate → language ID → canonical-URL annotation.

    The robots gate CANNOT be the batch operator (its per-URL
    longest-match window is illegal on a stream); it is a
    stream-static equi-join against
    :func:`hdk_spark.operators.web.robots_rules_compact`'s one-row-
    per-domain rule arrays plus a per-row HOF fold
    (:func:`~hdk_spark.operators.web.robots_allowed`) — verdicts
    proven identical to the window-based batch gate in
    tests/test_streaming.py.

    Emits (doc_id, url, canonical_url, text, lang, n_grams): every
    operator here is map-only or stream-static, so the query has ZERO
    state operators, needs no watermark, and runs indefinitely (the
    stream_minhash_dedup statelessness contract). Corpus-level stages
    — canonical dedup, CCNet bucketing — are inherently cross-document
    and belong downstream: route this stream into
    :func:`stream_dedup` (watermark-bounded exact dedup on
    ``canonical_url``) or micro-batch sinks feeding the batch
    operators."""
    from hdk_spark.operators.html import html_to_text
    from hdk_spark.operators.text import lang_id_ngram
    from hdk_spark.operators.warc import warc_records
    from hdk_spark.operators.web import (
        canonical_url,
        robots_allowed,
        url_features,
    )

    recs = warc_records(warc_stream, data_col=data_col, id_col=warc_id_col)
    pages = recs.filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/html")
    ).select(
        F.col("id").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("body").cast("string").alias("html"),
    )
    # extraction + noindex gate inline (html_extract's projection,
    # minus the counters this stage doesn't emit) — every derived
    # column stays on the SAME streaming relation; a join-back of a
    # projection against its own input would be a stream self-join
    h = F.coalesce(F.col("html"), F.lit(""))
    noindex = h.rlike(
        r'(?is)<meta\b[^>]*name\s*=\s*["\x27]?robots["\x27]?[^>]*'
        r'content\s*=\s*["\x27]?[^"\x27>]*noindex'
    )
    indexed = (
        pages.withColumn("text", html_to_text(h))
        .withColumn("__noindex", noindex)
        .filter(~F.col("__noindex"))
        .select("doc_id", "url", "text")
    )
    feats = url_features(indexed).select(
        "doc_id", "url", "text", "path", "reg_domain"
    )
    gated = (
        feats.join(robots_compact, "reg_domain", "left")
        .filter(robots_allowed(F.col("path"), F.col("rules")))
        .select("doc_id", "url", "text")
    )
    # lang_id_ngram is a pure projection chain; keep= threads url/text
    # through it instead of joining its output back (stream self-join)
    out = lang_id_ngram(
        gated,
        n_buckets=n_lang_buckets,
        langs=langs,
        basis=lang_basis,
        model=lang_model,
        keep=("url", "text"),
    ).select("doc_id", "url", "text", "lang", "n_grams")
    return out.withColumn("canonical_url", canonical_url(F.col("url")))


def stream_cms(
    stream_df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 37,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Streaming Count-Min sketch: the batch ``cms_build`` cell
    relation expressed as a STREAMING aggregation — Spark maintains
    the (r, b) cell counters as streaming state, so state is bounded
    at depth·width cells for an UNBOUNDED stream (the sketch-as-state
    pattern; what the per-micro-batch state update performs is exactly
    ``cms_merge`` of the batch's sketch into the running one, and CMS
    merge is linear, so order never matters). Run in 'update' (emit
    changed cells) or 'complete' mode; the completed table equals
    ``cms_build`` over the full history bit-for-bit — property-pinned
    in test_streaming. Query the completed/stored cells with
    ``cms_query`` as usual."""
    from hdk_spark.operators.sketches import cms_build

    return cms_build(stream_df, value_col, depth, width, seed, hash_basis)


#: each streaming sketch key column: (Spark type, Python cast, pandas dtype)
_KEY_TYPES = {"grp": (T.StringType(), str, "string"),
              "shard": (T.IntegerType(), int, "int32")}


def _key_frame(keys, key, n_rows: int) -> dict:
    """The key columns of one emitted applyInPandasWithState frame."""
    import pandas as pd

    return {
        c: pd.array([_KEY_TYPES[c][1](v)] * n_rows, dtype=_KEY_TYPES[c][2])
        for c, v in zip(keys, key)
    }


def _sketch_state(rel: DataFrame, keys, update, fields, state) -> DataFrame:
    """Run a sketch's state update per key as update-mode
    applyInPandasWithState: emits (*keys, *fields), keeps ``state``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return rel.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=T.StructType(
            [T.StructField(c, _KEY_TYPES[c][0]) for c in keys]
            + [T.StructField(n, t) for n, t in fields]),
        stateStructType=T.StructType(
            [T.StructField(n, t) for n, t in state]),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _keyed_items(stream_df, group_col, value_col) -> DataFrame:
    """(grp?, item) with NULL items — and, keyed, NULL groups —
    dropped: the stateful twins cannot hold a NULL group key."""
    from hdk_spark.operators.sketches import _grp_cols

    cols = ["item"] + ([] if group_col is None else ["grp"])
    return stream_df.select(
        *_grp_cols(group_col), F.col(value_col).cast("string").alias("item")
    ).filter(functools.reduce(
        operator.and_, [F.col(c).isNotNull() for c in cols]))


def _mg_state_update(k: int, keys):
    """The Misra-Gries merge law per micro-batch, for one key: recover
    counters + row count from state, absorb the micro-batch's EXACT
    per-key counts, ONE trim (Agarwal et al. 2012 §3 — so a one-batch
    run replays the batch summary bit-for-bit), store, then emit the
    full summary (*keys, item, cnt, n_shard). An all-trimmed key
    emits ONE accounting row (item NULL, cnt NULL, n_shard) — the
    batch mg_summary convention, so volume is never lost."""
    import pandas as pd

    from hdk_spark.operators.sketches import _mg_trim

    def update(key, pdfs, state):
        if state.exists:
            st_items, st_cnts, n = state.get
            counters = {i: int(c) for i, c in zip(st_items, st_cnts)}
            n = int(n)
        else:
            counters, n = {}, 0
        for pdf in pdfs:
            n += len(pdf)
            # EXACT batch counts absorbed before the single trim —
            # deterministic for the micro-batch's multiset
            for v, c in pdf["item"].value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
        _mg_trim(counters, k)
        items = sorted(counters)
        state.update((items, [counters[i] for i in items], n))
        n_rows = max(len(items), 1)
        yield pd.DataFrame({
            **_key_frame(keys, key, n_rows),
            "item": pd.array(items or [None], dtype="string"),
            "cnt": pd.array(
                [counters[i] for i in items] or [None], dtype="Int64"),
            "n_shard": pd.array([n] * n_rows, dtype="int64"),
        })

    return update


def _stream_mg(stream_df, group_col, value_col, k, n_shards, hash_basis):
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from hdk_spark.operators.sketches import _cms_base_hash

    keys = ([] if group_col is None else ["grp"]) + ["shard"]
    sharded = _keyed_items(stream_df, group_col, value_col).withColumn(
        "shard",
        F.pmod(
            _cms_base_hash(F.col("item"), hash_basis), F.lit(n_shards)
        ).cast("int"),
    )
    return _sketch_state(
        sharded, keys, _mg_state_update(k, keys),
        [("item", T.StringType()), ("cnt", T.LongType()),
         ("n_shard", T.LongType())],
        [("items", T.ArrayType(T.StringType())),
         ("cnts", T.ArrayType(T.LongType())), ("n", T.LongType())],
    )


def stream_frequent_items(
    stream_df: DataFrame,
    value_col: str,
    k: int = 100,
    n_shards: int = 8,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Streaming heavy-hitter candidates via sharded MISRA-GRIES
    state (the bounded-state frequency-TOP companion of stream_cms's
    point-frequency cells): items hash-shard on pmod(hash(item),
    n_shards); each shard's state is one MG summary of ≤ k counters,
    so TOTAL state is ≤ n_shards·k (item, count) pairs for an
    unbounded stream — vs streaming groupBy(item).count(), which
    holds every distinct item ever seen. Each micro-batch update is
    the MG merge law (Agarwal et al. 2012 "Mergeable Summaries" §3):
    absorb the batch's EXACT per-shard counts, then ONE trim.

    Emission (update mode — applyInPandasWithState has no complete
    mode): every updated shard re-emits its FULL current summary
    (shard, item, cnt, n_shard), so the latest emission per shard IS
    the complete table; a memory-sink consumer takes the last batch's
    rows per shard. An all-trimmed shard emits one accounting row
    (item NULL, cnt NULL, n_shard) — the batch mg_summary convention.
    When the whole history arrives in one micro-batch (availableNow
    over a single file), the emission equals the batch
    ``sketches.mg_summary`` relation BIT-FOR-BIT — the contract row's
    oracle replays that (md5 basis). Across arbitrary micro-batch
    splits the counter VALUES are split-dependent (trim is not
    linear) but the mergeable-summaries guarantees are not: cnt never
    exceeds the true shard count, undercount ≤ (n_shard − Σcnt)/(k+1),
    and every item with true count > n_shard/(k+1) survives —
    property-pinned in test_streaming over a forced multi-batch run.

    NULL items are excluded (not an item); replayed rows double-count
    exactly like stream_ndv_rollup's n_rows caveat (MG adds — only
    exactly-once sinks see multiset-true summaries).
    """
    return _stream_mg(stream_df, None, value_col, k, n_shards, hash_basis)


def stream_frequent_items_by_group(
    stream_df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 100,
    n_shards: int = 8,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Per-GROUP :func:`stream_frequent_items`, the streaming twin of
    ``sketches.mg_summary_by_group``: state and emission are keyed by
    (grp, shard) — (grp, shard, item, cnt, n_shard) — with the same
    per-cell law and guarantees; one-batch runs equal the batch form
    bit-for-bit for non-NULL groups. NULL GROUPS are DROPPED here (the
    batch form keeps them; coalesce to a sentinel upstream if a NULL
    group must stream). The group count is data-dependent — cap or
    bucket unbounded group domains upstream."""
    return _stream_mg(stream_df, group_col, value_col, k, n_shards,
                      hash_basis)


def stream_dds(
    stream_df: DataFrame,
    value_col: str,
    m: int = 64,
) -> DataFrame:
    """Streaming DDSketch: the batch ``dds_build`` bucket relation as
    a streaming aggregation — Spark maintains the (store, b, j)
    counters as streaming state, bounded at the bucket count
    (≤ stores·binades·m cells) for an UNBOUNDED stream; the per-batch
    state update IS ``dds_merge`` (linear counter add), so order
    never matters and complete mode equals ``dds_build`` over the
    full history BIT-FOR-BIT (property-pinned in test_streaming) —
    the bounded-state streaming percentile, where a streaming exact
    quantile would have to hold every row. Query the completed/
    stored buckets with ``dds_quantile`` as usual. Counters add, so
    replayed rows double-count (the stream_cms caveat: only
    exactly-once sinks see multiset-true sketches)."""
    from hdk_spark.operators.sketches import dds_build

    return dds_build(stream_df, value_col, m)


def stream_dds_by_group(
    stream_df: DataFrame,
    group_col: str,
    value_col: str,
    m: int = 64,
) -> DataFrame:
    """Per-GROUP :func:`stream_dds`: ``dds_build_by_group`` as a
    streaming aggregation. A plain streaming aggregation has no
    join-back, so NULL GROUPS are KEPT, exactly as in the batch
    form."""
    from hdk_spark.operators.sketches import dds_build_by_group

    return dds_build_by_group(stream_df, group_col, value_col, m)


def stream_cms_by_group(
    stream_df: DataFrame,
    group_col: str,
    value_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: int = 37,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Per-GROUP :func:`stream_cms`: ``cms_build_by_group`` as a
    streaming aggregation. A plain streaming aggregation has no
    join-back, so NULL GROUPS are KEPT, exactly as in the batch
    form."""
    from hdk_spark.operators.sketches import cms_build_by_group

    return cms_build_by_group(stream_df, group_col, value_col,
                              depth, width, seed, hash_basis)


def _kmv_state_update(k: int, keys):
    """The KMV merge law per micro-batch, for one key: the bottom-k
    of the state's (h, item) pairs and the batch's, hash collisions
    keeping the smallest item (compared as Python str — code-point
    order, identical to the batch ``F.min`` for the ASCII/BMP items
    the repo plants); emits the full summary (*keys, h, item,
    n_seen)."""
    import pandas as pd

    def update(key, pdfs, state):
        if state.exists:
            st_hs, st_items, n = state.get
            summ = dict(zip((int(h) for h in st_hs), st_items))
            n = int(n)
        else:
            summ, n = {}, 0
        # trim to k after every Arrow CHUNK, not once per micro-batch:
        # bottom-k is associative, so the result is identical while
        # worker memory stays O(k + chunk) instead of O(batch
        # distinct) — an availableNow catch-up batch with millions of
        # distinct values would otherwise hold them all in the dict.
        # The threshold skip keeps steady-state inserts cheap.
        for pdf in pdfs:
            n += len(pdf)
            # thresh is CHUNK-START-STALE by design: it is not
            # refreshed as smaller hashes arrive mid-chunk, so inserts
            # above the true current k-th-smallest can still land
            # until the end-of-chunk trim restores exact bottom-k.
            # Correctness is unaffected (the trim is exact); the cost
            # is extra dict work only on chunks skewed toward
            # descending hashes — uniform hash order makes that rare,
            # and one max() per chunk beats re-deriving the threshold
            # on every accepted insert.
            thresh = max(summ) if len(summ) >= k else None
            for h, it in zip(pdf["h"], pdf["item"]):
                h = int(h)
                if thresh is not None and h > thresh:
                    continue
                prev = summ.get(h)
                if prev is None or it < prev:
                    summ[h] = it
            if len(summ) > k:
                summ = {h: summ[h] for h in sorted(summ)[:k]}
        hs = sorted(summ)
        state.update((hs, [summ[h] for h in hs], n))
        yield pd.DataFrame({
            **_key_frame(keys, key, len(hs)),
            "h": pd.array(hs, dtype="int64"),
            "item": pd.array([summ[h] for h in hs], dtype="string"),
            "n_seen": pd.array([n] * len(hs), dtype="int64"),
        })

    return update


def _stream_kmv(stream_df, group_col, value_col, k, n_shards, hash_basis):
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from hdk_spark.operators.sketches import _cms_base_hash

    rel = _keyed_items(stream_df, group_col, value_col).withColumn(
        "h", _cms_base_hash(F.col("item"), hash_basis))
    keys = ["grp"]
    if group_col is None:
        if n_shards < 1:
            raise ValueError(f"n_shards must be >= 1, got {n_shards}")
        keys = ["shard"]
        rel = rel.withColumn(
            "shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("int"))
    return _sketch_state(
        rel, keys, _kmv_state_update(k, keys),
        [("h", T.LongType()), ("item", T.StringType()),
         ("n_seen", T.LongType())],
        [("hs", T.ArrayType(T.LongType())),
         ("items", T.ArrayType(T.StringType())), ("n", T.LongType())],
    )


def stream_kmv(
    stream_df: DataFrame,
    value_col: str,
    k: int = 256,
    n_shards: int = 8,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Streaming KMV / bottom-k sketch: maintains the k smallest
    distinct base hashes of ``value_col`` (with a representative item
    each) as sharded applyInPandasWithState state. Values shard on
    pmod(hash, n_shards) and each shard keeps ITS bottom-k, so TOTAL
    state is ≤ n_shards·k (h, item) pairs for an unbounded stream —
    vs streaming ``dropDuplicates``/COUNT DISTINCT, which holds every
    key ever seen. Merging the shards' latest emissions with
    ``sketches.kmv_merge`` yields the batch ``kmv_summary`` of the
    full history BIT-FOR-BIT regardless of micro-batch splits: each
    global bottom-k hash lands in some shard, where at most k hashes
    can be smaller, so the shard's bottom-k retains it — the same
    bottom-k closure property that makes kmv_merge exact (Beyer et
    al. 2007), and each micro-batch update IS that merge
    (property-pinned across a forced multi-batch run).

    Unlike the counter sketches, KMV is a pure function of the value
    SET, so replayed/duplicate rows leave the summary UNCHANGED —
    at-least-once sources still converge to the exact bottom-k; only
    the companion ``n_seen`` row counter double-counts replays (the
    stream_ndv_rollup n_rows caveat).

    Emission (update mode): every updated shard re-emits its full
    current summary (shard, h, item, n_seen); n_seen strictly grows
    per update, so the latest emission per shard is the max-n_seen
    one. NULLs excluded. Feed the merged summary to ``kmv_ndv`` /
    ``kmv_jaccard`` as usual."""
    return _stream_kmv(stream_df, None, value_col, k, n_shards, hash_basis)


def stream_kmv_by_group(
    stream_df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 256,
    hash_basis: str = "xxhash64",
) -> DataFrame:
    """Per-GROUP :func:`stream_kmv`, the streaming twin of
    ``sketches.kmv_by_group``: state is keyed by GROUP, not shard —
    each group's latest emission (grp, h, item, n_seen) equals
    kmv_by_group of its full history bit-for-bit. NULL GROUPS are
    DROPPED here (the batch form keeps them; coalesce to a sentinel
    upstream if a NULL group must stream). The group count is
    data-dependent — cap or bucket unbounded group domains
    upstream."""
    return _stream_kmv(stream_df, group_col, value_col, k, None, hash_basis)


def stream_ndv_rollup(
    stream_df: DataFrame,
    group_col: str,
    value_col: str,
    lgk: int = 12,
) -> DataFrame:
    """Streaming per-group NDV via DataSketches HLL: ``ndv_rollup``'s
    partial-agg groupBy as a streaming aggregation — per-group state
    is ONE ≤2^lgk-byte sketch regardless of how many distinct values
    stream past (the bounded-state alternative to streaming
    COUNT(DISTINCT), which would hold every key). The per-batch
    SKETCH update is ``merge_ndv_rollups``' register-max union, so
    the ``ndv`` estimate is idempotent under replayed rows — but the
    companion ``n_rows`` count is additive and WILL double-count
    replays (exactly-once sinks see exact counts; at-least-once
    sources keep ndv correct while n_rows drifts high). Completed
    table == the batch rollup of the full history (property-pinned);
    feed it to ``ndv_estimate``."""
    from hdk_spark.operators.sketches import ndv_rollup

    return ndv_rollup(stream_df, group_col, value_col, lgk)
