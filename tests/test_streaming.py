"""Streaming operators driven end-to-end: file source →
trigger(availableNow) → memory sink, cross-checked against the batch
equivalent of the same computation on the same data.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hdk_spark import streaming
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """events table re-written as normal-timestamp parquet (the raw
    sf files carry TIMESTAMP(NANOS) which needs the nanosAsLong shim;
    streaming schemas want a clean µs timestamp)."""
    from __spark_entry__ import load_tables

    load_tables(spark, SF_SMOKE)
    out = str(tmp_path_factory.mktemp("events_stream"))
    shutil.rmtree(out, ignore_errors=True)
    spark.table("events").coalesce(2).write.mode("overwrite").parquet(out)
    return out


@pytest.fixture(scope="module")
def events_schema(spark, events_dir):
    return spark.read.parquet(events_dir).schema


def _collect(spark, stream_df, name, mode="append"):
    streaming.run_to_memory(stream_df, name, mode)
    return spark.table(name)


def test_stream_parquet_ingest_counts(spark, events_dir, events_schema):
    st = streaming.stream_parquet(spark, events_dir, events_schema)
    assert st.isStreaming
    got = _collect(spark, st.groupBy("event_type").count(), "t_ingest", "complete")
    batch = spark.read.parquet(events_dir).groupBy("event_type").count()
    assert sorted(got.collect()) == sorted(batch.collect())


def test_tumbling_agg_matches_batch(spark, events_dir, events_schema):
    st = streaming.stream_parquet(spark, events_dir, events_schema)
    win = streaming.tumbling_agg(
        st, "ts", "1 hour",
        [F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")],
        group_cols=["event_type"],
    )
    got = _collect(spark, win, "t_tumbling", "complete")
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )
    g = {(r["window_start"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
         for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
         for r in batch.collect()}
    assert g == b


def test_load_tables_sizes_shuffle_partitions_to_cores(spark):
    """load_tables sets shuffle partitions to the session's cores, over
    whatever the session held before (Spark's vanilla 200 here)."""
    from __spark_entry__ import load_tables

    spark.conf.set("spark.sql.shuffle.partitions", "200")
    load_tables(spark, SF_SMOKE)
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(
        spark.sparkContext.defaultParallelism)


def test_stateful_stream_keeps_one_state_store_per_core(
        spark, events_dir, events_schema):
    """A stateful stream first started after load_tables commits one
    state store per core on each micro-batch, not a fixed count."""
    import json

    from __spark_entry__ import load_tables

    load_tables(spark, SF_SMOKE)
    st = streaming.stream_parquet(spark, events_dir, events_schema)
    win = streaming.tumbling_agg(
        st, "ts", "1 hour", [F.count(F.lit(1)).alias("n")])
    q = streaming.run_to_memory(win, "t_state_stores", "complete")
    prog = json.loads(q.lastProgress.json)
    assert (prog["stateOperators"][0]["numStateStoreInstances"]
            == spark.sparkContext.defaultParallelism), prog["stateOperators"]


def test_await_termination_stops_and_names_stuck_query(
        spark, monkeypatch, tmp_path):
    """A query still running when the bounded wait expires is stopped,
    and the TimeoutError names it."""
    monkeypatch.setattr(streaming, "AWAIT_TIMEOUT_S", 1)
    q = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("memory").queryName("t_stuck")
        .trigger(processingTime="10 seconds")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    try:
        with pytest.raises(TimeoutError, match="t_stuck"):
            streaming.await_termination(q)
        assert not q.isActive
    finally:
        q.stop()


def test_sliding_agg_window_counts(spark, events_dir, events_schema):
    st = streaming.stream_parquet(spark, events_dir, events_schema)
    win = streaming.sliding_agg(
        st, "ts", "2 hours", "1 hour", [F.count(F.lit(1)).alias("n")]
    )
    got = _collect(spark, win, "t_sliding", "complete")
    rows = got.collect()
    assert len(rows) > 0
    # every event lands in exactly 2 overlapping windows
    assert sum(r["n"] for r in rows) == 2 * spark.read.parquet(events_dir).count()


def test_sessionize_matches_batch_gap_logic(spark, events_dir, events_schema):
    st = streaming.stream_parquet(spark, events_dir, events_schema)
    sess = streaming.sessionize(
        st, "ts", ["user_id"], gap="30 minutes",
        agg_exprs=[F.count(F.lit(1)).alias("n_events")],
    )
    got = _collect(spark, sess, "t_sessions", "complete")
    n_sessions_stream = (
        got.groupBy("user_id").count().withColumnRenamed("count", "n_sessions")
    )
    # batch oracle: lag + gap>30min cumsum (same as entry_queries)
    from pyspark.sql.window import Window

    e = spark.read.parquet(events_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_seconds(F.col("ts")) - F.unix_seconds(F.lag("ts").over(w))
    batch = (
        e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"))
    )
    g = {r["user_id"]: r["n_sessions"] for r in n_sessions_stream.collect()}
    b = {r["user_id"]: r["n_sessions"] for r in batch.collect()}
    assert g == b


def test_stream_dedup_within_watermark(spark, events_dir, events_schema):
    # duplicate the stream input by unioning the directory twice
    st = streaming.stream_parquet(spark, events_dir, events_schema)
    dup = st.union(streaming.stream_parquet(spark, events_dir, events_schema))
    deduped = streaming.stream_dedup(dup, ["event_id"], ts_col="ts")
    got = _collect(spark, deduped, "t_dedup", "append")
    assert got.count() == spark.read.parquet(events_dir).count()


def test_running_counts_stateful(spark, events_dir, events_schema):
    st = streaming.stream_parquet(spark, events_dir, events_schema)
    counts = streaming.running_counts_stateful(st, "user_id", "ts")
    got = _collect(spark, counts, "t_stateful", "update")
    # final per-key row must equal batch counts
    final = (
        got.groupBy("key").agg(F.max("n_events").alias("n")).orderBy("key")
    )
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.col("user_id").cast("string").alias("key"))
        .count()
    )
    g = {r["key"]: r["n"] for r in final.collect()}
    b = {r["key"]: r["count"] for r in batch.collect()}
    assert g == b


def test_stream_csv_ingest(spark, tmp_path, events_dir):
    df = spark.read.parquet(events_dir).select("event_id", "user_id", "event_type")
    csv_dir = str(tmp_path / "csv_src")
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(csv_dir)
    st = streaming.stream_csv(spark, csv_dir, df.schema)
    got = _collect(spark, st.groupBy().count(), "t_csv", "complete")
    assert got.collect()[0][0] == df.count()


def test_stream_span_flags_planted(spark, tmp_path):
    """Planted corpus/stream: windows shared with the static relation
    are emitted per position; fresh docs emit nothing; the streaming
    query needs no watermark and runs in append mode (stateless)."""
    from hdk_spark.operators.dedup import window_freq_relation

    corpus = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "completely different static corpus content here")],
        "doc_id: long, text: string",
    )
    freq = window_freq_relation(corpus, n=4, basis="text")

    src = str(tmp_path / "span_stream")
    spark.createDataFrame(
        [(1, "prefix words the quick brown fox jumps and more"),
         (2, "nothing in common with anything stored at all")],
        "doc_id: long, text: string",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    st = streaming.stream_parquet(spark, src, schema)

    out = streaming.stream_span_flags(st, freq, n=4, basis="text")
    assert out.isStreaming
    got = _collect(spark, out, "t_span_flags", "append").collect()
    rows = {(r["doc_id"], r["pos"]): r["wkey"] for r in got}
    # doc 1 tokens: prefix words the quick brown fox jumps and more
    # shared 4-windows with corpus doc 100: "the quick brown fox" at
    # pos 2 and "quick brown fox jumps" at pos 3 ("brown fox jumps
    # and" diverges from the corpus's "... jumps over")
    assert set(rows) == {(1, 2), (1, 3)}
    assert rows[(1, 2)] == "the quick brown fox"
    # hash basis agrees with the text basis on the emitted positions
    freq_h = window_freq_relation(corpus, n=4, basis="xxhash64")
    st2 = streaming.stream_parquet(spark, src, schema)
    out_h = streaming.stream_span_flags(st2, freq_h, n=4, basis="xxhash64")
    got_h = _collect(spark, out_h, "t_span_flags_h", "append").collect()
    assert {(r["doc_id"], r["pos"]) for r in got_h} == set(rows)


def test_stream_static_ops_have_empty_streaming_state(spark, tmp_path):
    """The two stream-static ingest operators must run with ZERO state
    operators (no watermark, no dedup store, no aggregation state) —
    the property that lets them run indefinitely; pinned from the
    engine's own StreamingQueryProgress (SCALE.md round-6 rows)."""
    import json

    from hdk_spark.operators.dedup import (
        minhash_signatures,
        window_freq_relation,
    )

    corpus = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "some other static corpus document text here")],
        "doc_id: long, text: string",
    )
    src = str(tmp_path / "state_pin_stream")
    spark.createDataFrame(
        [(1, "prefix words the quick brown fox jumps and more")],
        "doc_id: long, text: string",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    sigs = minhash_signatures(corpus)
    q1 = streaming.run_to_memory(
        streaming.stream_minhash_dedup(
            streaming.stream_parquet(spark, src, schema), sigs,
            threshold=0.1),
        "t_state_pin_mh",
    )
    freq = window_freq_relation(corpus, n=4)
    q2 = streaming.run_to_memory(
        streaming.stream_span_flags(
            streaming.stream_parquet(spark, src, schema), freq, n=4),
        "t_state_pin_sp",
    )
    for q in (q1, q2):
        progs = [json.loads(p.json) for p in q.recentProgress]
        assert progs, "query produced no progress"
        assert all(p.get("stateOperators", []) == [] for p in progs), progs


def test_stream_crawl_ingest_matches_batch_and_is_stateless(spark, tmp_path):
    """The streaming crawl front-end: per-doc output equals the batch
    composition's noindex+robots-gated, lang-annotated relation, the
    compact-robots fold agrees with the window-based batch gate, and
    the query runs with ZERO state operators (stateless ingest)."""
    import json

    from hdk_spark.operators.crawl import crawl_curate
    from hdk_spark.operators.warc import build_warc
    from hdk_spark.operators.web import parse_robots, robots_rules_compact

    rows = []
    for i in range(30):
        url = f"https://site{i % 3}.com/p/{i % 7}" + (
            "?utm_source=x" if i % 2 == 0 else ""
        )
        html = (
            f"<html><head><title>D{i}</title>"
            + ('<meta name="robots" content="noindex">' if i % 11 == 0 else "")
            + f"</head><body><p>word{i % 4} the and of text</p></body></html>"
        ).encode()
        status = b"HTTP/1.1 404 No" if i % 13 == 0 else b"HTTP/1.1 200 OK"
        ctype = b"text/plain" if i % 17 == 0 else b"text/html"
        rows.append(
            (
                i,
                build_warc([
                    {
                        "warc_type": "response",
                        "target_uri": url,
                        "payload": status + b"\r\nContent-Type: " + ctype
                        + b"\r\n\r\n" + html,
                        "content_type": "application/http;msgtype=response",
                    }
                ]),
            )
        )
    src = str(tmp_path / "warc_stream")
    spark.createDataFrame(rows, "warc_id: long, data: binary").coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    robots = spark.createDataFrame(
        [
            ("site0.com", "User-agent: *\nDisallow: /p\n"),
            ("site1.com", "User-agent: *\nDisallow: /none\n"),
            ("site2.com", "User-agent: *\nDisallow: /none\n"),
        ],
        "reg_domain: string, robots_txt: string",
    )
    compact = robots_rules_compact(parse_robots(robots))

    st = streaming.stream_parquet(spark, src, schema)
    out = streaming.stream_crawl_ingest(
        st, compact, langs=["en", "de"]
    )
    assert out.isStreaming
    q = streaming.run_to_memory(out, "t_crawl_ingest", "append")
    got = {
        r["doc_id"]: (r["url"], r["canonical_url"], r["lang"], r["n_grams"])
        for r in spark.table("t_crawl_ingest").collect()
    }

    # batch reference: the composed operator's robots_gate+noindex
    # survivor set with the same lang annotation
    warcs = spark.read.parquet(src)
    stages = crawl_curate(warcs, robots, langs=["en", "de"])
    batch = {
        r["doc_id"]
        for r in stages["noindex_gate"].select("doc_id").collect()
    }
    assert set(got) == batch
    # expected gate arithmetic: http (13/17), robots site0 (/p), noindex
    expected = {
        i for i in range(30)
        if i % 13 != 0 and i % 17 != 0 and i % 3 != 0 and i % 11 != 0
    }
    assert set(got) == expected
    # canonical collapses the utm variant; lang annotation present
    for i, (url, cu, lang, ng) in got.items():
        assert cu == f"https://site{i % 3}.com/p/{i % 7}"
        assert lang in ("en", "de") and ng > 0

    progs = [json.loads(p.json) for p in q.recentProgress]
    assert progs, "query produced no progress"
    assert all(p.get("stateOperators", []) == [] for p in progs), progs


def test_streaming_crawl_frontier_stateless(spark, tmp_path):
    """crawl_frontier composes onto a STREAMING candidate relation
    with zero state operators: the Bloom probe is a bounded map-only
    closure and the authority join is stream-static — the frontier
    gate can run indefinitely."""
    import json

    from hdk_spark.operators.web import build_url_seen_bloom, crawl_frontier

    hist = spark.createDataFrame(
        [(1, "http://a.com/old")], "doc_id: long, url: string"
    )
    arr = build_url_seen_bloom(hist, m_bits=1 << 16)
    authority = spark.createDataFrame(
        [("a.com", 900000), ("b.com", 300000)],
        "node: string, rank_micro: long",
    )
    src = str(tmp_path / "frontier_stream")
    spark.createDataFrame(
        [(10, "http://a.com/new"), (11, "http://b.com/x"),
         (12, "http://a.com/old/")],
        "doc_id: long, url: string",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    q = streaming.run_to_memory(
        crawl_frontier(
            streaming.stream_parquet(spark, src, schema), arr, authority,
            m_bits=1 << 16,
        ),
        "t_frontier_stateless",
    )
    rows = {r["doc_id"]: r["priority"]
            for r in spark.sql("SELECT * FROM t_frontier_stateless").collect()}
    assert rows == {10: 900000, 11: 300000}  # the seen canonical dropped
    progs = [json.loads(p.json) for p in q.recentProgress]
    assert progs and all(p.get("stateOperators", []) == [] for p in progs)


def test_stream_cms_equals_batch_bit_for_bit(spark, events_dir, events_schema):
    """stream_cms in complete mode == cms_build over the full history,
    cell-for-cell: the streaming state update IS cms_merge (linear),
    and the 2-file source forces >1 micro-batch so real merging
    happens. State is bounded at depth*width cells."""
    from hdk_spark.operators.sketches import cms_build

    st = streaming.stream_parquet(spark, events_dir, events_schema)
    kw = dict(depth=3, width=16, seed=37)
    got = _collect(
        spark, streaming.stream_cms(st, "event_type", **kw),
        "t_cms", "complete",
    )
    batch = cms_build(spark.read.parquet(events_dir), "event_type", **kw)
    assert sorted(got.collect()) == sorted(batch.collect())
    assert got.count() <= 3 * 16


def test_stream_frequent_items_single_batch_equals_mg_summary(
    spark, tmp_path,
):
    """stream_frequent_items over a SINGLE-file source (availableNow
    → one micro-batch): the emission equals the batch mg_summary
    relation bit-for-bit — the state update absorbed the whole
    history's exact counts and performed the same single trim."""
    from hdk_spark.operators.sketches import mg_summary

    rows = [(i, f"item{(i * i) % 23}") for i in range(1500)]
    src = str(tmp_path / "mg_single")
    spark.createDataFrame(rows, "id: long, v: string") \
        .coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    st = streaming.stream_parquet(spark, src, schema)
    kw = dict(k=4, n_shards=3, hash_basis="md5")
    got = _collect(
        spark, streaming.stream_frequent_items(st, "v", **kw),
        "t_mg_single", "update",
    )
    batch = mg_summary(spark.read.parquet(src), "v", **kw)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, batch.collect()))
    # trims actually happened (23 distinct over 3 shards >> k=4)
    assert all(r["cnt"] < 1500 for r in got.collect()
               if r["cnt"] is not None)

    import pytest

    with pytest.raises(ValueError, match="k"):
        streaming.stream_frequent_items(st, "v", k=0)
    with pytest.raises(ValueError, match="n_shards"):
        streaming.stream_frequent_items(st, "v", k=4, n_shards=0)


def test_stream_frequent_items_multibatch_mg_invariants(spark, tmp_path):
    """Forced multi-batch run (3 files × maxFilesPerTrigger=1): the
    per-batch update is the Agarwal et al. 2012 mergeable-summaries
    merge (counter add + trim), so counter VALUES are split-dependent
    but the MG guarantees are not — per shard's LATEST emission (max
    n_shard — n strictly grows per update): (a) ≤ k counters of state,
    (b) never over the true shard count, (c) undercount ≤ (n_shard −
    Σcnt)/(k+1), (d) every item with true count > n_shard/(k+1)
    survives, (e) Σ latest n_shard == history rows."""
    import hashlib
    from collections import Counter

    from pyspark.sql.window import Window

    k, n_shards = 3, 2
    rows = [(i, f"v{(i * 7) % 19}" if i % 4 else "heavy")
            for i in range(1200)]
    src = str(tmp_path / "mg_multi")
    spark.createDataFrame(rows, "id: long, v: string") \
        .repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 3

    st = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = _collect(
        spark,
        streaming.stream_frequent_items(
            st, "v", k=k, n_shards=n_shards, hash_basis="md5"),
        "t_mg_multi", "update",
    )
    latest = (
        sink.withColumn(
            "__m", F.max("n_shard").over(Window.partitionBy("shard")))
        .filter(F.col("n_shard") == F.col("__m"))
        .drop("__m")
    )
    got = latest.collect()

    def shard_of(v):
        return int(hashlib.md5(v.encode()).hexdigest()[:8], 16) % n_shards

    true = Counter((shard_of(v), v) for _, v in rows)
    n_per_shard = Counter(shard_of(v) for _, v in rows)
    by_shard: dict = {}
    for r in got:
        if r["item"] is not None:
            by_shard.setdefault(r["shard"], {})[r["item"]] = r["cnt"]
        assert r["n_shard"] == n_per_shard[r["shard"]]
    assert sum(n_per_shard[s] for s in by_shard) == len(rows)
    for s, counters in by_shard.items():
        assert len(counters) <= k
        err = (n_per_shard[s] - sum(counters.values())) / (k + 1)
        for item, cnt in counters.items():
            assert cnt <= true[(s, item)], (s, item)
            assert true[(s, item)] - cnt <= err + 1e-9, (s, item)
        for (ts, item), c in true.items():
            if ts == s and c > n_per_shard[s] / (k + 1):
                assert item in counters, (s, item, c)
    # 'heavy' (300 of 1200 rows) clears its shard's n/(k+1) bound
    hs = shard_of("heavy")
    assert "heavy" in by_shard[hs]

    # the batch consumer composes with the streaming summary: the
    # latest emission per shard IS a summary relation, so
    # mg_heavy_hitters runs on it unchanged — 'heavy' (25% of rows)
    # must be emitted with bounds that bracket its true count.
    # (Rebuilt from the collected rows: the memory-sink table's
    # window-filtered lineage trips Spark's conflicting-reference
    # resolution when self-joined — a sink-lineage quirk, not an
    # operator one; the same window-over-filter shape built from a
    # plain relation self-joins fine.)
    from hdk_spark.operators.sketches import mg_heavy_hitters

    latest_rel = spark.createDataFrame(got, latest.schema)
    hh = {r["item"]: r for r in
          mg_heavy_hitters(latest_rel, phi=0.2, k=k).collect()}
    assert "heavy" in hh
    assert hh["heavy"]["cnt_lower"] <= true[(hs, "heavy")] \
        <= hh["heavy"]["cnt_upper"]


def test_stream_kmv_multibatch_equals_batch_bit_for_bit(spark, tmp_path):
    """stream_kmv across a FORCED multi-batch run (3 files ×
    maxFilesPerTrigger=1, the third a byte-duplicate of the second):
    kmv_merge of the shards' latest emissions == batch kmv_summary of
    the full history BIT-FOR-BIT — the per-batch update is the exact
    bottom-k-union merge, so unlike MG the counter values are NOT
    split-dependent; and KMV is a pure set function, so the duplicate
    file (at-least-once delivery) changes nothing but n_seen. State
    bound: each shard's latest emission ≤ k rows."""
    from pyspark.sql.window import Window

    from hdk_spark.operators.sketches import kmv_merge, kmv_summary

    k, n_shards = 8, 3
    src = str(tmp_path / "kmv_multi")
    os.makedirs(src)
    f1 = spark.createDataFrame(
        [(i, f"a{(i * 13) % 101}") for i in range(400)],
        "id: long, v: string")
    f2 = spark.createDataFrame(
        [(i, f"b{(i * 7) % 67}") for i in range(300)],
        "id: long, v: string")
    f1.coalesce(1).write.parquet(src + "/p1")
    f2.coalesce(1).write.parquet(src + "/p2")
    f2.coalesce(1).write.parquet(src + "/p3")  # replayed slice
    schema = f1.schema

    st = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    sink = _collect(
        spark,
        streaming.stream_kmv(st, "v", k=k, n_shards=n_shards,
                             hash_basis="md5"),
        "t_kmv_multi", "update",
    )
    latest = (
        sink.withColumn(
            "__m", F.max("n_seen").over(Window.partitionBy("shard")))
        .filter(F.col("n_seen") == F.col("__m"))
    )
    rows = latest.collect()
    per_shard = {}
    for r in rows:
        per_shard.setdefault(r["shard"], []).append(r)
    assert all(len(v) <= k for v in per_shard.values())
    # n_seen counts ROWS (the duplicate file double-counts): 400+600
    assert sum({r["shard"]: r["n_seen"] for r in rows}.values()) == 1000

    merged = kmv_merge(
        spark.createDataFrame(rows, latest.schema).select("h", "item"),
        k=k,
    )
    batch = kmv_summary(
        f1.unionByName(f2), "v", k=k, hash_basis="md5")
    assert merged.collect() == batch.collect()

    import pytest

    with pytest.raises(ValueError, match="k"):
        streaming.stream_kmv(st, "v", k=1)
    with pytest.raises(ValueError, match="n_shards"):
        streaming.stream_kmv(st, "v", k=4, n_shards=0)


def test_stream_kmv_feeds_batch_jaccard(spark, tmp_path):
    """Streaming-to-batch composition for the KMV twin (the
    stream_frequent_items → mg_heavy_hitters cousin): two streams'
    stream_kmv emissions, merged per side, feed kmv_jaccard unchanged
    and give BIT-FOR-BIT the estimate the batch kmv_summary pipeline
    produces — because streamed summaries == batch summaries exactly.
    (Summaries rebuilt from collected rows: the memory-sink table's
    lineage trips Spark's conflicting-reference resolution when two
    sink-derived relations meet in one plan — the known sink quirk.)"""
    from hdk_spark.operators.sketches import kmv_jaccard, kmv_merge, kmv_summary

    k = 32
    a = spark.createDataFrame(
        [(i, f"x{i % 600}") for i in range(1200)], "id: long, v: string")
    b = spark.createDataFrame(
        [(i, f"x{300 + i % 600}") for i in range(1200)],
        "id: long, v: string")  # |A∩B|/|A∪B| = 300/900 = 1/3

    def streamed_summary(df, name):
        src = str(tmp_path / name)
        df.coalesce(1).write.parquet(src)
        st = streaming.stream_parquet(spark, src, df.schema)
        sink = _collect(
            spark,
            streaming.stream_kmv(st, "v", k=k, n_shards=3,
                                 hash_basis="md5"),
            f"t_kmv_{name}", "update",
        )
        rows = sink.collect()  # single batch → every emission is latest
        return kmv_merge(
            spark.createDataFrame(rows, sink.schema).select("h", "item"),
            k=k,
        )

    est = kmv_jaccard(streamed_summary(a, "ja"), streamed_summary(b, "jb"),
                      k=k).collect()
    kw = dict(k=k, hash_basis="md5")
    batch = kmv_jaccard(kmv_summary(a, "v", **kw),
                        kmv_summary(b, "v", **kw), k=k).collect()
    assert est == batch
    assert abs(est[0]["jaccard_est"] - 1 / 3) < 0.25  # ~1.8σ at k=32


def test_stream_ndv_rollup_equals_batch(spark, events_dir, events_schema):
    """stream_ndv_rollup in complete mode: ndv_estimate over the
    completed table equals the batch rollup's estimates exactly (the
    per-batch state update is the same register-max union
    merge_ndv_rollups performs; HLL estimates are deterministic for
    fixed registers)."""
    from hdk_spark.operators.sketches import ndv_estimate, ndv_rollup

    st = streaming.stream_parquet(spark, events_dir, events_schema)
    got = ndv_estimate(
        _collect(
            spark,
            streaming.stream_ndv_rollup(st, "event_type", "user_id"),
            "t_ndv", "complete",
        )
    )
    batch = ndv_estimate(
        ndv_rollup(spark.read.parquet(events_dir), "event_type", "user_id")
    )
    assert sorted(got.collect()) == sorted(batch.collect())


def test_stream_dds_equals_batch_bit_for_bit(spark, events_dir, events_schema):
    """stream_dds in complete mode == dds_build over the full history,
    bucket-for-bucket: the streaming state update IS dds_merge
    (linear counter add), and the 2-file source forces >1 micro-batch
    so real merging happens; quantiles from the streamed table equal
    the batch sketch's. State bounded at the bucket count."""
    from hdk_spark.operators.sketches import dds_build, dds_quantile

    st = streaming.stream_parquet(spark, events_dir, events_schema)
    got = _collect(
        spark,
        streaming.stream_dds(st.selectExpr("CAST(value AS DOUBLE) AS x"),
                             "x", m=32),
        "t_dds", "complete",
    )
    batch = dds_build(
        spark.read.parquet(events_dir).selectExpr(
            "CAST(value AS DOUBLE) AS x"),
        "x", m=32,
    )
    assert sorted(got.collect()) == sorted(batch.collect())
    qs = [0.1, 0.5, 0.9]
    assert (dds_quantile(got, qs, m=32).collect()
            == dds_quantile(batch, qs, m=32).collect())


def _run_checkpointed(stream_df, out_dir, cp_dir):
    """availableNow run with a DURABLE checkpoint — the restart-story
    harness (run_to_memory keeps no checkpoint, so every call starts
    from scratch; here a second call with the same cp_dir recovers
    offsets + state store and processes only new files). The memory
    sink REFUSES checkpoint recovery (not fault-tolerant), so
    emissions append to parquet via foreachBatch — the recoverable
    sink a production stream would use."""

    def sink(batch_df, _batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", cp_dir)
        .trigger(availableNow=True)
        .start()
    )
    return streaming.await_termination(q)


def test_stream_kmv_checkpoint_restart_equals_batch(spark, tmp_path):
    """The restart story a production stream actually relies on
    (VERDICT r11 #7): kill the KMV twin after batch 1, add data,
    restart from the SAME checkpoint — the recovered state store must
    carry the bottom-k forward so the post-restart merge STILL equals
    batch kmv_summary of the full history bit-for-bit. Also pins that
    the restarted run processes ONLY the new file (offsets recovered,
    nothing re-read → n_seen counts each row once)."""
    from pyspark.sql.window import Window

    from hdk_spark.operators.sketches import kmv_merge, kmv_summary

    k, n_shards = 8, 2
    src, cp = str(tmp_path / "kmv_src"), str(tmp_path / "kmv_cp")
    out = str(tmp_path / "kmv_out")
    os.makedirs(src)
    f1 = spark.createDataFrame(
        [(i, f"a{(i * 13) % 101}") for i in range(400)],
        "id: long, v: string")
    f2 = spark.createDataFrame(
        [(i, f"b{(i * 7) % 67}") for i in range(300)],
        "id: long, v: string")
    f1.coalesce(1).write.parquet(src + "/p1")

    def stream():
        return (
            spark.readStream.schema(f1.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    _run_checkpointed(
        streaming.stream_kmv(stream(), "v", k=k, n_shards=n_shards,
                             hash_basis="md5"),
        out, cp)  # batch 1 processed, query STOPPED

    f2.coalesce(1).write.parquet(src + "/p2")
    _run_checkpointed(
        streaming.stream_kmv(stream(), "v", k=k, n_shards=n_shards,
                             hash_basis="md5"),
        out, cp)  # restart: recovers state, reads ONLY p2

    both = spark.read.parquet(out)
    latest = (
        both.withColumn(
            "__m", F.max("n_seen").over(Window.partitionBy("shard")))
        .filter(F.col("n_seen") == F.col("__m"))
    )
    rows = latest.collect()
    # offsets recovered: every row counted exactly once across the kill
    assert sum({r["shard"]: r["n_seen"] for r in rows}.values()) == 700
    merged = kmv_merge(
        spark.createDataFrame(rows, latest.schema).select("h", "item"), k=k)
    batch = kmv_summary(f1.unionByName(f2), "v", k=k, hash_basis="md5")
    assert merged.collect() == batch.collect()


def test_stream_mg_checkpoint_restart_transparent(spark, tmp_path):
    """MG twin restart transparency: counter values are split-
    dependent (each update is a merge+trim), so the restart claim is
    NOT batch equality — it is that kill-after-batch-1 + restart is
    INDISTINGUISHABLE from one uninterrupted run over the same
    micro-batch splits: identical latest emissions per shard, row for
    row. The recovered state store must carry counters AND the n
    accumulator forward exactly."""
    from pyspark.sql.window import Window

    k, n_shards = 3, 2
    rows1 = [(i, f"v{(i * 7) % 19}" if i % 4 else "heavy")
             for i in range(800)]
    rows2 = [(i, f"w{(i * 11) % 23}" if i % 5 else "heavy")
             for i in range(400)]
    df1 = spark.createDataFrame(rows1, "id: long, v: string")
    df2 = spark.createDataFrame(rows2, "id: long, v: string")

    def build(base):
        src, cp, out = str(base / "src"), str(base / "cp"), str(base / "out")
        os.makedirs(src)
        df1.coalesce(1).write.parquet(src + "/p1")

        def stream():
            return (
                spark.readStream.schema(df1.schema)
                .option("maxFilesPerTrigger", 1)
                .option("recursiveFileLookup", "true")
                .parquet(src)
            )

        return src, cp, out, stream

    # interrupted: batch 1, STOP, add p2, restart from the checkpoint
    srci, cpi, outi, stream_i = build(tmp_path / "interrupted")
    _run_checkpointed(
        streaming.stream_frequent_items(
            stream_i(), "v", k=k, n_shards=n_shards, hash_basis="md5"),
        outi, cpi)
    df2.coalesce(1).write.parquet(srci + "/p2")
    _run_checkpointed(
        streaming.stream_frequent_items(
            stream_i(), "v", k=k, n_shards=n_shards, hash_basis="md5"),
        outi, cpi)

    # uninterrupted reference: both files upfront, same 1-file batches
    srcu, cpu, outu, stream_u = build(tmp_path / "uninterrupted")
    df2.coalesce(1).write.parquet(srcu + "/p2")
    _run_checkpointed(
        streaming.stream_frequent_items(
            stream_u(), "v", k=k, n_shards=n_shards, hash_basis="md5"),
        outu, cpu)

    def latest_rows(out_dir):
        w = Window.partitionBy("shard")
        return sorted(
            map(tuple, spark.read.parquet(out_dir)
                .withColumn("__m", F.max("n_shard").over(w))
                .filter(F.col("n_shard") == F.col("__m")).drop("__m")
                .collect()))

    assert latest_rows(outi) == latest_rows(outu)


def test_stream_kmv_by_group_checkpoint_restart_equals_batch(
        spark, tmp_path):
    """Restart pin for the per-group twin (VERDICT r12 #3): its state
    shape differs from stream_kmv's (state keyed by GROUP holding a
    per-group bottom-k dict, vs sharded global state), so recovery
    deserves its own test. Kill after batch 1, add a file, restart
    from the SAME checkpoint: (a) offsets recovered — every row
    counted exactly once per group across the kill; (b) each group's
    latest emission equals kmv_by_group of the FULL history
    bit-for-bit (the set-function claim survives recovery); (c) a
    group FIRST SEEN after the restart gets fresh state and is intact
    beside the recovered group."""
    from pyspark.sql.window import Window

    from hdk_spark.operators.sketches import kmv_by_group

    k = 8
    src, cp = str(tmp_path / "kmvg_src"), str(tmp_path / "kmvg_cp")
    out = str(tmp_path / "kmvg_out")
    os.makedirs(src)
    f1 = spark.createDataFrame(
        [(i, "web", f"a{(i * 13) % 101}") for i in range(300)],
        "id: long, g: string, v: string")
    f2 = spark.createDataFrame(
        [(i, "web" if i % 2 else "code", f"b{(i * 7) % 67}")
         for i in range(200)],
        "id: long, g: string, v: string")  # 'code' first seen POST-restart
    f1.coalesce(1).write.parquet(src + "/p1")

    def stream():
        return (
            spark.readStream.schema(f1.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    _run_checkpointed(
        streaming.stream_kmv_by_group(stream(), "g", "v", k=k,
                                      hash_basis="md5"),
        out, cp)  # batch 1 processed, query STOPPED

    f2.coalesce(1).write.parquet(src + "/p2")
    _run_checkpointed(
        streaming.stream_kmv_by_group(stream(), "g", "v", k=k,
                                      hash_basis="md5"),
        out, cp)  # restart: recovers per-group state, reads ONLY p2

    both = spark.read.parquet(out)
    latest = (
        both.withColumn(
            "__m", F.max("n_seen").over(Window.partitionBy("grp")))
        .filter(F.col("n_seen") == F.col("__m"))
    )
    rows = latest.collect()
    # offsets recovered: web counted 300 + 100 once each, code 100 once
    assert {r["grp"]: r["n_seen"] for r in rows} == {
        "web": 400, "code": 100}
    per_grp: dict = {}
    for r in rows:
        per_grp.setdefault(r["grp"], []).append((r["h"], r["item"]))
    assert all(len(v) <= k for v in per_grp.values())
    want: dict = {}
    for r in kmv_by_group(
            f1.unionByName(f2).select("g", "v"), "g", "v", k=k,
            hash_basis="md5").collect():
        want.setdefault(r["grp"], []).append((r["h"], r["item"]))
    assert {g: sorted(v) for g, v in per_grp.items()} == \
           {g: sorted(v) for g, v in want.items()}


def test_stream_kmv_by_group_multibatch_equals_batch(spark, tmp_path):
    """stream_kmv_by_group across a FORCED multi-batch run (3 files ×
    maxFilesPerTrigger=1, the third a byte-duplicate): the latest
    emissions per GROUP equal kmv_by_group of the full history
    BIT-FOR-BIT (pure set function per group, bottom-k closure) —
    including a group absent from the first file; the duplicate file
    changes nothing but n_seen; per-group state ≤ k rows; emissions
    feed kmv_ndv_by_group / kmv_merge_by_group unchanged."""
    from pyspark.sql.window import Window

    from hdk_spark.operators.sketches import (
        kmv_by_group, kmv_merge_by_group, kmv_ndv_by_group,
    )

    k = 8
    src = str(tmp_path / "kmvg_multi")
    os.makedirs(src)
    f1 = spark.createDataFrame(
        [(i, "web", f"a{(i * 13) % 101}") for i in range(300)],
        "id: long, g: string, v: string")
    f2 = spark.createDataFrame(
        [(i, "web" if i % 2 else "code", f"b{(i * 7) % 67}")
         for i in range(200)],
        "id: long, g: string, v: string")  # 'code' first appears here
    f1.coalesce(1).write.parquet(src + "/p1")
    f2.coalesce(1).write.parquet(src + "/p2")
    f2.coalesce(1).write.parquet(src + "/p3")  # replayed slice

    st = (
        spark.readStream.schema(f1.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    sink = _collect(
        spark,
        streaming.stream_kmv_by_group(st, "g", "v", k=k, hash_basis="md5"),
        "t_kmvg_multi", "update",
    )
    latest = (
        sink.withColumn(
            "__m", F.max("n_seen").over(Window.partitionBy("grp")))
        .filter(F.col("n_seen") == F.col("__m"))
    )
    rows = latest.collect()
    per_grp: dict = {}
    for r in rows:
        per_grp.setdefault(r["grp"], []).append((r["h"], r["item"]))
    assert set(per_grp) == {"web", "code"}
    assert all(len(v) <= k for v in per_grp.values())
    # n_seen counts ROWS incl. the replayed file: web 300+100+100,
    # code 100+100
    n_by_grp = {r["grp"]: r["n_seen"] for r in rows}
    assert n_by_grp == {"web": 500, "code": 200}

    batch = kmv_by_group(
        f1.unionByName(f2).select("g", "v"), "g", "v", k=k,
        hash_basis="md5")
    want: dict = {}
    for r in batch.collect():
        want.setdefault(r["grp"], []).append((r["h"], r["item"]))
    assert {g: sorted(v) for g, v in per_grp.items()} == \
           {g: sorted(v) for g, v in want.items()}

    # downstream composition: emissions ARE kmv_by_group relations
    latest_rel = spark.createDataFrame(rows, latest.schema) \
        .select("grp", "h", "item")
    est = {r["grp"]: r for r in kmv_ndv_by_group(
        latest_rel, k=k, hash_basis="md5").collect()}
    assert est["code"]["n_kept"] == k  # 67 distinct >> k=8: estimator
    merged = kmv_merge_by_group(latest_rel, latest_rel, k=k)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, latest_rel.collect()))  # idempotent set union

    import pytest

    with pytest.raises(ValueError, match="k must"):
        streaming.stream_kmv_by_group(st, "g", "v", k=1)


def test_stream_mg_by_group_single_batch_equals_batch(spark, tmp_path):
    """stream_frequent_items_by_group over a SINGLE-file source
    (availableNow → one micro-batch): the emission equals the batch
    mg_summary_by_group relation bit-for-bit for non-NULL groups (the
    streaming form drops NULL groups — documented divergence, asserted
    here), including the NULL-item accounting rows for all-trimmed
    (grp, shard) cells."""
    from hdk_spark.operators.sketches import mg_summary_by_group

    rows = [(i, None if i % 17 == 0 else f"g{i % 3}",
             f"item{(i * i) % 23}") for i in range(1500)]
    src = str(tmp_path / "mgg_single")
    spark.createDataFrame(rows, "id: long, g: string, v: string") \
        .coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    st = streaming.stream_parquet(spark, src, schema)
    kw = dict(k=4, n_shards=3, hash_basis="md5")
    got = _collect(
        spark,
        streaming.stream_frequent_items_by_group(st, "g", "v", **kw),
        "t_mgg_single", "update",
    )
    batch = mg_summary_by_group(spark.read.parquet(src), "g", "v", **kw)
    # NULL group dropped by the stream, kept by the batch form
    assert got.filter(F.col("grp").isNull()).count() == 0
    assert batch.filter(F.col("grp").isNull()).count() > 0
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch.filter(F.col("grp").isNotNull()).collect()))

    import pytest

    with pytest.raises(ValueError, match="k"):
        streaming.stream_frequent_items_by_group(st, "g", "v", k=0)
    with pytest.raises(ValueError, match="n_shards"):
        streaming.stream_frequent_items_by_group(
            st, "g", "v", k=4, n_shards=0)


def test_stream_mg_by_group_multibatch_invariants(spark, tmp_path):
    """Forced multi-batch run (3 files × maxFilesPerTrigger=1, one
    group first appearing in file 2): counter values are
    split-dependent but every (grp, shard) CELL keeps the MG
    guarantees of stream_frequent_items' sub-stream — per cell's
    LATEST emission: (a) ≤ k counters, (b) never over the true cell
    count, (c) undercount ≤ (n_shard − Σcnt)/(k+1), (d) every item
    with true cell count > n_shard/(k+1) survives, (e) Σ latest
    n_shard per group == that group's history rows; state is bounded
    at groups·n_shards·k."""
    import hashlib
    from collections import Counter

    from pyspark.sql.window import Window

    k, n_shards = 3, 2
    f1 = [("web", f"v{(i * 7) % 19}" if i % 4 else "heavy")
          for i in range(600)]
    f2 = [("web" if i % 2 else "code",
           f"w{(i * 11) % 23}" if i % 5 else "heavy")
          for i in range(400)]  # 'code' first appears here
    f3 = [("code", f"v{(i * 13) % 17}") for i in range(200)]
    src = str(tmp_path / "mgg_multi")
    os.makedirs(src)
    for j, part in enumerate([f1, f2, f3]):
        spark.createDataFrame(part, "g: string, v: string") \
            .coalesce(1).write.parquet(f"{src}/p{j}")
    schema = spark.read.option("recursiveFileLookup", "true") \
        .parquet(src).schema

    st = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    sink = _collect(
        spark,
        streaming.stream_frequent_items_by_group(
            st, "g", "v", k=k, n_shards=n_shards, hash_basis="md5"),
        "t_mgg_multi", "update",
    )
    latest = (
        sink.withColumn(
            "__m",
            F.max("n_shard").over(Window.partitionBy("grp", "shard")))
        .filter(F.col("n_shard") == F.col("__m"))
        .drop("__m")
    )
    got = latest.collect()

    def shard_of(v):
        return int(hashlib.md5(v.encode()).hexdigest()[:8], 16) % n_shards

    rows = f1 + f2 + f3
    true = Counter((g, shard_of(v), v) for g, v in rows)
    n_per_cell = Counter((g, shard_of(v)) for g, v in rows)
    by_cell: dict = {}
    for r in got:
        cell = (r["grp"], r["shard"])
        if r["item"] is not None:
            by_cell.setdefault(cell, {})[r["item"]] = r["cnt"]
        assert r["n_shard"] == n_per_cell[cell], cell
    assert {g for g, _ in by_cell} == {"web", "code"}
    # every group's cells account for its full history
    seen_cells = {(r["grp"], r["shard"]) for r in got}
    for g in ("web", "code"):
        assert sum(n_per_cell[c] for c in seen_cells if c[0] == g) == \
            sum(1 for gg, _ in rows if gg == g)
    for cell, counters in by_cell.items():
        g, s = cell
        assert len(counters) <= k
        err = (n_per_cell[cell] - sum(counters.values())) / (k + 1)
        for item, cnt in counters.items():
            assert cnt <= true[(g, s, item)], (cell, item)
            assert true[(g, s, item)] - cnt <= err + 1e-9, (cell, item)
        for (tg, ts, item), c in true.items():
            if (tg, ts) == cell and c > n_per_cell[cell] / (k + 1):
                assert item in counters, (cell, item, c)
    # 'heavy' clears its bound in web's cell (150+40 of web rows)
    assert "heavy" in by_cell[("web", shard_of("heavy"))]


def test_stream_mg_by_group_checkpoint_restart_transparent(
        spark, tmp_path):
    """Restart transparency for the per-group MG twin, the
    stream_frequent_items claim per (grp, shard): kill after batch 1 +
    restart is INDISTINGUISHABLE from one uninterrupted run over the
    same micro-batch splits — identical latest emissions per (grp,
    shard) row for row, including a group first seen post-restart."""
    from pyspark.sql.window import Window

    k, n_shards = 3, 2
    rows1 = [(i, "web", f"v{(i * 7) % 19}" if i % 4 else "heavy")
             for i in range(800)]
    rows2 = [(i, "web" if i % 2 else "code",
              f"w{(i * 11) % 23}" if i % 5 else "heavy")
             for i in range(400)]
    df1 = spark.createDataFrame(rows1, "id: long, g: string, v: string")
    df2 = spark.createDataFrame(rows2, "id: long, g: string, v: string")

    def build(base):
        src, cp, out = str(base / "src"), str(base / "cp"), str(base / "out")
        os.makedirs(src)
        df1.coalesce(1).write.parquet(src + "/p1")

        def stream():
            return (
                spark.readStream.schema(df1.schema)
                .option("maxFilesPerTrigger", 1)
                .option("recursiveFileLookup", "true")
                .parquet(src)
            )

        return src, cp, out, stream

    def mk(st):
        return streaming.stream_frequent_items_by_group(
            st, "g", "v", k=k, n_shards=n_shards, hash_basis="md5")

    # interrupted: batch 1, STOP, add p2, restart from the checkpoint
    srci, cpi, outi, stream_i = build(tmp_path / "interrupted")
    _run_checkpointed(mk(stream_i()), outi, cpi)
    df2.coalesce(1).write.parquet(srci + "/p2")
    _run_checkpointed(mk(stream_i()), outi, cpi)

    # uninterrupted reference: both files upfront, same 1-file batches
    srcu, cpu, outu, stream_u = build(tmp_path / "uninterrupted")
    df2.coalesce(1).write.parquet(srcu + "/p2")
    _run_checkpointed(mk(stream_u()), outu, cpu)

    def latest_rows(out_dir):
        w = Window.partitionBy("grp", "shard")
        return sorted(
            map(tuple, spark.read.parquet(out_dir)
                .withColumn("__m", F.max("n_shard").over(w))
                .filter(F.col("n_shard") == F.col("__m")).drop("__m")
                .collect()),
            key=lambda t: tuple(map(str, t)))

    got_i, got_u = latest_rows(outi), latest_rows(outu)
    assert got_i == got_u
    assert {t[0] for t in got_i} == {"web", "code"}  # post-restart group


def test_stream_dds_by_group_equals_batch(spark, tmp_path):
    """stream_dds_by_group over a FORCED 3-micro-batch run: complete-
    mode state equals dds_build_by_group of the full history
    BIT-FOR-BIT (linear counters — the per-batch update IS
    dds_merge_by_group, order never matters), INCLUDING the NULL
    group: unlike the stateful per-group twins this is a plain
    streaming aggregation, so SQL GROUP BY semantics carry through.
    Streamed buckets feed dds_quantile_by_group unchanged."""
    from hdk_spark.operators.sketches import (
        dds_build_by_group, dds_quantile_by_group,
    )

    src = str(tmp_path / "ddsg_src")
    os.makedirs(src)
    files = [
        [(i, "a" if i % 3 else None, float(i % 97) / 7.0 - 3.0)
         for i in range(400)],
        [(i, "b" if i % 2 else "a", float(i % 53) * 2.5)
         for i in range(300)],  # 'b' first appears here
        [(i, "b", 0.0 if i % 5 else -1e6) for i in range(100)],
    ]
    for j, rows in enumerate(files):
        spark.createDataFrame(rows, "id: long, g: string, x: double") \
            .coalesce(1).write.parquet(f"{src}/p{j}")
    schema = spark.read.option("recursiveFileLookup", "true") \
        .parquet(src).schema

    st = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    got = _collect(
        spark,
        streaming.stream_dds_by_group(st, "g", "x", m=32),
        "t_ddsg", "complete",
    )
    hist = spark.read.option("recursiveFileLookup", "true").parquet(src)
    batch = dds_build_by_group(hist, "g", "x", m=32)
    key = lambda t: tuple(map(str, t))  # noqa: E731 — NULL-safe sort
    assert sorted(map(tuple, got.collect()), key=key) == \
        sorted(map(tuple, batch.collect()), key=key)
    # the NULL group is present (kept per SQL GROUP BY)
    assert got.filter(F.col("grp").isNull()).count() > 0

    qs = [0.1, 0.5, 0.9]
    assert sorted(map(tuple, dds_quantile_by_group(
        got, qs, m=32).collect()), key=key) == \
        sorted(map(tuple, dds_quantile_by_group(
            batch, qs, m=32).collect()), key=key)


def test_stream_dds_by_group_checkpoint_restart_equals_batch(
        spark, tmp_path):
    """Restart pin for the per-group DDS twin: kill after batch 1,
    add a file, restart from the SAME checkpoint — the recovered
    aggregation state must carry every (grp, store, b, j) counter
    forward, so the latest emission per bucket (update mode emits
    only CHANGED buckets per batch; a bucket's last emission is its
    final value) equals dds_build_by_group of the full history
    bit-for-bit, including a group first seen post-restart and the
    NULL group."""
    from pyspark.sql.window import Window

    from hdk_spark.operators.sketches import dds_build_by_group

    src, cp = str(tmp_path / "ddsg_src"), str(tmp_path / "ddsg_cp")
    out = str(tmp_path / "ddsg_out")
    os.makedirs(src)
    f1 = spark.createDataFrame(
        [(i, "a" if i % 3 else None, float(i % 97) / 7.0 - 3.0)
         for i in range(400)],
        "id: long, g: string, x: double")
    f2 = spark.createDataFrame(
        [(i, "b" if i % 2 else "a", float(i % 53) * 2.5)
         for i in range(300)],
        "id: long, g: string, x: double")  # 'b' first seen POST-restart
    f1.coalesce(1).write.parquet(src + "/p1")

    def stream():
        return (
            spark.readStream.schema(f1.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    def sink_with_batch(stream_df):
        def sink(batch_df, batch_id):
            batch_df.withColumn("__b", F.lit(batch_id)).write.mode(
                "append").parquet(out)

        q = (
            stream_df.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        streaming.await_termination(q)

    sink_with_batch(streaming.stream_dds_by_group(stream(), "g", "x", m=32))
    f2.coalesce(1).write.parquet(src + "/p2")
    sink_with_batch(streaming.stream_dds_by_group(stream(), "g", "x", m=32))

    w = Window.partitionBy("grp", "store", "b", "j")
    latest = (
        spark.read.parquet(out)
        .withColumn("__m", F.max("__b").over(w))
        .filter(F.col("__b") == F.col("__m"))
        .select("grp", "store", "b", "j", "c")
    )
    batch = dds_build_by_group(
        f1.unionByName(f2).select("g", "x"), "g", "x", m=32)
    key = lambda t: tuple(map(str, t))  # noqa: E731 — NULL-safe sort
    assert sorted(map(tuple, latest.collect()), key=key) == \
        sorted(map(tuple, batch.collect()), key=key)
    got_groups = {r["grp"] for r in latest.select("grp").distinct().collect()}
    assert got_groups == {"a", "b", None}


def test_stream_cms_dds_global_checkpoint_restart_equals_batch(
        spark, tmp_path):
    """Restart pins for the GLOBAL linear-sketch twins (stream_cms /
    stream_dds). With these, the CMS-by-group pin, and the HLL pin
    below, EVERY streaming sketch twin in the module (KMV/MG/DDS/CMS
    global + by-group, HLL per-group — HLL's only twin) carries a
    kill-and-restart pin. Same law as the by-group pins: the
    recovered aggregation state carries every cell/bucket counter
    forward, so the latest per-cell emission (update mode) equals the
    batch sketch of the full history bit-for-bit — linear counters,
    exact equality."""
    from pyspark.sql.window import Window

    from hdk_spark.operators.sketches import cms_build, dds_build

    f1 = spark.createDataFrame(
        [(i, f"w{i % 23}", float(i % 97) / 7.0 - 3.0) for i in range(400)],
        "id: long, v: string, x: double")
    f2 = spark.createDataFrame(
        [(i, f"c{i % 11}", float(i % 53) * 2.5) for i in range(300)],
        "id: long, v: string, x: double")

    def pin(tag, make_stream, latest_keys, batch_df):
        src = str(tmp_path / f"{tag}_src")
        cp = str(tmp_path / f"{tag}_cp")
        out = str(tmp_path / f"{tag}_out")
        os.makedirs(src)
        f1.coalesce(1).write.parquet(src + "/p1")

        def stream():
            return (
                spark.readStream.schema(f1.schema)
                .option("maxFilesPerTrigger", 1)
                .option("recursiveFileLookup", "true")
                .parquet(src)
            )

        def run(stream_df):
            def sink(batch_df_, batch_id):
                batch_df_.withColumn("__b", F.lit(batch_id)).write.mode(
                    "append").parquet(out)

            q = (
                stream_df.writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            streaming.await_termination(q)

        run(make_stream(stream()))  # batch 1, then KILL
        f2.coalesce(1).write.parquet(src + "/p2")
        run(make_stream(stream()))  # restart: recovers state, reads p2

        w = Window.partitionBy(*latest_keys)
        latest = (
            spark.read.parquet(out)
            .withColumn("__m", F.max("__b").over(w))
            .filter(F.col("__b") == F.col("__m"))
            .drop("__b", "__m")
        )
        assert sorted(map(tuple, latest.collect())) == \
            sorted(map(tuple, batch_df.collect())), tag

    hist = f1.unionByName(f2)
    kw = dict(depth=3, width=32, seed=7)
    pin("cmsr",
        lambda st: streaming.stream_cms(st, "v", **kw),
        ("r", "b"), cms_build(hist, "v", **kw))
    pin("ddsr",
        lambda st: streaming.stream_dds(st.selectExpr("x"), "x", m=32),
        ("store", "b", "j"), dds_build(hist, "x", m=32))


def test_stream_ndv_rollup_checkpoint_restart_equals_batch(
        spark, tmp_path):
    """Restart pin for the HLL family (stream_ndv_rollup), the fifth
    and last: kill after batch 1, add a file, restart from the SAME
    checkpoint. Recovered per-group sketch state register-max-unions
    the post-restart rows, so the latest per-group emission's
    ndv_estimate equals the batch rollup of the full history exactly
    (estimates are deterministic for fixed registers — the existing
    equality law), and n_rows is exact: the file source's checkpoint
    processes each file once, so the additive counter sees no
    replays across a clean restart."""
    from pyspark.sql.window import Window

    from hdk_spark.operators.sketches import ndv_estimate, ndv_rollup

    src, cp = str(tmp_path / "hllr_src"), str(tmp_path / "hllr_cp")
    out = str(tmp_path / "hllr_out")
    os.makedirs(src)
    f1 = spark.createDataFrame(
        [(i, "web" if i % 3 else None, f"u{i % 61}") for i in range(400)],
        "id: long, g: string, v: string")
    f2 = spark.createDataFrame(
        [(i, "code" if i % 2 else "web", f"x{i % 37}")
         for i in range(300)],
        "id: long, g: string, v: string")  # 'code' first seen POST-restart
    f1.coalesce(1).write.parquet(src + "/p1")

    def stream():
        return (
            spark.readStream.schema(f1.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    def run():
        def sink(batch_df, batch_id):
            batch_df.withColumn("__b", F.lit(batch_id)).write.mode(
                "append").parquet(out)

        q = (
            streaming.stream_ndv_rollup(stream(), "g", "v", lgk=12)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        streaming.await_termination(q)

    run()  # batch 1, then KILL
    f2.coalesce(1).write.parquet(src + "/p2")
    run()  # restart: recovers per-group sketches, reads ONLY p2

    w = Window.partitionBy("grp")
    latest = (
        spark.read.parquet(out)
        .withColumn("__m", F.max("__b").over(w))
        .filter(F.col("__b") == F.col("__m"))
        .drop("__b", "__m")
    )
    got = ndv_estimate(latest)
    batch = ndv_estimate(ndv_rollup(f1.unionByName(f2), "g", "v", lgk=12))
    key = lambda t: tuple(map(str, t))  # noqa: E731 — NULL-safe sort
    assert sorted(map(tuple, got.collect()), key=key) == \
        sorted(map(tuple, batch.collect()), key=key)
    groups = {r["grp"] for r in latest.select("grp").distinct().collect()}
    assert groups == {"web", "code", None}


def test_stream_cms_by_group_checkpoint_restart_equals_batch(
        spark, tmp_path):
    """Restart pin for the per-group CMS twin — the last mergeable
    family member without one (KMV/MG/DDS global + by-group all have
    theirs): kill after batch 1, add a file, restart from the SAME
    checkpoint. The recovered aggregation state must carry every
    (grp, r, b) cell forward, so the latest emission per cell (update
    mode emits only CHANGED cells per batch; a cell's last emission
    is its final count) equals cms_build_by_group of the full history
    bit-for-bit — linear counters, so batch equality is exact —
    including a group first seen post-restart and the NULL group."""
    from pyspark.sql.window import Window

    from hdk_spark.operators.sketches import cms_build_by_group

    kw = dict(depth=3, width=64, seed=11, hash_basis="md5")
    src, cp = str(tmp_path / "cmsgr_src"), str(tmp_path / "cmsgr_cp")
    out = str(tmp_path / "cmsgr_out")
    os.makedirs(src)
    f1 = spark.createDataFrame(
        [(i, "web" if i % 3 else None, f"w{i % 40}") for i in range(400)],
        "id: long, g: string, v: string")
    f2 = spark.createDataFrame(
        [(i, "code" if i % 2 else "web", f"c{i % 17}")
         for i in range(300)],
        "id: long, g: string, v: string")  # 'code' first seen POST-restart
    f1.coalesce(1).write.parquet(src + "/p1")

    def stream():
        return (
            spark.readStream.schema(f1.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    def sink_with_batch(stream_df):
        def sink(batch_df, batch_id):
            batch_df.withColumn("__b", F.lit(batch_id)).write.mode(
                "append").parquet(out)

        q = (
            stream_df.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        streaming.await_termination(q)

    sink_with_batch(streaming.stream_cms_by_group(stream(), "g", "v", **kw))
    f2.coalesce(1).write.parquet(src + "/p2")
    sink_with_batch(streaming.stream_cms_by_group(stream(), "g", "v", **kw))

    w = Window.partitionBy("grp", "r", "b")
    latest = (
        spark.read.parquet(out)
        .withColumn("__m", F.max("__b").over(w))
        .filter(F.col("__b") == F.col("__m"))
        .select("grp", "r", "b", "c")
    )
    batch = cms_build_by_group(
        f1.unionByName(f2).select("g", "v"), "g", "v", **kw)
    key = lambda t: tuple(map(str, t))  # noqa: E731 — NULL-safe sort
    assert sorted(map(tuple, latest.collect()), key=key) == \
        sorted(map(tuple, batch.collect()), key=key)
    got_groups = {r["grp"] for r in latest.select("grp").distinct().collect()}
    assert got_groups == {"web", "code", None}


def test_stream_cms_by_group_equals_batch(spark, tmp_path):
    """stream_cms_by_group over a FORCED 3-micro-batch run: complete-
    mode state equals cms_build_by_group of the full history
    BIT-FOR-BIT (linear cells — per-batch update IS
    cms_merge_by_group), INCLUDING the NULL group (plain streaming
    aggregation, SQL GROUP BY carries through). Streamed cells feed
    cms_query_by_group unchanged, never under each group's true
    count."""
    from hdk_spark.operators.sketches import (
        cms_build_by_group, cms_query_by_group,
    )

    kw = dict(depth=3, width=64, seed=11, hash_basis="md5")
    src = str(tmp_path / "cmsg_src")
    os.makedirs(src)
    files = [
        [(i, "web" if i % 3 else None, f"w{i % 40}") for i in range(400)],
        [(i, "code" if i % 2 else "web", f"c{i % 17}")
         for i in range(300)],  # 'code' first appears here
        [(i, "code", "hot") for i in range(100)],
    ]
    for j, rows in enumerate(files):
        spark.createDataFrame(rows, "id: long, g: string, v: string") \
            .coalesce(1).write.parquet(f"{src}/p{j}")
    schema = spark.read.option("recursiveFileLookup", "true") \
        .parquet(src).schema

    st = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    got = _collect(
        spark,
        streaming.stream_cms_by_group(st, "g", "v", **kw),
        "t_cmsg", "complete",
    )
    hist = spark.read.option("recursiveFileLookup", "true").parquet(src)
    batch = cms_build_by_group(hist, "g", "v", **kw)
    key = lambda t: tuple(map(str, t))  # noqa: E731 — NULL-safe sort
    assert sorted(map(tuple, got.collect()), key=key) == \
        sorted(map(tuple, batch.collect()), key=key)
    assert got.filter(F.col("grp").isNull()).count() > 0

    est = {(r["grp"], r["item"]): r["est"] for r in cms_query_by_group(
        got, ["hot", "w0", "c5"], **kw).collect()}
    assert est[("code", "hot")] >= 100  # never under the true count
    assert est[(None, "w0")] >= 1


_CPM = "spark.sql.streaming.checkpointFileManagerClass"
_FC_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
               "FileContextBasedCheckpointFileManager")


def _start_with_manager(spark, manager, start):
    """Run ``start()`` with the checkpoint manager set to ``manager``
    (None: the session's), then restore the session's value. The key
    is a runtime SQL conf; the query reads it when it starts."""
    prev = spark.conf.get(_CPM, None)
    if manager is not None:
        spark.conf.set(_CPM, manager)
    try:
        return start()
    finally:
        if prev is None:
            spark.conf.unset(_CPM)
        else:
            spark.conf.set(_CPM, prev)


@pytest.mark.parametrize("first,second", [
    (_FC_MANAGER, None), (None, _FC_MANAGER),
], ids=["filecontext_then_session", "session_then_filecontext"])
def test_checkpoint_restarts_across_checkpoint_managers(
        spark, tmp_path, first, second):
    """A get_spark session writes checkpoints through FileSystem, not
    Spark's default FileContext manager. The files are the same, so a
    stateful stream restarts from a checkpoint the other manager wrote,
    in either direction, and its latest cells equal the batch twin."""
    from pyspark.sql.window import Window

    from hdk_spark.operators.sketches import cms_build_by_group

    assert spark.conf.get(_CPM).endswith(
        ".checkpointing.FileSystemBasedCheckpointFileManager")
    kw = dict(depth=3, width=32, seed=5, hash_basis="md5")
    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    out = str(tmp_path / "out")
    os.makedirs(src)
    f1 = spark.createDataFrame(
        [(i, "a" if i % 3 else "b", f"x{i % 23}") for i in range(300)],
        "id: long, g: string, v: string")
    f2 = spark.createDataFrame(
        [(i, "c" if i % 2 else "a", f"y{i % 11}") for i in range(200)],
        "id: long, g: string, v: string")
    f1.coalesce(1).write.parquet(src + "/p1")

    def run(manager):
        def sink(batch_df, batch_id):
            batch_df.withColumn("__b", F.lit(batch_id)).write.mode(
                "append").parquet(out)

        st = (spark.readStream.schema(f1.schema)
              .option("maxFilesPerTrigger", 1)
              .option("recursiveFileLookup", "true").parquet(src))
        q = _start_with_manager(spark, manager, lambda: (
            streaming.stream_cms_by_group(st, "g", "v", **kw)
            .writeStream.foreachBatch(sink).outputMode("update")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True).start()))
        streaming.await_termination(q)

    run(first)
    f2.coalesce(1).write.parquet(src + "/p2")
    run(second)  # restart: recovers state, reads only p2

    w = Window.partitionBy("grp", "r", "b")
    latest = (
        spark.read.parquet(out)
        .withColumn("__m", F.max("__b").over(w))
        .filter(F.col("__b") == F.col("__m"))
        .select("grp", "r", "b", "c")
    )
    batch = cms_build_by_group(
        f1.unionByName(f2).select("g", "v"), "g", "v", **kw)
    assert sorted(map(tuple, latest.collect())) == \
        sorted(map(tuple, batch.collect()))
    assert spark.read.parquet(out).agg(F.max("__b")).first()[0] == 1


def test_checkpoint_state_versions_keep_both_checksums(spark, tmp_path):
    """After two micro-batches under the session's checkpoint manager,
    every state-store version has Spark's checksum file
    (``<v>.delta.crc``) and Hadoop's checksum sidecar
    (``.<v>.delta.crc``)."""
    src, cp = str(tmp_path / "src"), str(tmp_path / "cp")
    part = spark.range(40).selectExpr("id", "CAST(id % 5 AS STRING) AS g")
    for name in ("p1", "p2"):
        part.coalesce(1).write.parquet(f"{src}/{name}")
    st = (spark.readStream.schema(part.schema)
          .option("maxFilesPerTrigger", 1)
          .option("recursiveFileLookup", "true").parquet(src))
    q = (st.groupBy("g").count()
         .writeStream.format("memory").queryName("t_checksums")
         .outputMode("complete").option("checkpointLocation", cp)
         .trigger(availableNow=True).start())
    streaming.await_termination(q)
    stores = [os.path.join(dp, "") for dp, _dirs, files in
              os.walk(os.path.join(cp, "state"))
              if any(f.endswith(".delta") for f in files)]
    assert stores
    for store in stores:
        files = set(os.listdir(store))
        versions = {f[:-len(".delta")] for f in files if f.endswith(".delta")}
        assert len(versions) >= 2, (store, sorted(files))
        for v in versions:
            assert f"{v}.delta.crc" in files, (store, v, sorted(files))
            assert f".{v}.delta.crc" in files, (store, v, sorted(files))


def test_second_start_on_active_checkpoint_never_runs_alongside(
        spark, tmp_path):
    """Under the FileSystem checkpoint manager a query started on a
    checkpoint another active query holds still never runs beside it:
    Spark's active-run check refuses it when
    ``stopActiveRunOnRestart`` is off, and stops the old run first
    when it is on (the default)."""
    cp = str(tmp_path / "cp")
    rate = spark.readStream.format("rate").option("rowsPerSecond", 1).load()

    def start():
        return (rate.writeStream.format("noop")
                .option("checkpointLocation", cp)
                .trigger(processingTime="10 seconds").start())

    key = "spark.sql.streaming.stopActiveRunOnRestart"
    q1 = start()
    q2 = None
    try:
        spark.conf.set(key, "false")
        with pytest.raises(Exception, match="already active"):
            q2 = start()
        spark.conf.unset(key)
        q2 = start()
        assert q2.isActive and not q1.isActive
    finally:
        spark.conf.unset(key)
        q1.stop()
        if q2 is not None:
            q2.stop()
