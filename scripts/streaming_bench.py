"""Streaming throughput evidence (round 6): drive the two stateless
stream-static operators from a rate-limited source and report
processedRowsPerSecond + state-store row counts from the engine's own
StreamingQueryProgress. Results -> SCALE.md.

Usage: python scripts/streaming_bench.py [--rate N] [--secs S]

Documents are synthesized JVM-side from the rate source's `value`
(50 deterministic pseudo-tokens per row) so the source is rate-bound,
not Python-bound; the static sides (corpus band signatures / window
frequency relation) are built once from the x10 synthetic corpus the
scale smoke uses (/tmp/sf1_synth, generated or refreshed through
scale_smoke.ensure_corpus and its manifest check) and persisted.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.scale_smoke import DST, ensure_corpus  # noqa: E402


def synth_docs(stream):
    from pyspark.sql import functions as F

    text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(49)),
            lambda i: F.concat(
                F.lit("w"),
                F.pmod(F.col("value") * 31 + i * 7, F.lit(997)).cast("string"),
            ),
        ),
        " ",
    )
    return stream.select(F.col("value").alias("doc_id"), text.alias("text"))


def drive(q, secs: float):
    time.sleep(secs)
    prog = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    # skip the warm-up batch (plan compile); report steady state
    rates = [
        p["processedRowsPerSecond"]
        for p in prog
        if p.get("numInputRows", 0) > 0 and "processedRowsPerSecond" in p
    ]
    state_rows = max(
        (
            s.get("numRowsTotal", 0)
            for p in prog
            for s in p.get("stateOperators", [])
        ),
        default=0,
    )
    n_state_ops = max((len(p.get("stateOperators", [])) for p in prog),
                     default=0)
    steady = sorted(rates)[len(rates) // 2] if rates else 0.0
    return {
        "batches": len([p for p in prog if p.get("numInputRows", 0) > 0]),
        "median_rows_per_sec": round(steady, 1),
        "max_rows_per_sec": round(max(rates), 1) if rates else 0.0,
        "state_operators": n_state_ops,
        "state_rows_total": state_rows,
    }


def main() -> None:
    from pyspark.sql import functions as F

    from hdk_spark import streaming
    from hdk_spark.operators.dedup import (
        minhash_signatures,
        window_freq_relation,
    )
    from hdk_spark.session import get_spark

    rate = 5000
    secs = 40.0
    if "--rate" in sys.argv:
        rate = int(sys.argv[sys.argv.index("--rate") + 1])
    if "--secs" in sys.argv:
        secs = float(sys.argv[sys.argv.index("--secs") + 1])

    spark = get_spark("streaming_bench")
    # the sketch modes (--sketch/--dds/--mg/--kmv) are rate-source
    # driven and never touch the synthetic corpus; only the default
    # stream-static modes need DST (made or refreshed below)

    if "--sketch" in sys.argv:
        # round-10 bounded-state sketch pair: the state-row counts
        # reported by StreamingQueryProgress ARE the bounded-state
        # claim — cms state <= depth*width cells and ndv state ==
        # group count, no matter how many rows stream past.
        src = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rate * 8)
            .option("numPartitions", 4)
            .load()
        )
        items = src.select(
            F.concat(
                F.lit("w"), F.pmod(F.col("value"), F.lit(99_991))
                .cast("string")
            ).alias("v")
        )
        out = streaming.stream_cms(items, "v", depth=4, width=1024)
        q = (
            out.writeStream.format("noop").outputMode("update")
            .option("checkpointLocation",
                    f"/tmp/stream_bench_ckpt_cms_{time.time_ns()}")
            .start()
        )
        r = drive(q, secs)
        print("stream_cms:", json.dumps(r))
        assert r["state_rows_total"] <= 4 * 1024, r

        src2 = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rate * 8)
            .option("numPartitions", 4)
            .load()
        )
        grouped = src2.select(
            F.pmod(F.col("value"), F.lit(64)).alias("g"),
            F.pmod(F.col("value") * 7919, F.lit(1_000_003)).alias("x"),
        )
        out2 = streaming.stream_ndv_rollup(grouped, "g", "x")
        q2 = (
            out2.writeStream.format("noop").outputMode("update")
            .option("checkpointLocation",
                    f"/tmp/stream_bench_ckpt_ndv_{time.time_ns()}")
            .start()
        )
        r2 = drive(q2, secs)
        print("stream_ndv_rollup:", json.dumps(r2))
        assert r2["state_rows_total"] <= 64, r2
        return

    if "--dds" in sys.argv:
        # round-11 streaming DDSketch: heavy-tailed doubles at high
        # rate — state rows ARE the bucket count, bounded by the
        # value-RANGE (stores*binades*m), not by volume; vs a
        # streaming exact quantile that must hold every row.
        src = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rate * 8)
            .option("numPartitions", 4)
            .load()
        )
        xs = src.select(
            (F.exp(F.pmod(F.hash("value"), F.lit(12_000)).cast("double")
                   / F.lit(1000.0))
             * (F.lit(1.0)
                + F.pmod(F.hash("value", F.lit(3)), F.lit(997))
                .cast("double") / F.lit(997.0))).alias("x")
        )
        out = streaming.stream_dds(xs, "x", m=64)
        q = (
            out.writeStream.format("noop").outputMode("update")
            .option("checkpointLocation",
                    f"/tmp/stream_bench_ckpt_dds_{time.time_ns()}")
            .start()
        )
        r = drive(q, secs)
        print("stream_dds:", json.dumps(r))
        # positive store only: binades of exp([0,12)) ~ 18, x64 cells
        assert r["state_rows_total"] <= 20 * 64, r
        return

    if "--mg" in sys.argv:
        # round-11 Misra-Gries heavy-hitter state: one state row per
        # SHARD (each holding <= k counters), no matter how many
        # distinct items stream past — the skewed item column has a
        # planted hot third + ~100k-distinct tail.
        src = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rate * 8)
            .option("numPartitions", 4)
            .load()
        )
        items = src.select(
            F.when(F.col("value") % 3 == 0, F.lit("hot"))
            .otherwise(
                F.concat(
                    F.lit("w"),
                    F.pmod(F.col("value"), F.lit(99_991)).cast("string"),
                )
            )
            .alias("v")
        )
        out = streaming.stream_frequent_items(
            items, "v", k=64, n_shards=8)
        q = (
            out.writeStream.format("noop").outputMode("update")
            .option("checkpointLocation",
                    f"/tmp/stream_bench_ckpt_mg_{time.time_ns()}")
            .start()
        )
        r = drive(q, secs)
        print("stream_frequent_items:", json.dumps(r))
        assert r["state_rows_total"] <= 8, r
        return

    if "--kmv" in sys.argv:
        # round-11 streaming KMV bottom-k: one state row per SHARD
        # (each holding <= k (h, item) pairs) against a ~1M-distinct
        # item stream — the bounded-state distinct SAMPLE, where a
        # streaming dropDuplicates would hold every key ever seen.
        src = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rate * 8)
            .option("numPartitions", 4)
            .load()
        )
        items = src.select(
            F.concat(
                F.lit("w"),
                F.pmod(F.col("value"), F.lit(999_983)).cast("string"),
            ).alias("v")
        )
        out = streaming.stream_kmv(items, "v", k=256, n_shards=8)
        q = (
            out.writeStream.format("noop").outputMode("update")
            .option("checkpointLocation",
                    f"/tmp/stream_bench_ckpt_kmv_{time.time_ns()}")
            .start()
        )
        r = drive(q, secs)
        print("stream_kmv:", json.dumps(r))
        assert r["state_rows_total"] <= 8, r
        return

    # a regenerated corpus invalidates the derived static sides too
    fresh = ensure_corpus(spark, DST, "sf1-keyshift-x10")
    docs = spark.read.parquet(os.path.join(DST, "documents.parquet"))
    print("corpus docs:", docs.count())

    sig_path = "/tmp/stream_bench_sigs.parquet"
    if fresh or not os.path.exists(sig_path):
        minhash_signatures(docs).write.mode("overwrite").parquet(sig_path)
    corpus_sig = spark.read.parquet(sig_path)
    print("corpus signatures:", corpus_sig.count())

    freq_path = "/tmp/stream_bench_wfreq.parquet"
    if fresh or not os.path.exists(freq_path):
        window_freq_relation(docs, n=4).filter(F.col("wc") >= 2).write.mode(
            "overwrite"
        ).parquet(freq_path)
    wfreq = spark.read.parquet(freq_path)
    print("window-freq rows (wc>=2):", wfreq.count())

    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .option("numPartitions", 4)
        .load()
    )
    stream_docs = synth_docs(src)

    out = streaming.stream_minhash_dedup(stream_docs, corpus_sig)
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", f"/tmp/stream_bench_ckpt_mh_{time.time_ns()}")
        .start()
    )
    r = drive(q, secs)
    print("stream_minhash_dedup:", json.dumps(r))

    src2 = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate * 4)
        .option("numPartitions", 4)
        .load()
    )
    out2 = streaming.stream_span_flags(synth_docs(src2), wfreq, n=4)
    q2 = (
        out2.writeStream.format("noop")
        .option("checkpointLocation", f"/tmp/stream_bench_ckpt_sp_{time.time_ns()}")
        .start()
    )
    r2 = drive(q2, secs)
    print("stream_span_flags:", json.dumps(r2))

    # --- streaming crawl ingest (round 8): rate rows -> synthesized
    # WARC bytes (Python, like the parse side — the measurement is
    # ingest-shaped end to end) -> full stateless front-end ---
    import pandas as pd
    from pyspark.sql import types as T

    from hdk_spark.operators.web import parse_robots, robots_rules_compact
    from hdk_spark.session import ensure_shipped

    ensure_shipped(spark)

    def synth_warcs(stream):
        def mk(batches):
            from hdk_spark.operators.warc import build_warc

            for pdf in batches:
                blobs = []
                for v in pdf["value"]:
                    v = int(v)
                    text = " ".join(
                        f"w{(v * 31 + i * 7) % 997}" for i in range(50)
                    )
                    html = (
                        f"<html><head><title>D{v}</title></head>"
                        f"<body><p>{text}</p></body></html>"
                    ).encode()
                    http = (
                        b"HTTP/1.1 200 OK\r\nContent-Type: text/html"
                        b"\r\n\r\n" + html
                    )
                    blobs.append(
                        build_warc([
                            {
                                "warc_type": "response",
                                "target_uri":
                                    f"https://site{v % 1000}.com"
                                    f"/p/{v % 20000}",
                                "payload": http,
                                "content_type":
                                    "application/http;msgtype=response",
                            }
                        ])
                    )
                yield pd.DataFrame(
                    {"warc_id": pdf["value"], "data": blobs}
                )

        return stream.select("value").mapInPandas(
            mk,
            T.StructType([
                T.StructField("warc_id", T.LongType()),
                T.StructField("data", T.BinaryType()),
            ]),
        )

    robots = spark.range(1000).select(
        F.concat(F.lit("site"), F.col("id").cast("string"),
                 F.lit(".com")).alias("reg_domain"),
        F.when(F.col("id") % 2 == 0,
               F.lit("User-agent: *\nDisallow: /x\n"))
        .otherwise(F.lit("User-agent: *\nDisallow: /private\n"))
        .alias("robots_txt"),
    )
    compact = robots_rules_compact(parse_robots(robots)).persist()
    compact.count()

    src3 = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .option("numPartitions", 4)
        .load()
    )
    out3 = streaming.stream_crawl_ingest(synth_warcs(src3), compact)
    q3 = (
        out3.writeStream.format("noop")
        .option(
            "checkpointLocation",
            f"/tmp/stream_bench_ckpt_cr_{time.time_ns()}",
        )
        .start()
    )
    r3 = drive(q3, secs)
    print("stream_crawl_ingest (26-lang):", json.dumps(r3))


if __name__ == "__main__":
    main()
