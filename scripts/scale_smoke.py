"""Scale probes over synthetic corpora: named shapes, one corpus
generator. Results -> SCALE.md.

Usage: python scripts/scale_smoke.py [--cc100 | --r15spill | --list]

Shapes:
  headline    (default) the headline queries and operators on a 10x
              key-shifted replica of sf0.1 (/tmp/sf1_synth), best-of-2.
  --cc100     connected components over ~25M planted clique-chain
              edges (no corpus): component count checked exactly,
              rounds and wall printed.
  --r15spill  100x replicas of the sf0.1 documents (/tmp/sf10_docs_synth)
              through the staged dedup / web shapes: wall, spill and
              peak execution memory per shape.

Both corpora come from ensure_corpus(), which writes MANIFEST.json
(source path, recipe tag, row count per table) next to the tables and
regenerates whenever the manifest does not match the recipe or the
files on disk. Spill and peak memory come from the in-process status
store (no UI needed); each shape prints the stages it fetched against
the stages its jobs ran, so a stage evicted from the store shows.

The per-round probes (--r6 through --r14a) were retired; their
numbers are in SCALE.md and their code in
``git show 75897da:scripts/scale_smoke.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHAPES = {
    "headline": "default: 10x sf0.1 replica, headline queries and operators",
    "--cc100": "x100-edge connected-components stress",
    "--r15spill": "100x document replicas: spill and peak memory per shape",
}

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sf1_synth"
DOCS100 = "/tmp/sf10_docs_synth"

KEYED = {
    "lineitem": {"l_orderkey": 10_000_000, "l_partkey": 1_000_000,
                 "l_suppkey": 100_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "customer": {"c_custkey": 1_000_000},
    "supplier": {"s_suppkey": 100_000},
    "part": {"p_partkey": 1_000_000},
    "events": {"event_id": 100_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
}
# (copies, shifted tables, tables copied once, retag every token)
RECIPES = {
    "sf1-keyshift-x10": (10, KEYED, ("nation", "region"), False),
    "docs-keyshift-retag-x100": (
        100, {"documents": KEYED["documents"]}, (), True),
}


def ensure_corpus(spark, dst: str, recipe: str, src: str = SRC) -> bool:
    """Make ``dst`` hold ``recipe``'s replica of ``src``; True when it
    (re)generated. Each key column is shifted by copy x stride so the
    copies stay key-disjoint. A retag recipe also appends the copy
    number to every text token, so every shingle is copy-disjoint and
    near-duplicate groups grow in number, not in size (a trailing-only
    tag shares mid-text shingles across all copies, and the n-gram
    pair join then emits pairs quadratically)."""
    from pyspark.sql import functions as F

    copies, shifts, once, retag = RECIPES[recipe]
    tables = [*shifts, *once]
    path = {t: os.path.join(dst, f"{t}.parquet") for t in tables}
    manifest = os.path.join(dst, "MANIFEST.json")
    try:
        with open(manifest) as fh:
            have = json.load(fh)
        if (have["source"], have["recipe"]) == (src, recipe) and have[
                "rows"] == {t: spark.read.parquet(path[t]).count()
                            for t in tables}:
            return False
    except Exception:  # noqa: BLE001 - missing or unreadable: regenerate
        pass
    for t in tables:
        base = spark.read.parquet(os.path.join(src, f"{t}.parquet"))
        parts = []
        for i in range(copies if t in shifts else 1):
            c = base
            for col, stride in shifts.get(t, {}).items():
                c = c.withColumn(col, F.col(col) + F.lit(i * stride))
            if retag and "text" in c.columns:
                c = c.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"$1r{i}"))
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(path[t])
    rows = {t: spark.read.parquet(path[t]).count() for t in tables}
    with open(manifest, "w") as fh:
        json.dump({"source": src, "recipe": recipe, "rows": rows}, fh,
                  indent=1, sort_keys=True)
    print("regenerated", dst, rows)
    return True


def best(make, n=2):
    b = 1e9
    for _ in range(n):
        t0 = time.perf_counter()
        make().write.format("noop").mode("overwrite").save()
        b = min(b, time.perf_counter() - t0)
    return round(b, 2)


def stage_memory(spark, group: str) -> dict:
    """Spill and peak execution memory of the jobs run under ``group``,
    from the in-process status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    expected = sorted({s for info in jobs if info for s in info.stageIds})
    out = dict.fromkeys(("fetched", "spill_mem", "spill_disk", "peak"), 0)
    no_status = sc._jvm.java.util.ArrayList()
    no_q = sc._gateway.new_array(sc._jvm.double, 0)
    for sid in expected:
        try:
            attempts = store.stageData(sid, False, no_status, False, no_q)
        except Exception:  # noqa: BLE001 - evicted: not fetched
            continue
        if attempts.size() == 0:
            continue
        st = attempts.apply(attempts.size() - 1)
        out["fetched"] += 1
        out["spill_mem"] += st.memoryBytesSpilled()
        out["spill_disk"] += st.diskBytesSpilled()
        out["peak"] = max(out["peak"], st.peakExecutionMemory())
    out["expected"] = len(expected)
    return out


def cc_stress_100x(spark) -> None:
    """×100-edge connected-components stress: ~25M edges of planted
    clique chains (the dedup-graph topology at scale — clone cliques
    bridged into chains). Verifies component count exactly, reports
    round count (the O(log diameter) claim) and wall time.

    Topology: 550k cliques of 10 nodes (45 edges each), bridged into
    chains of 16 cliques → diameter ≈ 32, 34 375 expected components,
    25.3M directed edges before the undirect+distinct."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.graph import connected_components

    G = 10          # clique size
    CHAIN = 16      # cliques per chain
    n_groups = 550_000
    n_chains = n_groups // CHAIN
    pairs = F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
            for i in range(G)
            for j in range(i + 1, G)
        ]
    )
    groups = spark.range(n_groups).withColumnRenamed("id", "g")
    clique_edges = groups.select(
        "g", F.explode(pairs).alias("p")
    ).select(
        (F.col("g") * G + F.col("p.i")).alias("id_a"),
        (F.col("g") * G + F.col("p.j")).alias("id_b"),
    )
    bridge_edges = groups.filter(
        (F.col("g") % CHAIN) != (CHAIN - 1)
    ).select(
        (F.col("g") * G).alias("id_a"),
        ((F.col("g") + 1) * G).alias("id_b"),
    )
    edges = clique_edges.unionByName(bridge_edges)
    n_edges = edges.count()
    t0 = time.perf_counter()
    stats: dict = {}
    labels = connected_components(edges, stats=stats).persist()
    n_comp = labels.select("comp").distinct().count()
    n_nodes = labels.count()
    wall = round(time.perf_counter() - t0, 2)
    ok = n_comp == n_chains and n_nodes == n_groups * G
    print(
        f"cc_100x: edges={n_edges} nodes={n_nodes} components={n_comp} "
        f"(expected {n_chains}, correct={ok}) rounds={stats['rounds']} "
        f"wall={wall}s"
    )
    labels.unpersist()


def spill_probe(spark) -> None:
    """The staged dedup / web operators at 100x the bench corpus: do
    they still run with zero (or documented) spill?"""
    from pyspark.sql import functions as F

    from hdk_spark.operators.dedup import minhash_lsh_dedup, ngram_jaccard_pairs
    from hdk_spark.operators.web import link_graph, politeness_schedule, url_dedup

    ensure_corpus(spark, DOCS100, "docs-keyshift-retag-x100")
    docs = spark.read.parquet(os.path.join(DOCS100, "documents.parquet"))
    print("docs:", docs.count())
    d = F.col("doc_id")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://sub"), (d % 50).cast("string"),
            F.lit(".site"), (d % 700).cast("string"),
            F.lit(".com/p"), d.cast("string"),
            F.when(d % 2 == 0, F.lit("?utm_source=x&id=1"))
            .otherwise(F.lit("/")),
        ).alias("url"),
    )
    n_dom = 20_000
    a = F.concat(F.lit("site"), ((d * 2 + 1) % n_dom).cast("string"),
                 F.lit(".com"))
    b = F.concat(F.lit("site"), ((d * 3 + 2) % n_dom).cast("string"),
                 F.lit(".com"))
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("http://site"), (d % n_dom).cast("string"),
                 F.lit(".com/p/"), d.cast("string")).alias("url"),
        F.concat(
            F.lit('<html><body><a href="http://'), a,
            F.lit('/x">1</a><a href="https://'), b, F.lit('/y">2</a>'),
            F.lit("</body></html>"),
        ).alias("html"),
    )
    shapes = {
        "dedup_ngram_jaccard_pairs_n3": lambda: ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5),
        "dedup_minhash_lsh": lambda: minhash_lsh_dedup(docs, threshold=0.5),
        "web_url_dedup": lambda: url_dedup(urls),
        "web_politeness_schedule": lambda: politeness_schedule(urls),
        "web_link_graph": lambda: link_graph(pages),
    }
    sc = spark.sparkContext
    for name, mk in shapes.items():
        group = f"scale_smoke_{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        mk().write.format("noop").mode("overwrite").save()
        wall = round(time.perf_counter() - t0, 2)
        sc.setLocalProperty("spark.jobGroup.id", None)
        m = stage_memory(spark, group)
        print(f"{name}: wall={wall}s stages={m['fetched']}/{m['expected']} "
              f"spill_mem={m['spill_mem'] / 2**20:.0f}MiB "
              f"spill_disk={m['spill_disk'] / 2**20:.0f}MiB "
              f"peak_exec_mem_per_stage={m['peak'] / 2**20:.0f}MiB")


def headline(spark) -> None:
    """The default shape on the 10x replica."""
    from pyspark.sql import functions as F

    from __spark_entry__ import load_tables

    ensure_corpus(spark, DST, "sf1-keyshift-x10")
    load_tables(spark, DST)

    Q5 = """SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey ORDER BY revenue DESC LIMIT 10"""
    print("rows:", {t: spark.table(t).count() for t in ("lineitem", "orders", "events", "documents")})
    print("q1_groupby_count:", best(lambda: spark.sql(
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag")))
    print("q5_join_heavy:", best(lambda: spark.sql(Q5)))
    print("q6_window:", best(lambda: spark.sql(
        "SELECT user_id, event_id, SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS r FROM events")))

    from hdk_spark.operators.dedup import minhash_lsh_dedup

    print("q7_minhash_dedup:", best(lambda: minhash_lsh_dedup(
        spark.table("documents"), threshold=0.5)))

    from hdk_spark.operators.similarity import ann_lsh_topk

    print("q9_ann_topk:", best(lambda: ann_lsh_topk(
        spark.table("embeddings"), [0, 1, 2, 3, 4], k=10)))

    # duplicate clustering: CC over the (quarter-million-edge) near-dup
    # graph the 90%-clone corpus produces — the iterative operator's
    # 10× stress
    from hdk_spark.operators.graph import duplicate_clusters

    t0 = time.perf_counter()
    pairs = minhash_lsh_dedup(spark.table("documents"), threshold=0.5)
    n_clusters = (
        duplicate_clusters(pairs).select("cluster_id").distinct().count()
    )
    print("cc_dedup_clusters:", round(time.perf_counter() - t0, 2),
          "s, clusters:", n_clusters)

    from hdk_spark.operators.text import top_terms

    print("vocab_top_terms:", best(lambda: top_terms(
        spark.table("documents"), k=100)))

    # round-3 operators at 10×
    from hdk_spark.operators.text import source_kl_divergence, unigram_logprob

    print("unigram_logprob:", best(lambda: unigram_logprob(
        spark.table("documents"))))
    print("source_kl:", best(lambda: source_kl_divergence(
        spark.table("documents"))))

    from hdk_spark.operators.stats import embedding_covariance

    print("embedding_covariance_d16:", best(lambda: embedding_covariance(
        spark.table("embeddings"), "embedding", n_dims=16)))

    from hdk_spark.operators.temporal import funnel_counts, resample_fill

    print("resample_fill_6h:", best(lambda: resample_fill(
        spark.table("events"), "user_id", "ts", "value", "6 hours", "linear")))
    print("funnel_counts:", best(lambda: funnel_counts(
        spark.table("events"), "user_id", "ts", "event_type",
        ["view", "click", "signup", "purchase"])))

    # round-4 operators at 10×
    from hdk_spark.operators.text import hashed_linear_score, redact_pii

    print("hashed_linear_score:", best(lambda: hashed_linear_score(
        spark.table("documents"))))
    print("redact_pii:", best(lambda: redact_pii(spark.table("documents"))))

    from hdk_spark.operators.dedup import contamination_flags_bloom

    eval_df = spark.table("documents").filter(F.col("doc_id") % 1000 == 0)
    print("contamination_bloom:", best(lambda: contamination_flags_bloom(
        spark.table("documents"), eval_df), n=1))

    from hdk_spark.operators.bpe import bpe_encode, bpe_train

    t0 = time.perf_counter()
    merges = bpe_train(spark.table("documents"), n_merges=100)
    t_train = round(time.perf_counter() - t0, 2)
    print("bpe_train_100:", t_train)
    print("bpe_encode:", best(lambda: bpe_encode(
        spark.table("documents"), merges), n=1))

    # profiling / temporal / robust-stats operators (SCALE.md rows)
    from hdk_spark.operators.profile import histogram, skew_report, summarize

    li = spark.table("lineitem")
    cols4 = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    print("summarize_default:", best(lambda: summarize(li, cols4)))
    print("summarize_exact_deterministic:", best(lambda: summarize(
        li, cols4, exact=True, deterministic=True), n=1))
    print("histogram:", best(lambda: histogram(
        li, "l_extendedprice", 20, 800.0, 480000.0)))
    print("skew_report:", best(lambda: skew_report(li, "l_orderkey", 20)))

    from hdk_spark.operators.temporal import detect_gaps, rolling_zscore

    ev = spark.table("events")
    print("detect_gaps_6h:", best(lambda: detect_gaps(
        ev, "user_id", "ts", "event_id", "6 hours")))
    print("rolling_zscore_w20:", best(lambda: rolling_zscore(
        ev, "user_id", "ts", "value", "event_id")))

    from hdk_spark.operators.stats import group_mad

    print("group_mad:", best(lambda: group_mad(
        spark.table("documents").select("lang", "n_chars"), "lang", "n_chars")))
    print("embedding_corr_default_d16:", best(lambda: embedding_covariance(
        spark.table("embeddings"), "embedding", n_dims=16, correlation=True)))
    print("embedding_cov_deterministic_d16:", best(lambda: embedding_covariance(
        spark.table("embeddings"), "embedding", n_dims=16, deterministic=True),
        n=1))

    from hdk_spark.operators.dedup import segment_dedup

    print("segment_dedup_w3:", best(lambda: segment_dedup(
        spark.table("documents"), mode="words", words_per_segment=3,
        max_freq=2), n=1))

    from hdk_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    print("duplicate_spans_n4:", best(lambda: duplicate_spans(
        spark.table("documents"), n=4, min_count=2), n=1))

    from hdk_spark.operators.text import (
        c4_line_filter,
        code_quality_flags,
        gopher_quality_flags,
        ngram_repetition_signals,
    )

    print("gopher_quality_flags:", best(lambda: gopher_quality_flags(
        spark.table("documents"))))
    print("c4_line_filter:", best(lambda: c4_line_filter(
        spark.table("documents"))))
    print("code_quality_flags:", best(lambda: code_quality_flags(
        spark.table("documents"))))
    print("ngram_repetition_signals:", best(lambda: ngram_repetition_signals(
        spark.table("documents")), n=1))
    _sp = duplicate_spans(spark.table("documents"), n=4, min_count=2)
    print("remove_duplicate_spans:", best(lambda: remove_duplicate_spans(
        spark.table("documents"), _sp), n=1))

    from hdk_spark.operators.sampling import mixture_plan, shuffle_shards

    print("shuffle_shards_64:", best(lambda: shuffle_shards(
        spark.table("documents"), "doc_id", 64)))
    print("mixture_plan:", best(lambda: mixture_plan(
        spark.table("documents"), "source", "n_chars",
        {"src0": 0.3, "src1": 0.7}, budget_tokens=10_000_000)))

    from hdk_spark.operators.layout import zorder_by

    print("zorder_by_2col_64p:", best(lambda: zorder_by(
        spark.table("lineitem"), ["l_quantity", "l_extendedprice"], 64,
        bits=8, bounds={"l_quantity": (0.0, 50.0),
                        "l_extendedprice": (0.0, 600000.0)})))

    from hdk_spark.operators.temporal import multi_grain_rollup

    print("multi_grain_rollup:", best(lambda: multi_grain_rollup(
        spark.table("events"), "ts", "event_type", "value")))

    from hdk_spark.operators.profile import drift_report, expect, snapshot_diff

    print("expect_5rules:", best(lambda: expect(spark.table("lineitem"), {
        "qty": "l_quantity BETWEEN 1 AND 50",
        "disc": "l_discount BETWEEN 0 AND 0.1",
        "price": "l_extendedprice > 0",
        "ship": "l_shipdate >= TIMESTAMP '1990-01-01 00:00:00'",
        "small": "l_discount <= 0.05"})))
    docs = spark.table("documents")
    print("drift_report:", best(lambda: drift_report(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "n_chars", 10, 0.0, 600.0)))
    print("snapshot_diff:", best(lambda: snapshot_diff(
        docs, docs.filter(F.col("doc_id") % 10 != 0), "doc_id",
        ["text", "source"])))

    import hdk_spark as hdk

    eng = hdk.init(spark=spark)
    eng._tables["lineitem"] = spark.table("lineitem")
    print("analyze_hll:", best(lambda: eng.analyze("lineitem").df))
    print("analyze_exact_ndv:", best(lambda: eng.analyze(
        "lineitem", exact_ndv=True).df, n=1))

    # plan sanity at 10×: lineitem side must NOT broadcast
    df = spark.sql(Q5)
    df.write.format("noop").mode("overwrite").save()
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    import re
    bhj = len(re.findall(r"BroadcastHashJoin", plan))
    print("q5 plan: BroadcastHashJoin x", bhj, "| SortMergeJoin:",
          "SortMergeJoin" in plan, "| ShuffledHashJoin:", "ShuffledHashJoin" in plan)


def main() -> None:
    if "--list" in sys.argv:
        for flag, what in SHAPES.items():
            print(f"{flag:12s}{what}")
        return
    from hdk_spark.session import get_spark

    # the session's 32g default heap is more than a 16 GB box has: the
    # headline shape's JVM grew past 15 GB and was OOM-killed
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    spark = get_spark("scale_smoke")
    if "--cc100" in sys.argv:
        cc_stress_100x(spark)
    elif "--r15spill" in sys.argv:
        spill_probe(spark)
    else:
        headline(spark)


if __name__ == "__main__":
    main()
