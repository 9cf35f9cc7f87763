"""10× scale-up smoke: replicate sf0.1 with shifted keys, re-run the
headline shapes, print steady-state timings. Results → SCALE.md.

Usage: python scripts/scale_smoke.py [--regen]
Writes synthetic data to /tmp/sf1_synth (outside the read-only
testdata tree).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sf1_synth"
COPIES = 10

KEYED = {
    "lineitem": {"l_orderkey": 10_000_000, "l_partkey": 1_000_000,
                 "l_suppkey": 100_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "customer": {"c_custkey": 1_000_000},
    "supplier": {"s_suppkey": 100_000},
    "part": {"p_partkey": 1_000_000},
    "events": {"event_id": 100_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"emb_id": 10_000_000},
}


PLAN_MARKS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "AQEShuffleRead", "Exchange")


def plan_markers(df) -> dict:
    """Post-AQE executed-plan marker counts. Runs an action on the
    SAME Dataset first so its QueryExecution holds the FINAL adaptive
    plan, not isFinalPlan=false."""
    df.write.format("noop").mode("overwrite").save()
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    return {m: p.count(m) for m in PLAN_MARKS}


def regen(spark) -> None:
    from pyspark.sql import functions as F

    from __spark_entry__ import load_tables

    load_tables(spark, SRC)
    for t, shifts in KEYED.items():
        base = spark.table(t)
        parts = []
        for i in range(COPIES):
            c = base
            for col, stride in shifts.items():
                if col in c.columns:
                    c = c.withColumn(col, F.col(col) + F.lit(i * stride))
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(os.path.join(DST, f"{t}.parquet"))
    for t in ("nation", "region"):
        spark.table(t).write.mode("overwrite").parquet(
            os.path.join(DST, f"{t}.parquet")
        )
    print("regenerated", DST)


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


def main() -> None:
    from pyspark.sql import functions as F

    from hdk_spark.session import get_spark

    # --r14a/--r15spill read spill metrics from the REST status API,
    # which needs the UI up from session creation (static conf)
    spark = get_spark(
        "scale_smoke",
        **({"spark.ui.enabled": "true"}
           if ("--r14a" in sys.argv or "--r15spill" in sys.argv) else {}),
    )
    if "--cc100" in sys.argv:
        cc_stress_100x(spark)
        return

    if "--r15spill" in sys.argv:
        # round-15 (VERDICT r14 #6): spill/peak-memory validation of
        # the r14 STAGED operators at sf10 — the rand()/nd_identity
        # barriers materialize token/shingle/canonical arrays per row,
        # so check the staged dedup/web shapes still run with zero (or
        # documented) spill at 100× the bench corpus. Corpus: 100
        # key-shifted replicas of sf0.1 documents (500k rows) with a
        # per-replica tag appended to EVERY token, so every shingle is
        # replica-disjoint and the CLONE-GROUP TOPOLOGY scales in
        # group count, not group size. (A trailing-only tag leaves all
        # mid-text shingles shared across the 100 replicas → ~1000-doc
        # shingle groups → the inverted-index join emits pairs
        # quadratically: the first attempt filled 80 GB of shuffle and
        # died on disk. Callers run exact dedup BEFORE jaccard — the
        # r9 funnel does — so small-group × many-groups is the
        # operator's real at-scale regime.) Spill/peak numbers from
        # the REST status API, scoped per shape via the stage-id
        # high-water mark.
        import json as _json
        import urllib.request

        D15 = "/tmp/sf10_docs_synth"
        if "--regen15" in sys.argv or not os.path.exists(D15):
            from __spark_entry__ import load_tables

            load_tables(spark, SRC)
            base = spark.table("documents")
            parts = []
            for i in range(100):
                parts.append(
                    base.withColumn(
                        "doc_id", F.col("doc_id") + F.lit(i * 10_000_000)
                    ).withColumn(
                        "text",
                        F.regexp_replace(
                            F.col("text"), r"(\S+)", f"$1r{i}"
                        ),
                    )
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            out.write.mode("overwrite").parquet(D15)
            print("regenerated", D15)
        docs = spark.read.parquet(D15)
        print("docs:", docs.count())

        def stages() -> list:
            sc = spark.sparkContext
            url = (f"{sc.uiWebUrl}/api/v1/applications/"
                   f"{sc.applicationId}/stages")
            with urllib.request.urlopen(url) as r:
                return _json.load(r)

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

        from hdk_spark.operators.dedup import (
            minhash_lsh_dedup,
            ngram_jaccard_pairs,
        )
        from hdk_spark.operators.web import (
            link_graph,
            politeness_schedule,
            url_dedup,
        )

        shapes = {
            "dedup_ngram_jaccard_pairs_n3": lambda: ngram_jaccard_pairs(
                docs, "doc_id", "text", n=3, threshold=0.5),
            "dedup_minhash_lsh": lambda: minhash_lsh_dedup(
                docs, threshold=0.5),
            "web_url_dedup": lambda: url_dedup(urls),
            "web_politeness_schedule": lambda: politeness_schedule(urls),
            "web_link_graph": lambda: link_graph(pages),
        }
        for name, mk in shapes.items():
            before = stages()
            hwm = max((s["stageId"] for s in before), default=-1)
            t0 = time.perf_counter()
            mk().write.format("noop").mode("overwrite").save()
            wall = round(time.perf_counter() - t0, 2)
            new = [s for s in stages() if s["stageId"] > hwm]
            mem = sum(s.get("memoryBytesSpilled", 0) for s in new)
            dsk = sum(s.get("diskBytesSpilled", 0) for s in new)
            peak = max(
                (s.get("peakExecutionMemory", 0) for s in new), default=0)
            print(f"{name}: wall={wall}s stages={len(new)} "
                  f"spill_mem={mem / 2**20:.0f}MiB "
                  f"spill_disk={dsk / 2**20:.0f}MiB "
                  f"peak_exec_mem_per_stage={peak / 2**20:.0f}MiB")
        return
    if "--regen" in sys.argv or not os.path.exists(DST):
        regen(spark)

    from __spark_entry__ import load_tables

    load_tables(spark, DST)

    def best(make, n=2):
        b = 1e9
        for _ in range(n):
            t0 = time.perf_counter()
            make().write.format("noop").mode("overwrite").save()
            b = min(b, time.perf_counter() - t0)
        return round(b, 2)

    if "--r6" in sys.argv:
        # round-6 operators at 10× only
        from hdk_spark.operators.dedup import (
            eval_contaminated_spans,
            eval_contaminated_spans_bloom,
        )

        docs = spark.table("documents")
        eval_df = docs.filter(F.col("doc_id") % 1000 == 0)
        n_eval = eval_df.count()
        print("eval docs:", n_eval, "train docs:", docs.count())
        print("eval_decontam_exact_n13:", best(
            lambda: eval_contaminated_spans(docs, eval_df, n=13), n=1))
        print("eval_decontam_bloom_n13:", best(
            lambda: eval_contaminated_spans_bloom(docs, eval_df, n=13),
            n=1))

        from hdk_spark.operators.text import train_quality_scorer

        labeled = docs.withColumn("y", (F.col("lang") == "en").cast("int"))
        t0 = time.perf_counter()
        train_quality_scorer(labeled, "y", n_buckets=64, iterations=1)
        t1 = time.perf_counter()
        train_quality_scorer(labeled, "y", n_buckets=64, iterations=4)
        t4 = time.perf_counter() - t1
        print("scorer_train_iter1:", round(t1 - t0, 2),
              " iter4:", round(t4, 2),
              " per_extra_iter:", round((t4 - (t1 - t0)) / 3, 2))

        from hdk_spark.operators.text import lang_id_ngram

        print("lang_id_ngram_26_md5:", best(
            lambda: lang_id_ngram(docs), n=1))
        print("lang_id_ngram_26_crc32:", best(
            lambda: lang_id_ngram(docs, basis="crc32"), n=1))
        print("lang_id_ngram_5_md5:", best(lambda: lang_id_ngram(
            docs, langs=["en", "de", "es", "fr", "zh"]), n=1))

        from hdk_spark.operators.html import html_extract
        from hdk_spark.operators.web import domain_cap

        html = F.concat(
            F.lit("<html><head><title>Doc </title><style>p{}</style>"
                  "<script>var x=1;</script></head><body><h1>s</h1><p>"),
            F.col("text"),
            F.lit('</p><a href="/a">l</a><img src="i.png"></body></html>'),
        )
        pages = docs.select("doc_id", html.alias("html"))
        print("html_extract:", best(lambda: html_extract(pages)))
        d = F.col("doc_id")
        urls = docs.select("doc_id", F.concat(
            F.lit("https://sub"), (d % 50).cast("string"),
            F.lit(".site"), (d % 700).cast("string"),
            F.lit(".com/p"), d.cast("string")).alias("url"))
        print("domain_cap_100:", best(lambda: domain_cap(
            urls, max_per_domain=100)))

        from hdk_spark.operators.web import domain_boilerplate_removal

        tag = (d % 700).cast("string")
        lined = docs.select(
            "doc_id",
            F.concat(F.lit("https://s"), tag, F.lit(".com/p"),
                     d.cast("string")).alias("url"),
            F.concat(F.lit("nav "), tag, F.lit("\n"), F.col("text"),
                     F.lit("\nfooter "), tag).alias("text"),
        )
        print("domain_boilerplate:", best(
            lambda: domain_boilerplate_removal(lined), n=1))
        return

    if "--r9" in sys.argv:
        # round-9: the capstone training-export funnel on the 10x
        # synth corpus (50k rows = 5k unique texts x10 shifted replicas,
        # so the exact stage does real 90% collapse work).
        # Crawl front measured separately (--r6 html/lang, --r8 graph);
        # this measures the post-crawl funnel composition end-to-end.
        from hdk_spark.operators.dedup import (
            ngram_jaccard_pairs,
            semantic_dedup,
        )
        from hdk_spark.operators.graph import duplicate_clusters
        from hdk_spark.operators.packing import pack_sequences
        from hdk_spark.operators.sampling import (
            shard_manifest,
            token_budget_sample,
        )
        from hdk_spark.operators.text import quality_score

        docs = spark.table("documents").select("doc_id", "text", "lang")
        d = F.col("doc_id")
        t_all = time.perf_counter()

        t0 = time.perf_counter()
        s1 = (
            docs.groupBy("text").agg(
                F.min("doc_id").alias("doc_id"), F.min("lang").alias("lang")
            )
        ).localCheckpoint()
        print("exact_synth->", s1.count(),
              round(time.perf_counter() - t0, 2))

        t0 = time.perf_counter()
        removed = (
            duplicate_clusters(
                ngram_jaccard_pairs(s1, "doc_id", "text", n=3,
                                    threshold=0.5)
            )
            .filter(F.col("doc_id") != F.col("cluster_id"))
            .select("doc_id")
        )
        s2 = s1.join(removed, "doc_id", "left_anti").localCheckpoint()
        print("jaccard->", s2.count(), round(time.perf_counter() - t0, 2))

        t0 = time.perf_counter()
        emb = spark.table("embeddings").join(
            s2.select(d.alias("vec_id")), "vec_id"
        )
        kept_sem = (
            semantic_dedup(emb, "vec_id", "embedding", k=64,
                           threshold=0.95, mode="lsh")
            .filter("kept").select(F.col("vec_id").alias("doc_id"))
        )
        s3 = s2.join(kept_sem, "doc_id").localCheckpoint()
        print("semdedup_lsh->", s3.count(),
              round(time.perf_counter() - t0, 2))

        t0 = time.perf_counter()
        s4 = s3.filter(
            F.round(quality_score(F.col("text")), 6) >= 0.52
        ).localCheckpoint()
        print("quality->", s4.count(), round(time.perf_counter() - t0, 2))

        t0 = time.perf_counter()
        s5 = token_budget_sample(
            s4, group_col="lang", budgets={"en": 2_000_000},
            default_budget=500_000, seed=7,
        ).localCheckpoint()
        print("budget->", s5.count(), round(time.perf_counter() - t0, 2))

        t0 = time.perf_counter()
        pack_sequences(
            s5.select("doc_id", "n_tokens"), "doc_id", "n_tokens",
            budget=2048, n_shards=64, seed=0,
        ).write.format("noop").mode("overwrite").save()
        shard_manifest(
            s5, "doc_id", "text", n_shards=64, seed=0
        ).write.format("noop").mode("overwrite").save()
        print("pack+manifest:", round(time.perf_counter() - t0, 2))
        print("funnel_total:", round(time.perf_counter() - t_all, 2))

        # PQ at 10x (100k vectors, d=64): encode once, ADC-scan for a
        # 16-query batch; compare wall + shuffled bytes against the
        # exact cosine scan (the LSH/IVF crossover table's companion)
        from hdk_spark.operators.similarity import (
            cosine_topk,
            pq_encode,
            pq_topk,
            pq_train,
        )

        emb = spark.table("embeddings")
        n_emb = emb.count()
        qids = list(range(16))
        cbs = pq_train(emb, m=8, ksub=16, train_sample=4096)
        t0 = time.perf_counter()
        codes = pq_encode(emb, cbs).persist()
        n_codes = codes.count()
        t_enc = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        pq_topk(emb, qids, cbs, k=10, codes=codes).write.format(
            "noop").mode("overwrite").save()
        t_adc = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        cosine_topk(emb, qids, k=10).write.format(
            "noop").mode("overwrite").save()
        t_exact = round(time.perf_counter() - t0, 2)
        print(f"pq_encode_{n_emb}:", t_enc, " adc_16q:", t_adc,
              " exact_cosine_16q:", t_exact, " codes:", n_codes)
        return

    if "--r9c" in sys.argv:
        # round-9 second batch on the 10x synth tables (counts printed)
        import json as _json

        from hdk_spark.operators.chat import sft_pack_export
        from hdk_spark.operators.profile import json_schema_gate
        from hdk_spark.operators.sampling import repeat_expand
        from hdk_spark.operators.search import retrieval_metrics
        from hdk_spark.operators.selection import curriculum_order
        from hdk_spark.operators.stats import (
            auc_score,
            k_anonymity_audit,
            ks_test,
            pass_at_k,
        )
        from hdk_spark.operators.web import anchor_text_index

        docs = spark.table("documents")
        d = F.col("doc_id")
        n_docs = docs.count()
        print("docs:", n_docs)

        scored = docs.select(
            "doc_id",
            (((d * 37) % 100000) / F.lit(100000.0)).alias("s"),
            ((d * 17) % 1000 < (d * 37) % 1000).cast("int").alias("y"),
            F.when(d % 3 == 0, F.lit("a")).otherwise(F.lit("b")).alias("g"),
        ).localCheckpoint()

        t0 = time.perf_counter()
        ks_test(scored, "g", "s", "a", "b").write.format("noop").mode(
            "overwrite").save()
        print("ks_docs(support<=docs):", round(time.perf_counter() - t0, 2))
        t0 = time.perf_counter()
        auc_score(scored, "s", "y").write.format("noop").mode(
            "overwrite").save()
        print("auc_docs:", round(time.perf_counter() - t0, 2))
        print("pass_at_k_docs:", best(lambda: pass_at_k(
            docs.select(F.concat(F.lit("p"), d.cast("string"))
                        .alias("problem_id"),
                        (d % 20 + 1).cast("int").alias("n"),
                        ((d * 7) % (d % 20 + 2)).cast("int").alias("c")),
            "n", "c", ks=(1, 10, 100)), n=1))
        print("curriculum_docs:", best(lambda: curriculum_order(
            scored, "s", n_stages=8), n=1))
        print("repeat_expand_docs:", best(lambda: repeat_expand(
            docs.select("doc_id", "lang"), "lang",
            {"en": (3, 2)}, default_epochs=(1, 2)), n=1))
        t0 = time.perf_counter()
        k_anonymity_audit(
            docs.select((d % 5000).alias("qa"), (d % 97).alias("qb"),
                        (d % 7).alias("s")),
            ["qa", "qb"], k=5, sensitive_col="s",
        ).write.format("noop").mode("overwrite").save()
        print("k_anonymity_docs(dense quasi grid):",
              round(time.perf_counter() - t0, 2))
        jrows = docs.select(
            "doc_id",
            F.concat(F.lit('{"a": '), d.cast("string"),
                     F.lit(', "b": "s"}')).alias("j"),
        )
        print("json_gate_docs:", best(lambda: json_schema_gate(
            jrows, "j", {"a": "int", "b": "string"}), n=1))

        pages = docs.select(
            "doc_id",
            F.concat(F.lit("http://site"), (d % 20000).cast("string"),
                     F.lit(".com/p")).alias("url"),
            F.concat(
                F.lit('<a href="http://site'),
                ((d * 2 + 1) % 20000).cast("string"),
                F.lit('.com/x">buy w'), (d % 50).cast("string"),
                F.lit(" now</a>"),
            ).alias("html"),
        )
        print("anchor_text_docs:", best(
            lambda: anchor_text_index(pages), n=1))

        convs = docs.select(
            "doc_id",
            F.to_json(F.array(
                F.struct(F.lit("user").alias("role"),
                         F.concat(F.lit("q "), d.cast("string"))
                         .alias("content")),
                F.struct(F.lit("assistant").alias("role"),
                         F.concat(F.lit("a "), (d % 100).cast("string"),
                                  F.lit(" ok")).alias("content")),
            )).alias("conversation"),
        )
        t0 = time.perf_counter()
        sft_pack_export(convs, budget=2048, n_shards=64).write.format(
            "noop").mode("overwrite").save()
        print("sft_export_docs:", round(time.perf_counter() - t0, 2))

        run = docs.select(
            F.concat(F.lit("q"), (d % 1000).cast("string"))
            .alias("query_id"),
            F.concat(F.lit("d"), d.cast("string")).alias("doc_id"),
            ((d * 13) % 997).cast("double").alias("score"),
        )
        qrels = docs.filter(d % 9 == 0).select(
            F.concat(F.lit("q"), (d % 1000).cast("string"))
            .alias("query_id"),
            F.concat(F.lit("d"), d.cast("string")).alias("doc_id"),
            (d % 3 + 1).cast("int").alias("rel"),
        )
        t0 = time.perf_counter()
        retrieval_metrics(run, qrels, k=10).write.format("noop").mode(
            "overwrite").save()
        print("retrieval_metrics_docs_run_1k_queries:",
              round(time.perf_counter() - t0, 2))
        return

    if "--r10" in sys.argv:
        # round-10: multi-probe LSH vs L-tables LSH at 200k×64d —
        # recall@10 vs exact, wall, and CACHED BYTES (the reason the
        # operator exists: one corpus copy vs ×n_tables). Clustered
        # synth corpus (256 hash-derived centroids + small noise) so
        # top-k is meaningful; 16 query ids land in 16 clusters.
        from hdk_spark.operators.similarity import (
            ann_lsh_topk,
            ann_multiprobe_topk,
            cosine_topk,
        )

        path = "/tmp/ann200k.parquet"
        if not os.path.exists(path):
            spark.range(200_000).select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda j: (
                        (F.hash(F.col("id") % 256, j) % 1000).cast("double")
                        / 500.0
                        + (F.hash(F.col("id"), j) % 100).cast("double")
                        / 5000.0 * 3.0
                    ),
                ).alias("embedding"),
            ).write.mode("overwrite").parquet(path)
        emb = spark.read.parquet(path)
        print("ann corpus rows:", emb.count())
        qids = list(range(16))

        def cached_mb() -> float:
            infos = spark._jsc.sc().getRDDStorageInfo()
            return round(sum(i.memSize() for i in infos) / 1e6, 1)

        def run(make):
            b, mb, res = 1e9, 0.0, None
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                rows = make().collect()
                b = min(b, time.perf_counter() - t0)
                mb = cached_mb()
                res = {r["qid"]: set() for r in rows}
                for r in rows:
                    res[r["qid"]].add(r["neighbor_id"])
            return round(b, 2), mb, res

        t_ex, _, exact = run(lambda: cosine_topk(emb, qids, k=10))
        print(f"exact cosine_topk: {t_ex}s")

        def recall(res) -> float:
            hits = sum(len(res.get(q, set()) & exact[q]) for q in exact)
            return round(hits / sum(len(v) for v in exact.values()), 3)

        t, mb, res = run(lambda: ann_lsh_topk(
            emb, qids, k=10, n_planes=4, n_tables=8))
        print(f"lsh_topk 4p×8t: {t}s cache={mb}MB recall@10={recall(res)}")
        for probes in (1, 4, 8):
            t, mb, res = run(lambda: ann_multiprobe_topk(
                emb, qids, k=10, n_planes=8, n_probes=probes,
                deterministic=False))
            print(f"multiprobe 8p T={probes}: {t}s cache={mb}MB "
                  f"recall@10={recall(res)}")

        # SQ8: the x4 storage path — coded relation cached, brute
        # cosine over dequantized codes, recall vs exact
        from hdk_spark.operators.similarity import (
            sq8_encode,
            sq8_topk,
            sq8_train,
        )

        spark.catalog.clearCache()
        t0 = time.perf_counter()
        bounds = sq8_train(emb)
        t_train = round(time.perf_counter() - t0, 2)
        coded = sq8_encode(emb, bounds).persist()
        coded.count()
        mb_coded = cached_mb()
        t0 = time.perf_counter()
        rows = sq8_topk(emb, qids, bounds, k=10, codes=coded).collect()
        t_sq = round(time.perf_counter() - t0, 2)
        res = {}
        for r in rows:
            res.setdefault(r["qid"], set()).add(r["neighbor_id"])
        spark.catalog.clearCache()
        emb.select("vec_id", "embedding").persist().count()
        mb_float = cached_mb()
        print(f"sq8: train={t_train}s topk={t_sq}s "
              f"coded_cache={mb_coded}MB float_cache={mb_float}MB "
              f"recall@10={recall(res)}")
        return

    if "--r10b" in sys.argv:
        # round-10: the BUDGET-CAPPED crawl front at 10× (50k WARC
        # records built + parsed in-job) handing off into the funnel —
        # the knob interaction the r9 runs didn't cover (r9's 10×
        # funnel started from documents; the small-SF contract rows
        # pin max_per_domain correctness, this pins its 10× cost).
        # The contract fixture's URL arithmetic (%17 domains × %85
        # paths) saturates at 10× — canonical space collapses to ~40
        # urls and the cap never binds — so this block plants SCALED
        # urls (%170 domains × %8500 paths) with the same gate moduli.
        import pandas as pd
        from pyspark.sql import types as T

        from hdk_spark.operators.crawl import crawl_curate

        def to_warc(batches):
            from hdk_spark.operators.warc import build_warc

            for pdf in batches:
                blobs = []
                for rid, text in zip(pdf["doc_id"], pdf["text"]):
                    rid = int(rid)
                    url = (
                        f"https://site{rid % 170}.com/p/{rid % 8500}"
                        + ("?utm_source=x" if rid % 2 == 0 else "/")
                    )
                    html = (
                        f"<html><head><title>Doc {rid}</title>"
                        + ('<meta name="robots" content="noindex">'
                           if rid % 11 == 0 else "")
                        + f"</head><body><p>{text}</p></body></html>"
                    ).encode("utf-8")
                    status = (b"HTTP/1.1 404 Not Found" if rid % 19 == 0
                              else b"HTTP/1.1 200 OK")
                    ctype = (b"text/plain" if rid % 23 == 0
                             else b"text/html; charset=utf-8")
                    http = (status + b"\r\nContent-Type: " + ctype
                            + b"\r\n\r\n" + html)
                    blobs.append(build_warc([{
                        "warc_type": "response",
                        "target_uri": url,
                        "payload": http,
                        "content_type":
                            "application/http;msgtype=response",
                    }]))
                yield pd.DataFrame(
                    {"warc_id": pdf["doc_id"], "data": blobs}
                )

        warcs = spark.table("documents").select(
            "doc_id", "text"
        ).mapInPandas(to_warc, T.StructType([
            T.StructField("warc_id", T.LongType()),
            T.StructField("data", T.BinaryType()),
        ]))
        # every 5th domain disallows /p so the robots gate BINDS at
        # 10× (~20% drop) instead of measuring a pass-through join
        robots = spark.range(170).select(
            F.concat(F.lit("site"), F.col("id").cast("string"),
                     F.lit(".com")).alias("reg_domain"),
            F.when(F.col("id") % 5 == 0,
                   F.lit("User-agent: *\nDisallow: /p\n"))
            .otherwise(F.lit("User-agent: *\nDisallow: /private\n"))
            .alias("robots_txt"),
        )
        t_all = time.perf_counter()
        st = crawl_curate(
            warcs, robots,
            langs=["en", "de", "es", "fr", "zh"],
            max_per_domain=20, persist_stages=True,
        )
        for name, frame in st.items():
            t0 = time.perf_counter()
            print(f"{name}->", frame.count(),
                  round(time.perf_counter() - t0, 2))
        # funnel handoff over the capped survivors: CCNet tail gate +
        # exact dedup (the r9 block measured the rest at 10×)
        s0 = st["final"].select("doc_id", "lang", "bucket").join(
            st["domain_cap"].select("doc_id", "text"), "doc_id"
        )
        t0 = time.perf_counter()
        s1 = (
            s0.filter(F.col("bucket") != "tail")
            .select("doc_id", "text", "lang")
            .localCheckpoint()
        )
        print("tail_gate->", s1.count(),
              round(time.perf_counter() - t0, 2))
        t0 = time.perf_counter()
        s2 = (
            s1.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
            .join(s1, ["doc_id", "text"])
            .localCheckpoint()
        )
        print("exact_dedup->", s2.count(),
              round(time.perf_counter() - t0, 2))
        print("crawl_capped_total:",
              round(time.perf_counter() - t_all, 2))
        return

    if "--r10c" in sys.argv:
        # round-10 operators at 10×: alpha over a 500k-annotation
        # grid (50k units × 10 raters), ROUGE-2 over 50k rows, and
        # the batch CMS build/query path at corpus scale.
        from hdk_spark.operators.sketches import cms_build, cms_query
        from hdk_spark.operators.stats import krippendorff_alpha
        from hdk_spark.operators.text import rouge_n

        docs = spark.table("documents")
        print("docs:", docs.count())
        d = F.col("doc_id")
        ann = docs.select(
            d.alias("item"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(9)),
                    # ((d + r) % 3) % 5 — per-rater label variation
                    # spanning 3 values (ADVICE r10: the original
                    # unparenthesized form bound as d + (r % 3))
                    lambda r: F.concat(
                        F.lit("l"),
                        (((d + r.cast("long")) % 3) % 5).cast("string"),
                    ),
                )
            ).alias("label"),
        )
        print("annotations:", ann.count())
        print("krippendorff_alpha_500k:", best(
            lambda: krippendorff_alpha(ann, "item", "label"), n=2))

        pairs = docs.select(
            "doc_id", F.col("text").alias("ref"),
            F.concat(F.lit("recrawl "), F.col("text")).alias("hyp"),
        )
        print("rouge2_50k:", best(lambda: rouge_n(pairs, "ref", "hyp"),
                                  n=1))

        t0 = time.perf_counter()
        sk = cms_build(docs.select(
            (d % 999).cast("string").alias("v")), "v").persist()
        n_cells = sk.count()
        t_build = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        cms_query(sk, [str(i) for i in range(50)]).write.format(
            "noop").mode("overwrite").save()
        print("cms_build_50k:", t_build, " cells:", n_cells,
              " query_50:", round(time.perf_counter() - t0, 2))

        # bitext mining at 100k x 100k (the ann200k synth corpus split
        # in half): planes sized ~log2(side) so buckets stay small —
        # candidate volume is sum per-bucket |src|*|tgt|, never n^2
        from hdk_spark.operators.similarity import bitext_mine

        path = "/tmp/ann200k.parquet"
        if not os.path.exists(path):
            # same clustered synth corpus the --r10 branch generates
            spark.range(200_000).select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda j: (
                        (F.hash(F.col("id") % 256, j) % 1000)
                        .cast("double") / 500.0
                        + (F.hash(F.col("id"), j) % 100).cast("double")
                        / 5000.0 * 3.0
                    ),
                ).alias("embedding"),
            ).write.mode("overwrite").parquet(path)
        emb = spark.read.parquet(path)
        src = emb.filter(F.col("vec_id") % 2 == 0)
        tgt = emb.filter(F.col("vec_id") % 2 == 1)
        print("bitext sides:", src.count(), tgt.count())
        t0 = time.perf_counter()
        n_mined = bitext_mine(
            src, tgt, k=4, threshold=1.0,
            n_planes=14, n_probes=2, dim=64,
        ).count()
        print("bitext_100k_x_100k:", round(time.perf_counter() - t0, 2),
              " mined:", n_mined)
        return

    if "--r11" in sys.argv:
        # bitext n_planes sweep at a FIXED 50k × 50k corpus: pins the
        # docstring's scaling law — candidate volume ~ |src|·|tgt|·
        # n_probes/2^n_planes while planted-twin recall degrades
        # gently (each tgt is its src twin + ~10%-of-norm hash noise
        # ≈ 0.1 rad, so the twin is the true top-1 whenever it's a
        # candidate and per-plane split probability is ~0.032).
        # The auto default (n_planes=None) would pick
        # ceil(log2(50k)) = 16 here — the sweep brackets it.
        from hdk_spark.operators.dedup import rademacher_planes
        from hdk_spark.operators.similarity import (
            _bucket_from_dots,
            _fold_plane_dots,
            _multiprobe_probes,
            bitext_mine,
        )

        path = "/tmp/bitext100k.parquet"
        if not os.path.exists(path):
            # UNIFORM hash vectors (not the clustered ann synth):
            # random 64-d points are near-orthogonal, so the noisy
            # twin is unambiguously the true match and recall
            # isolates the BUCKETING loss, not ranking ambiguity
            spark.range(50_000).select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda j: (F.hash(F.col("id"), j) % 1000)
                    .cast("double") / 500.0,
                ).alias("embedding"),
            ).write.mode("overwrite").parquet(path)
        src = spark.read.parquet(path)
        tgt = src.select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x: x + (F.hash(F.col("vec_id"), x) % 21)
                .cast("double") * 0.01,
            ).alias("embedding"),
        )
        n_src = src.count()
        print("bitext sweep sides:", n_src, tgt.count())
        for p in (8, 14, 20):
            planes = rademacher_planes(p, 64, 7)
            dots = _fold_plane_dots("v", planes)
            bucket = _bucket_from_dots(p)

            def hashed(df):
                return (
                    df.select(
                        F.col("vec_id").alias("id"),
                        F.col("embedding").alias("v"),
                    )
                    .selectExpr("*", f"{dots} AS __dots")
                    .selectExpr("*", f"{bucket} AS b")
                )

            sp = (
                hashed(src)
                .selectExpr(f"explode({_multiprobe_probes(p, 2)}) AS pb")
                .groupBy("pb").agg(F.count(F.lit(1)).alias("cs"))
            )
            tb = hashed(tgt).groupBy("b").agg(
                F.count(F.lit(1)).alias("ct"))
            volume = sp.join(tb, sp.pb == tb.b).agg(
                F.sum(F.col("cs") * F.col("ct"))).first()[0] or 0
            t0 = time.perf_counter()
            mined = bitext_mine(
                src, tgt, k=4, threshold=1.0,
                n_planes=p, n_probes=2, dim=64,
            ).persist()
            n_mined = mined.count()
            hits = mined.filter(
                F.col("tgt_id") == F.col("src_id") + 1_000_000).count()
            wall = round(time.perf_counter() - t0, 2)
            mined.unpersist()
            print(f"bitext_planes_{p}:", wall,
                  " cand_volume:", int(volume),
                  " mined:", n_mined,
                  " twin_recall:", round(hits / n_src, 4))
        return

    if "--r11b" in sys.argv:
        # SQ8 × multiprobe composition at 200k×64d — the coded-lake
        # configuration: LAKE bytes shrink ~×4 (what codes= buys off
        # storage/scan); the in-flight CACHE does NOT (the kernel
        # persists decoded float64 vectors either way — measured and
        # documented, not hand-waved); recall/wall vs the float path
        # at identical params isolates the quantization cost.
        from hdk_spark.operators.similarity import (
            ann_multiprobe_topk,
            cosine_topk,
            sq8_encode,
            sq8_train,
        )

        path = "/tmp/ann200k.parquet"
        if not os.path.exists(path):
            spark.range(200_000).select(
                F.col("id").alias("vec_id"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(63)),
                    lambda j: (
                        (F.hash(F.col("id") % 256, j) % 1000).cast("double")
                        / 500.0
                        + (F.hash(F.col("id"), j) % 100).cast("double")
                        / 5000.0 * 3.0
                    ),
                ).alias("embedding"),
            ).write.mode("overwrite").parquet(path)
        emb = spark.read.parquet(path)
        print("ann corpus rows:", emb.count())
        qids = list(range(16))

        def cached_mb() -> float:
            infos = spark._jsc.sc().getRDDStorageInfo()
            return round(sum(i.memSize() for i in infos) / 1e6, 1)

        def dir_mb(p: str) -> float:
            total = sum(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p) if not f.startswith(("_", "."))
            )
            return round(total / 1e6, 1)

        def run(make):
            b, mb, res = 1e9, 0.0, None
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                rows = make().collect()
                b = min(b, time.perf_counter() - t0)
                mb = cached_mb()
                res = {r["qid"]: set() for r in rows}
                for r in rows:
                    res[r["qid"]].add(r["neighbor_id"])
            return round(b, 2), mb, res

        _, _, exact = run(lambda: cosine_topk(emb, qids, k=10))

        def recall(res) -> float:
            hits = sum(len(res.get(q, set()) & exact[q]) for q in exact)
            return round(hits / sum(len(v) for v in exact.values()), 3)

        bounds = sq8_train(emb)
        cpath = "/tmp/sq8codes200k.parquet"
        sq8_encode(emb, bounds).write.mode("overwrite").parquet(cpath)
        coded = spark.read.parquet(cpath)
        print(f"lake bytes: float={dir_mb(path)}MB coded={dir_mb(cpath)}MB")
        kw = dict(k=10, n_planes=8, n_probes=4, deterministic=False)
        t_f, mb_f, res_f = run(lambda: ann_multiprobe_topk(
            emb, qids, **kw))
        t_c, mb_c, res_c = run(lambda: ann_multiprobe_topk(
            None, qids, codes=coded, bounds=bounds, **kw))
        print(f"multiprobe float: {t_f}s cache={mb_f}MB "
              f"recall@10={recall(res_f)}")
        print(f"multiprobe sq8-coded: {t_c}s cache={mb_c}MB "
              f"recall@10={recall(res_c)}")
        return

    if "--r11c" in sys.argv:
        # round-11 sketch-lake measurement: the merge-not-rescan
        # argument QUANTIFIED for the two new families. 6M rows /
        # ~500k distinct: (a) DDSketch build wall + stored-cell count,
        # then quantile answers from the STORED relation vs re-scanning
        # the corpus with percentile_approx; (b) 10-slice dds_merge ==
        # single build (asserted) — the lake maintenance model;
        # (c) KMV build wall + NDV error vs exact countDistinct, and
        # column-overlap Jaccard from two 256-row summaries vs the
        # exact intersect/union scans.
        from hdk_spark.operators.sketches import (
            dds_build, dds_merge, dds_quantile,
            kmv_jaccard, kmv_merge, kmv_ndv, kmv_summary,
        )

        n = 6_000_000
        base = spark.range(n).select(
            F.col("id"),
            (F.col("id") % 10).alias("sl"),
            # heavy-tailed positive measure, deterministic
            (F.exp((F.pmod(F.hash("id"), F.lit(10_000)).cast("double")
                    / F.lit(1000.0)))
             * (F.lit(1.0) + F.pmod(F.hash("id", F.lit(7)), F.lit(997))
                .cast("double") / F.lit(997.0))).alias("x"),
            F.concat(F.lit("u"), F.pmod(F.hash("id", F.lit(13)),
                                        F.lit(500_000)).cast("string"))
            .alias("va"),
            F.concat(F.lit("u"), (F.pmod(F.hash("id", F.lit(13)),
                                         F.lit(500_000))
                                  + F.lit(250_000)).cast("string"))
            .alias("vb"),
        ).persist()
        print("rows:", base.count())

        t0 = time.perf_counter()
        sk = dds_build(base, "x").persist()
        n_cells = sk.count()
        t_build = round(time.perf_counter() - t0, 2)
        qs = [0.01, 0.25, 0.5, 0.9, 0.99, 0.999]
        t0 = time.perf_counter()
        est = {r["q"]: r["est"] for r in dds_quantile(sk, qs).collect()}
        t_q = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        exact = base.agg(
            F.expr(f"percentile_approx(x, array({','.join(map(str, qs))}),"
                   " 10000)")).collect()[0][0]
        t_scan = round(time.perf_counter() - t0, 2)
        worst = max(abs(est[q] - e) / e for q, e in zip(qs, exact))
        print(f"dds_build(6M): {t_build}s cells={n_cells} "
              f"quantiles-from-STORED-sketch: {t_q}s "
              f"vs corpus percentile_approx rescan: {t_scan}s "
              f"worst-rel-vs-exact={worst:.5f}")

        t0 = time.perf_counter()
        merged = dds_merge(
            *[dds_build(base.filter(F.col("sl") == i), "x")
              for i in range(10)])
        mcells = {(r["store"], r["b"], r["j"]): r["c"]
                  for r in merged.collect()}
        t_m = round(time.perf_counter() - t0, 2)
        wcells = {(r["store"], r["b"], r["j"]): r["c"]
                  for r in sk.collect()}
        assert mcells == wcells, "10-slice merge != single build"
        print(f"dds_merge(10 slices of 600k): {t_m}s == single build "
              f"cell-for-cell ({len(mcells)} cells)")

        t0 = time.perf_counter()
        ka = kmv_summary(base, "va", k=256).persist()
        ka.count()
        t_kmv = round(time.perf_counter() - t0, 2)
        ndv = kmv_ndv(ka, k=256).collect()[0]["ndv_est"]
        t0 = time.perf_counter()
        true_ndv = base.select("va").distinct().count()
        t_cd = round(time.perf_counter() - t0, 2)
        print(f"kmv_summary(6M rows, {true_ndv} distinct, k=256): "
              f"{t_kmv}s ndv_est={ndv:.0f} "
              f"err={abs(ndv - true_ndv) / true_ndv:.4f} "
              f"(exact countDistinct scan: {t_cd}s)")

        kb = kmv_summary(base, "vb", k=256)
        t0 = time.perf_counter()
        j = kmv_jaccard(ka, kb, k=256).collect()[0]
        t_j = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        a_ = base.select(F.col("va").alias("v"))
        b_ = base.select(F.col("vb").alias("v"))
        ji = a_.intersect(b_).count()
        ju = a_.union(b_).distinct().count()
        t_jx = round(time.perf_counter() - t0, 2)
        print(f"kmv_jaccard(two 256-row summaries): {t_j}s "
              f"est={j['jaccard_est']} vs exact {ji / ju:.4f} "
              f"(intersect+union scans: {t_jx}s)")
        base.unpersist()
        return

    if "--r11d" in sys.argv:
        # round-11 follow-up: mg_summary's build-scoped cache at
        # lake-ish scale — 6M rows / ~500k distinct + a planted hot
        # fifth: build wall (ONE corpus scan, eager), then what the
        # session RETAINS after the build — the vocabulary-sized
        # (shard, item, c) intermediate must be released, leaving only
        # the ≤ n_shards·(k+1)-row summary in storage.
        from pyspark.sql import functions as F

        from hdk_spark.operators.sketches import (
            mg_heavy_hitters, mg_summary,
        )

        n = 6_000_000
        base = spark.range(n).select(
            F.when(F.col("id") % 5 == 0, F.lit("hot"))
            .otherwise(
                F.concat(
                    F.lit("u"),
                    F.pmod(F.hash("id", F.lit(13)), F.lit(500_000))
                    .cast("string"),
                )
            )
            .alias("v")
        )
        t0 = time.perf_counter()
        summ = mg_summary(base, "v", k=64, n_shards=8)
        t_build = round(time.perf_counter() - t0, 2)
        infos = spark._jsc.sc().getRDDStorageInfo()
        retained_kb = round(
            sum(i.memSize() + i.diskSize() for i in infos) / 1e3, 1)
        n_rows = summ.count()
        hh = {r["item"]
              for r in mg_heavy_hitters(summ, phi=0.15, k=64).collect()}
        print(f"mg_summary(6M rows, ~500k distinct, k=64, 8 shards): "
              f"{t_build}s summary_rows={n_rows} "
              f"retained_cached_kb={retained_kb} "
              f"hot_in_heavy_hitters={'hot' in hh}")
        assert "hot" in hh
        assert n_rows <= 8 * 65
        return

    if "--r12" in sys.argv:
        # round-12 one-off (VERDICT r11 #6): the 9 headline bench
        # queries ONCE at sf1-synth (~6M lineitem, 10× the bench's
        # sf0.1) — wall per query plus a plan-shape diff vs sf0.1 for
        # the SQL queries (post-AQE executed plans: join strategy
        # flips, AQE shuffle coalescing) to catch scale cliffs the
        # 2×-bar's sf0.1 point cannot (e.g. a dimension outgrowing
        # the broadcast threshold). Results → SCALE.md.
        import bench as bench_mod

        from hdk_spark.operators.dedup import minhash_lsh_dedup
        from hdk_spark.operators.similarity import ann_lsh_topk
        from hdk_spark.operators.text import analyze

        marks = PLAN_MARKS

        # tables currently loaded from DST (sf1_synth) by main()
        docs, emb = spark.table("documents"), spark.table("embeddings")
        ops = {
            "q7_minhash_dedup": lambda: minhash_lsh_dedup(
                docs, threshold=0.5),
            "q8_text_profile": lambda: analyze(docs),
            "q9_ann_topk": lambda: ann_lsh_topk(
                emb, [0, 1, 2, 3, 4], k=10, dim=64),
        }
        best(lambda: spark.sql(bench_mod.BENCH_SQL["q1_groupby_count"]))
        walls, marks_sf1 = {}, {}
        for name, sql in bench_mod.BENCH_SQL.items():
            walls[name] = best(lambda s=sql: spark.sql(s))
            marks_sf1[name] = plan_markers(spark.sql(sql))
        for name, mk in ops.items():
            walls[name] = best(mk)
        total = round(sum(walls.values()), 2)

        load_tables(spark, SRC)  # re-point views at sf0.1 for the diff
        diffs = {}
        for name, sql in bench_mod.BENCH_SQL.items():
            m01 = plan_markers(spark.sql(sql))
            delta = {k: (m01[k], marks_sf1[name][k]) for k in marks
                     if m01[k] != marks_sf1[name][k]}
            if delta:
                diffs[name] = delta
        print(f"sf1_synth headline walls (best-of-2, noop sink): "
              f"{walls} total={total}s")
        print(f"plan shape sf0.1 -> sf1 (marker: (sf0.1, sf1)): "
              f"{diffs if diffs else 'IDENTICAL for q1-q6'}")
        return

    if "--r12b" in sys.argv:
        # round-12: kmv_by_group at lake-ish scale — 6M rows, 3 groups
        # of very different cardinality (~1M / ~50k / 37 distinct), one
        # group in the exact below-k regime. Wall + per-group error vs
        # exact countDistinct, and the state honesty: the sketch holds
        # ≤ groups·k rows vs the exact path's full per-group value sets.
        from pyspark.sql import functions as F

        from hdk_spark.operators.sketches import (
            kmv_by_group, kmv_ndv_by_group,
        )

        n, k = 6_000_000, 256
        base = spark.range(n).select(
            F.when(F.col("id") % 3 == 0, F.lit("web"))
            .when(F.col("id") % 3 == 1, F.lit("code"))
            .otherwise(F.lit("lang")).alias("g"),
            F.when(
                F.col("id") % 3 == 0,
                F.concat(F.lit("w"), F.pmod(
                    F.hash("id", F.lit(3)), F.lit(1_000_000))
                    .cast("string")),
            )
            .when(
                F.col("id") % 3 == 1,
                F.concat(F.lit("c"), F.pmod(
                    F.hash("id", F.lit(5)), F.lit(50_000)).cast("string")),
            )
            .otherwise(
                F.concat(F.lit("l"), (F.col("id") % 37).cast("string")))
            .alias("v"),
        )
        t0 = time.perf_counter()
        est = {r["grp"]: r for r in kmv_ndv_by_group(
            kmv_by_group(base, "g", "v", k=k), k=k).collect()}
        t_sketch = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        exact = {r["g"]: r["ndv"] for r in base.groupBy("g").agg(
            F.countDistinct("v").alias("ndv")).collect()}
        t_exact = round(time.perf_counter() - t0, 2)
        errs = {
            g: round(abs(est[g]["ndv_est"] - exact[g]) / exact[g] * 100, 2)
            for g in exact
        }
        state_rows = sum(est[g]["n_kept"] for g in est)
        print(f"kmv_by_group(6M rows, 3 groups ~1M/50k/37 distinct, "
              f"k={k}): sketch {t_sketch}s vs exact countDistinct "
              f"{t_exact}s; err% per group {errs}; summary rows "
              f"{state_rows} (exact path holds the full per-group "
              f"value sets)")
        assert est["lang"]["ndv_est"] == 37.0  # exact below-k branch
        return

    if "--r13" in sys.argv:
        # round-13 (VERDICT r12 #5): sf10 probe of the FIRST
        # extrapolated join-strategy flip — customer ⋈ orders
        # outgrowing the broadcast threshold. SCALE.md placed the flip
        # at ~sf100 by byte extrapolation; this MEASURES the sf10
        # point: 100 shifted replicas of sf0.1 (~60M lineitem, 15M
        # orders, 1.5M customer), run q5_join_heavy + TPC-H q10/q18
        # and diff the post-AQE executed plans against sf0.1 — does
        # the static 1.5MB threshold already demote the dimension,
        # does AQE's 32MB runtime threshold re-promote it, and is the
        # transition a cliff or a graceful re-plan?
        from hdk_spark.entry_queries import COMMON_SQL_EXTRA

        DST10 = "/tmp/sf10_synth"
        C10 = 100
        t10 = ("customer", "orders", "lineitem")
        if "--regen10" in sys.argv or not os.path.exists(DST10):
            load_tables(spark, SRC)
            t0 = time.perf_counter()
            for t in t10:
                base_t, shifts = spark.table(t), KEYED[t]
                parts = []
                for i in range(C10):
                    c = base_t
                    for col, stride in shifts.items():
                        if col in c.columns:
                            c = c.withColumn(
                                col, F.col(col) + F.lit(i * stride))
                    parts.append(c)
                out = parts[0]
                for p in parts[1:]:
                    out = out.unionByName(p)
                out.write.mode("overwrite").parquet(
                    os.path.join(DST10, f"{t}.parquet"))
            for t in ("nation", "region"):
                spark.table(t).write.mode("overwrite").parquet(
                    os.path.join(DST10, f"{t}.parquet"))
            print("regenerated", DST10,
                  round(time.perf_counter() - t0, 1), "s")

        marks = PLAN_MARKS

        Q = {
            "q5_join_heavy": """
                SELECT l_orderkey,
                       SUM(l_extendedprice * (1 - l_discount)) AS revenue
                FROM customer JOIN orders ON c_custkey = o_custkey
                              JOIN lineitem ON l_orderkey = o_orderkey
                WHERE c_mktsegment = 'BUILDING'
                GROUP BY l_orderkey ORDER BY revenue DESC LIMIT 10""",
            "tpch_q10": COMMON_SQL_EXTRA["tpch_q10_returned_items"],
            "tpch_q18": COMMON_SQL_EXTRA["tpch_q18_large_volume_customer"],
        }

        results: dict = {}
        for sf_name, d in (("sf0.1", SRC), ("sf10", DST10)):
            load_tables(spark, d)
            if sf_name == "sf10":
                print("rows:", {t: spark.table(t).count() for t in t10})
            # warm the scans so timed runs measure the joins
            for t in t10:
                spark.table(t).write.format("noop").mode(
                    "overwrite").save()
            for name, sql in Q.items():
                w = best(lambda s=sql: spark.sql(s))
                results.setdefault(name, {})[sf_name] = (
                    w, plan_markers(spark.sql(sql)))
        for name, r in results.items():
            (w01, m01), (w10, m10) = r["sf0.1"], r["sf10"]
            delta = {k: (m01[k], m10[k]) for k in marks
                     if m01[k] != m10[k]}
            print(f"{name}: sf0.1 {w01}s -> sf10 {w10}s "
                  f"({round(w10 / w01, 1)}x wall for 100x data); "
                  f"plan sf0.1->sf10 {delta if delta else 'IDENTICAL'}")
            print(f"  sf10 markers: {r['sf10'][1]}")
        return

    if "--r13b" in sys.argv:
        # round-13: kmv_pairwise_stats at a real group count — 6M rows
        # / 100 groups / ~20k distinct per group, k=128 → a 4,950-pair
        # overlap matrix from ONE 12.8k-row summary relation in ONE
        # relational plan. Against it: the only prior way to get the
        # same answer, a driver loop of kmv_set_stats calls — measured
        # on the first 10 groups (45 pairs) and extrapolated, because
        # per-pair jobs dominate regardless of data size.
        from hdk_spark.operators.sketches import (
            kmv_by_group, kmv_pairwise_stats, kmv_set_stats,
        )

        n, k, n_grp = 6_000_000, 128, 100
        base = spark.range(n).select(
            F.concat(F.lit("g"), F.pmod(F.hash("id"), F.lit(n_grp))
                     .cast("string")).alias("g"),
            # per-group vocab domains overlap with the NEXT group by
            # half, so the matrix has real structure
            F.concat(
                F.lit("u"),
                (F.pmod(F.hash("id"), F.lit(n_grp)) * 10_000
                 + F.pmod(F.hash("id", F.lit(7)), F.lit(20_000)))
                .cast("string")).alias("v"),
        )
        t0 = time.perf_counter()
        summ = kmv_by_group(base, "g", "v", k=k).persist()
        n_summ = summ.count()
        t_build = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        mat = kmv_pairwise_stats(summ, k=k)
        n_pairs = mat.count()
        t_mat = round(time.perf_counter() - t0, 2)
        print(f"kmv_by_group(6M rows, {n_grp} groups, k={k}): "
              f"{t_build}s summary_rows={n_summ}")
        print(f"kmv_pairwise_stats: {n_pairs} pairs in {t_mat}s "
              f"(ONE plan over the {n_summ}-row summary)")

        # the driver-loop alternative on the first 10 groups (45 pairs)
        sub = [f"g{i}" for i in range(10)]
        parts = {g: summ.filter(F.col("grp") == g)
                 .select("h", "item").persist() for g in sub}
        for p in parts.values():
            p.count()
        t0 = time.perf_counter()
        n_loop = 0
        for i in range(len(sub)):
            for j in range(i + 1, len(sub)):
                kmv_set_stats(parts[sub[i]], parts[sub[j]], k=k).collect()
                n_loop += 1
        t_loop = round(time.perf_counter() - t0, 2)
        per_pair = t_loop / n_loop
        print(f"driver loop of kmv_set_stats: {n_loop} pairs in "
              f"{t_loop}s ({per_pair:.2f}s/pair → "
              f"~{round(per_pair * n_pairs)}s extrapolated for all "
              f"{n_pairs} pairs)")
        for p in parts.values():
            p.unpersist()
        summ.unpersist()
        return

    if "--r13c" in sys.argv:
        # round-13 follow-up to the sf10 probe: is q5's 39× wall at
        # 100× data a join problem or a partition-sizing problem?
        # Sweep the shuffle partition count (with AQE on, this is the
        # INITIAL split AQE coalesces from) at sf10 and sf0.1.
        Q5 = """SELECT l_orderkey,
                       SUM(l_extendedprice * (1 - l_discount)) AS revenue
                FROM customer JOIN orders ON c_custkey = o_custkey
                              JOIN lineitem ON l_orderkey = o_orderkey
                WHERE c_mktsegment = 'BUILDING'
                GROUP BY l_orderkey ORDER BY revenue DESC LIMIT 10"""
        for sf_name, d in (("sf10", "/tmp/sf10_synth"), ("sf0.1", SRC)):
            if not os.path.exists(d):
                print(f"{sf_name}: {d} missing — run --r13 first")
                continue
            load_tables(spark, d)
            for t in ("customer", "orders", "lineitem"):
                spark.table(t).write.format("noop").mode(
                    "overwrite").save()
            for parts in (32, 128, 512):
                spark.conf.set("spark.sql.shuffle.partitions", str(parts))
                print(f"{sf_name} q5 @ shuffle.partitions={parts}:",
                      best(lambda: spark.sql(Q5)))
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(spark.sparkContext.defaultParallelism))
        return

    if "--r14a" in sys.argv:
        # round-14 (VERDICT r13 #2 + #4): run q5 at sf10 through the
        # session.scale_conf preset vs the default, with SPILL NUMBERS
        # from the REST status API (per-stage memory/diskBytesSpilled
        # deltas). OUTCOME (SCALE.md r14a): zero spill at EITHER
        # partition count and no reproducible wall difference —
        # follow-up order-reversed and interleaved-paired A/B showed
        # r13c's 16.1→6.6 s ramp was a run-order/warmth artifact (its
        # sweep always ran 32 coldest, 512 warmest). Kept as the
        # measurement harness that established that.
        import json as _json
        import urllib.request

        from hdk_spark.session import scale_conf

        D10 = "/tmp/sf10_synth"
        if not os.path.exists(D10):
            print("sf10 synth missing — run --r13 first")
            return
        load_tables(spark, D10)
        for t in ("customer", "orders", "lineitem"):
            spark.table(t).write.format("noop").mode("overwrite").save()
        n_li = spark.table("lineitem").count()
        preset = scale_conf(n_li)
        (knob, val), = preset.items()
        print(f"lineitem rows: {n_li:,} -> preset {knob.split('.')[-1]}"
              f"={val}")

        Q5 = """SELECT l_orderkey,
                       SUM(l_extendedprice * (1 - l_discount)) AS revenue
                FROM customer JOIN orders ON c_custkey = o_custkey
                              JOIN lineitem ON l_orderkey = o_orderkey
                WHERE c_mktsegment = 'BUILDING'
                GROUP BY l_orderkey ORDER BY revenue DESC LIMIT 10"""

        def spill_totals() -> "tuple[int, int]":
            sc = spark.sparkContext
            url = (f"{sc.uiWebUrl}/api/v1/applications/"
                   f"{sc.applicationId}/stages")
            with urllib.request.urlopen(url) as r:
                st = _json.load(r)
            return (sum(s.get("memoryBytesSpilled", 0) for s in st),
                    sum(s.get("diskBytesSpilled", 0) for s in st))

        # INTERLEAVED A/B (the r14a methodology rule this probe's own
        # first fixed-order run helped establish): alternate the two
        # configs so JVM/page-cache warmth cannot masquerade as a
        # config effect; report per-config best + all samples + the
        # per-config spill delta.
        def one(value) -> float:
            if value is None:
                spark.conf.unset(knob)
            else:
                spark.conf.set(knob, value)
            t0 = time.perf_counter()
            spark.sql(Q5).write.format("noop").mode("overwrite").save()
            return round(time.perf_counter() - t0, 2)

        one(None), one(val)  # warm both configs once, unmeasured
        pair = (("default-32", None), (f"preset-{val}", val))
        samples: dict = {label: [] for label, _ in pair}
        spills: dict = {label: [0, 0] for label, _ in pair}
        for rnd in range(4):
            # ABBA: alternate which config LEADS each round — a fixed
            # A,B order inside every pair would still hand config B a
            # systematic within-pair warmth edge (r14 review)
            for label, value in (pair if rnd % 2 == 0 else pair[::-1]):
                m0, d0 = spill_totals()
                samples[label].append(one(value))
                m1, d1 = spill_totals()
                spills[label][0] += m1 - m0
                spills[label][1] += d1 - d0
        for label, ss in samples.items():
            mem, disk = spills[label]
            print(f"sf10 q5 @ {label}: best {min(ss)}s of interleaved "
                  f"{ss}; spill over the 4 runs: mem {mem / 2**20:.0f} "
                  f"MiB, disk {disk / 2**20:.0f} MiB")
        spark.conf.unset(knob)
        return

    if "--r13d" in sys.argv:
        # round-13: per-group CMS at lake-ish scale — 6M rows / 100
        # groups, depth 4 × width 1024. Build wall + the state
        # honesty (cells ≤ groups·depth·width regardless of each
        # group's cardinality), then a 50-probe × 100-group query
        # from the stored cells with the never-under check against
        # exact truth for a planted hot item.
        from hdk_spark.operators.sketches import (
            cms_build_by_group, cms_query_by_group,
        )

        n, n_grp = 6_000_000, 100
        base = spark.range(n).select(
            F.concat(F.lit("g"), F.pmod(F.hash("id"), F.lit(n_grp))
                     .cast("string")).alias("g"),
            F.when(F.col("id") % 4 == 0, F.lit("hot"))
            .otherwise(
                F.concat(F.lit("u"),
                         F.pmod(F.hash("id", F.lit(7)), F.lit(200_000))
                         .cast("string"))).alias("v"),
        )
        t0 = time.perf_counter()
        sk = cms_build_by_group(base, "g", "v").persist()
        n_cells = sk.count()
        t_build = round(time.perf_counter() - t0, 2)
        probes = ["hot"] + [f"u{i * 977}" for i in range(49)]
        t0 = time.perf_counter()
        est = cms_query_by_group(sk, probes).persist()
        n_est = est.count()
        t_q = round(time.perf_counter() - t0, 2)
        hot_est = {r["grp"]: r["est"] for r in est.filter(
            F.col("item") == "hot").collect()}
        hot_true = {r["g"]: r["n"] for r in base.filter(
            F.col("v") == "hot").groupBy("g").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        under = sum(1 for g, n_ in hot_true.items()
                    if hot_est.get(g, 0) < n_)
        print(f"cms_build_by_group(6M rows, {n_grp} groups): {t_build}s "
              f"cells={n_cells} (≤ {n_grp * 4 * 1024} bound); "
              f"query {len(probes)} probes × {n_grp} groups "
              f"({n_est} estimates): {t_q}s; hot never-under "
              f"violations: {under}/{len(hot_true)}")
        est.unpersist()
        sk.unpersist()
        return

    if "--r9b" in sys.argv:
        # round-9 late additions on the 10x synth tables (50k docs,
        # 20k embeddings, 1M events — counts printed below)
        from hdk_spark.operators.denoise import fim_transform, mlm_mask
        from hdk_spark.operators.graph import label_propagation
        from hdk_spark.operators.similarity import mine_contrastive_pairs
        from hdk_spark.operators.sketches import frequent_items
        from hdk_spark.operators.stats import chi2_contingency
        from hdk_spark.operators.temporal import scd2_history
        from hdk_spark.operators.text import blocklist_gate
        from hdk_spark.operators.bpe import wordpiece_encode, wordpiece_train

        docs = spark.table("documents")
        d = F.col("doc_id")
        n_docs = docs.count()
        print("docs:", n_docs)

        # heavy hitters: 500k skewed items (10 per doc), k=100 — the MG
        # candidate pass must stay bounded while the tail is ~unique
        items = docs.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(9)),
                    lambda i: F.when(
                        (d + i) % 3 != 2,
                        F.concat(F.lit("hot"), ((d + i) % 17).cast("string")),
                    ).otherwise(
                        F.concat(F.lit("tail"), (d * 10 + i).cast("string"))
                    ),
                )
            ).alias("v")
        )
        t0 = time.perf_counter()
        hh = frequent_items(items, "v", k=100)
        n_hh = hh.count()
        print(f"frequent_items_{n_docs * 10}(k=100) -> {n_hh} hitters:",
              round(time.perf_counter() - t0, 2))

        # label propagation: 2 edge rows per doc (100k rows, 20k nodes)
        edges = docs.select(
            ((d * 2 + 1) % 20_000).alias("src"),
            ((d * 7 + 3) % 20_000).alias("dst"),
        ).union(docs.select(
            ((d * 3 + 2) % 20_000).alias("src"),
            ((d * 5 + 1) % 20_000).alias("dst"),
        ))
        t0 = time.perf_counter()
        lp = label_propagation(edges, rounds=3)
        n_comm = lp.select("label").distinct().count()
        print(f"label_propagation_{n_docs * 2}_edge_rows(3r) -> {n_comm} labels:",
              round(time.perf_counter() - t0, 2))

        # SCD2 over events 10x: one shuffle regardless of history depth
        ev = spark.table("events").select(
            F.col("user_id"), F.col("ts"), F.col("event_type")
        )
        print("scd2_events_10x:", best(
            lambda: scd2_history(ev, "user_id", "ts", ["event_type"]), n=1))

        # map-only sample builders + gates at 500k docs
        toks = docs.select(
            "doc_id",
            F.split(F.trim(F.lower("text")), r"\s+").alias("tokens"),
        )
        print("fim_docs:", best(lambda: fim_transform(toks), n=1))
        print("mlm_docs:", best(lambda: mlm_mask(toks), n=1))
        print("blocklist_docs:", best(
            lambda: blocklist_gate(docs, ["the", "data", "zz"]), n=1))

        # chi2: 5M-row cell collapse
        big = items.select(
            F.substring("v", 1, 3).alias("a"),
            (F.length("v") % 4).cast("string").alias("b"),
        )
        t0 = time.perf_counter()
        chi2_contingency(big, "a", "b").write.format("noop").mode(
            "overwrite").save()
        print("chi2_10x_items:", round(time.perf_counter() - t0, 2))

        # wordpiece: train on 50k docs, encode 500k (Arrow kernel)
        t0 = time.perf_counter()
        vocab = wordpiece_train(
            docs.filter(d % 10 == 0), n_merges=200, min_count=5)
        t_train = round(time.perf_counter() - t0, 2)
        print(f"wordpiece_train_tenth({len(vocab)} pieces):", t_train)
        print("wordpiece_encode_docs:", best(
            lambda: wordpiece_encode(docs, vocab), n=1))

        # contrastive mining at 100k embeddings (LSH candidates)
        emb = spark.table("embeddings")
        t0 = time.perf_counter()
        n_trip = mine_contrastive_pairs(
            emb, pos_threshold=0.35, neg_lo=0.2, neg_hi=0.35).count()
        print(f"contrastive_{emb.count()} -> {n_trip} triplets:",
              round(time.perf_counter() - t0, 2))
        return

    if "--r8" in sys.argv:
        # round-8 operators on the 10x synth tables (label
        # errata r9: documents is 50k rows — counts now printed)
        from hdk_spark.operators.graph import page_rank
        from hdk_spark.operators.sampling import shard_manifest
        from hdk_spark.operators.web import link_graph

        docs = spark.table("documents")
        print("docs:", docs.count())
        d = F.col("doc_id")
        n_dom = 20_000
        a = F.concat(F.lit("site"), ((d * 2 + 1) % n_dom).cast("string"),
                     F.lit(".com"))
        b = F.concat(F.lit("site"), ((d * 3 + 2) % n_dom).cast("string"),
                     F.lit(".com"))
        html = F.concat(
            F.lit('<html><body><a href="http://'), a,
            F.lit('/x">1</a><a href="https://'), b, F.lit('/y">2</a>'),
            F.lit("</body></html>"),
        )
        url = F.concat(F.lit("http://site"), (d % n_dom).cast("string"),
                       F.lit(".com/p/"), d.cast("string"))
        pages = docs.select("doc_id", url.alias("url"), html.alias("html"))
        t0 = time.perf_counter()
        edges = link_graph(pages).persist()
        n_edges = edges.count()
        print("link_graph_synth_pages:", round(time.perf_counter() - t0, 2),
              " edges:", n_edges)
        t0 = time.perf_counter()
        page_rank(
            edges.select(F.col("src_domain").alias("src"),
                         F.col("dst_domain").alias("dst"), "n_links"),
            iters=3, weight="n_links",
        ).write.format("noop").mode("overwrite").save()
        print("pagerank_3it_weighted:", round(time.perf_counter() - t0, 2))
        print("shard_manifest_1024:", best(
            lambda: shard_manifest(docs, n_shards=1024), n=1))
        return

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


if __name__ == "__main__":
    main()
