"""Physical-plan regression tests: the scale contract, made executable.

Each test pins a property that matters at 100 TB and that correctness
tests cannot see: filters reaching the parquet scan, column pruning,
dimension-side broadcast, no cartesian products in the sub-quadratic
operators, whole-stage codegen coverage, partial aggregation. If a
refactor silently changes a plan shape, these fail before a cluster
bill does.
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module", autouse=True)
def tables(spark):
    from __spark_entry__ import load_tables

    load_tables(spark, SF_CORRECT)


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    df = spark.sql(
        "SELECT l_orderkey FROM lineitem WHERE l_shipdate > TIMESTAMP '1997-01-01 00:00:00' AND l_quantity < 10"
    )
    p = plan(df)
    assert "PushedFilters: [" in p
    assert "IsNotNull(l_shipdate)" in p or "GreaterThan(l_shipdate" in p
    assert "LessThan(l_quantity,10" in p


def test_column_pruning_in_read_schema(spark):
    df = spark.sql("SELECT l_returnflag, COUNT(*) FROM lineitem GROUP BY l_returnflag")
    p = plan(df)
    # 16-column table, 1-column read
    assert "ReadSchema: struct<l_returnflag:string>" in p


def test_dimension_join_broadcasts_dimension_side(spark):
    df = spark.sql(
        """SELECT n_name, COUNT(*) FROM supplier
           JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name"""
    )
    p = plan(df)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_fact_fact_join_does_not_cartesian(spark):
    df = spark.sql(
        """SELECT COUNT(*) FROM orders JOIN lineitem ON l_orderkey = o_orderkey"""
    )
    p = plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_partial_aggregation_before_exchange(spark):
    df = spark.sql(
        "SELECT l_partkey, SUM(l_quantity) FROM lineitem GROUP BY l_partkey"
    )
    p = plan(df)
    # two HashAggregates (partial + final) around one hash exchange
    assert p.count("HashAggregate") >= 2
    assert "partial_sum" in p
    assert p.count("hashpartitioning(") == 1


def test_whole_stage_codegen_covers_agg_pipeline(spark):
    df = spark.sql(
        "SELECT l_returnflag, SUM(l_quantity) FROM lineitem GROUP BY l_returnflag"
    )
    df.collect()  # AQE finalizes the physical plan only on execution
    s = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen stages; both the scan+
    # partial-agg stage and the final-agg stage must be codegen'd
    assert "*(1)" in s and "*(2)" in s


def test_topk_uses_take_ordered(spark):
    df = spark.sql(
        "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC LIMIT 10"
    )
    p = plan(df)
    # distributed top-k, not a global sort
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p.split("TakeOrderedAndProject")[0]


def test_minhash_lsh_has_no_cartesian(spark):
    from hdk_spark.operators.dedup import minhash_lsh_dedup

    df = minhash_lsh_dedup(spark.table("documents"), threshold=0.5)
    p = plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_minhash_lsh_groups_single_consumer(spark):
    """The r15 banding restructure: intra-group pairs are emitted off
    the band-0 bucket rows, so the collapsed signature relation has
    exactly ONE consumer — no Union of a second `groups` scan. The
    operator caches nothing, so the whole pipeline is one lineage
    (no ReusedExchange), which makes the signature exchange
    AQE-coalescible (reused exchanges keep the initial partition
    count — the 03b4eb4 scale question)."""
    from hdk_spark.operators.dedup import minhash_lsh_dedup

    p = plan(minhash_lsh_dedup(spark.table("documents"), threshold=0.5))
    assert "Union" not in p, "groups relation re-scanned + union'd"
    assert "ReusedExchange" not in p, (
        "the pipeline must be a single lineage so AQE can coalesce the "
        "signature exchange"
    )


def test_minhash_sketch_udf_evaluated_once(spark):
    """The §4.4 duplication pin (r14): the sketch pandas UDF's isNotNull
    filter must NOT be pushed below the fan-out exchange by duplicating
    the UDF — the duplicated copy ran the whole sketch serially on the
    raw scan's partitioning (one task for a single-file corpus). The
    nondeterministic flag keeps exactly ONE Python eval node, placed
    ABOVE the exchange."""
    from hdk_spark.operators.dedup import (
        minhash_signatures,
        repartition_for_width,
    )

    df = minhash_signatures(
        repartition_for_width(spark.table("documents")), "doc_id", "text"
    )
    p = plan(df)
    # one eval node total (the plan prints each node once per id)
    import re

    evals = re.findall(r"\(\d+\) ArrowEvalPython", p)
    assert len(evals) == 1, f"expected 1 ArrowEvalPython node, got {len(evals)}"
    # and it sits above the round-robin exchange: the exchange's input
    # must not contain a pythonUDF column
    m = re.search(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", p)
    assert m is not None and "pythonUDF" not in m.group(1), (
        "the fan-out exchange should carry raw rows, not UDF output "
        f"(got inputs: {m and m.group(1)})"
    )


def test_analyze_fans_out_single_partition_input(spark):
    """analyze() must not run the whole interpreted-HOF profile in one
    task when the corpus arrives as a single scan partition (r14): its
    plan carries the round-robin fan-out exchange."""
    from hdk_spark.operators.text import analyze

    p = plan(analyze(spark.table("documents")))
    assert "RoundRobinPartitioning" in p


def test_repartition_for_width_follows_session_cores(spark, monkeypatch):
    """The fan-out is the session's defaultParallelism, not a fixed 32
    from an unset SPARK_GRAFT_CPUS: a vanilla session at any core count
    fans a single-partition input out to exactly its cores."""
    from hdk_spark.operators.dedup import repartition_for_width

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    df = repartition_for_width(spark.table("documents").coalesce(1))
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


@pytest.mark.parametrize("shape", ["scan", "groupBy", "broadcast_join"])
def test_repartition_for_width_runs_no_job(spark, shape):
    """The fan-out is decided from the physical plan: building it runs
    no job, also when the input ends in a shuffle (asking an adaptive
    plan for its partition count executes its shuffle stages)."""
    from hdk_spark.operators.dedup import repartition_for_width

    docs = spark.table("documents")
    df = {
        "scan": docs,
        "groupBy": docs.groupBy("doc_id").agg(F.max("text").alias("text")),
        "broadcast_join": docs.join(F.broadcast(docs.select("doc_id").limit(5)), "doc_id"),
    }[shape]
    sc = spark.sparkContext
    group = f"repartition_for_width_{shape}"
    sc.setJobGroup(group, group)
    try:
        repartition_for_width(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _build_commands(spark, build) -> int:
    """py4j commands the driver sends while ``build()`` composes a plan.
    Memory-delete commands are not counted: they free whichever Python
    proxies happen to die during the call, and the garbage collector is
    off for the same reason."""
    import gc

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = 0

    def counting(command, *args, **kwargs):
        nonlocal n
        if not command.startswith("m\nd\n"):
            n += 1
        return send(command, *args, **kwargs)

    gc.collect()
    gc.disable()
    client.send_command = counting
    try:
        df = build()
    finally:
        client.send_command = send
        gc.enable()
    assert df is not None
    return n


@pytest.mark.parametrize(
    "op", ["analyze", "minhash_md5", "ann_numpy", "ann_deterministic", "semantic_dedup"]
)
def test_operator_plan_build_budget(spark, op):
    """Fixed-shape expressions reach the JVM as SQL text: building each
    doc_dedup_search operator's plan costs at most ~150 gateway round
    trips (a Column-API tree cost 900-19,000, one per node).
    ``semantic_dedup`` runs its k-means rounds and connected-components
    loop while it builds, so its budget covers those jobs too; its
    k=4 x 64-dim centroid expressions cost 17,589 commands as trees."""
    from hdk_spark.operators.dedup import minhash_lsh_dedup, semantic_dedup
    from hdk_spark.operators.similarity import ann_lsh_topk
    from hdk_spark.operators.text import analyze

    docs, emb = spark.table("documents"), spark.table("embeddings")
    build = {
        "analyze": lambda: analyze(docs),
        "minhash_md5": lambda: minhash_lsh_dedup(docs, threshold=0.5, hash_basis="md5"),
        "ann_numpy": lambda: ann_lsh_topk(emb, [0, 1, 2], k=5, dim=64),
        "ann_deterministic": lambda: ann_lsh_topk(
            emb, [0, 1, 2], k=5, dim=64, deterministic=True),
        "semantic_dedup": lambda: semantic_dedup(emb, threshold=0.8),
    }[op]
    n = _build_commands(spark, build)
    budget = {"semantic_dedup": 1500}.get(op, 150)
    assert n <= budget, f"{op}: {n} py4j commands to build the plan"


def test_ngram_jaccard_joins_on_shingle_key(spark):
    from hdk_spark.operators.dedup import ngram_jaccard_pairs

    df = ngram_jaccard_pairs(spark.table("documents"), threshold=0.5)
    p = plan(df)
    assert "CartesianProduct" not in p


def test_ann_lsh_no_cartesian_and_broadcast_queries(spark):
    from hdk_spark.operators.similarity import ann_lsh_topk

    df = ann_lsh_topk(spark.table("embeddings"), [0, 1, 2], k=5)
    p = plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_in_subquery_becomes_semi_join(spark):
    df = spark.sql(
        """SELECT COUNT(*) FROM orders
           WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)"""
    )
    p = plan(df)
    assert "LeftSemi" in p


def test_window_single_exchange_per_partitioning(spark):
    df = spark.sql(
        """SELECT user_id, SUM(value) OVER (PARTITION BY user_id ORDER BY ts) AS r,
                  AVG(value) OVER (PARTITION BY user_id ORDER BY ts) AS a
           FROM events"""
    )
    p = plan(df)
    # both window functions share one partitioning: exactly one exchange
    assert p.count("hashpartitioning(") == 1


def test_scalar_functions_stay_jvm_side(spark):
    """Expression layer must not inject Python UDFs (SURVEY §2.3/2.8
    surface is all Catalyst)."""
    from hdk_spark.functions import scalar as sf

    e = spark.table("events")
    df = e.select(
        sf.extract("week", F.col("ts")),
        sf.date_trunc("quarterday", F.col("ts")),
        sf.date_add("month", 2, F.col("ts")),
        sf.width_bucket(F.col("value"), 0.0, 100.0, 10),
        sf.sample_ratio(0.5, F.col("event_id")),
    )
    p = plan(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def _raw_docs(spark):
    # raw scan (no load_tables repartition hint) — measure the operator,
    # not the test-fixture view
    return spark.read.parquet(f"{SF_CORRECT}/documents.parquet")


def test_hash_sample_is_map_only_codegen(spark):
    from hdk_spark.operators.sampling import hash_sample

    p = plan(hash_sample(_raw_docs(spark), "doc_id", 10))
    assert "Exchange" not in p  # no shuffle: pure scan+filter
    assert "* Filter" in p  # '*' = inside a whole-stage-codegen stage
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_stratified_and_packing_single_exchange(spark):
    from hdk_spark.operators.packing import pack_sequences
    from hdk_spark.operators.sampling import stratified_sample
    from hdk_spark.operators.text import token_count

    # the tree section (before the node details) lists each physical
    # node once — count exchanges there
    tree = plan(stratified_sample(_raw_docs(spark), "lang", 5, "doc_id")).split("\n\n")[0]
    assert tree.count("Exchange") == 1  # one shuffle on the stratum key
    # bonus pin: Spark pushes a partial per-stratum top-k below the
    # shuffle (WindowGroupLimit) — the sampled shuffle is candidate-sized
    assert "WindowGroupLimit" in tree

    toks = _raw_docs(spark).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    tree = plan(pack_sequences(toks, "doc_id", "n_tokens")).split("\n\n")[0]
    assert tree.count("Exchange") == 1  # one shuffle on the shard key


def test_top_terms_partial_agg_and_take_ordered(spark):
    from hdk_spark.operators.text import top_terms

    p = plan(top_terms(_raw_docs(spark), k=10))
    assert "TakeOrderedAndProject" in p  # never a full vocabulary sort
    assert "partial_count" in p or "HashAggregate" in p  # map-side combine


def final_plan(df) -> str:
    """AQE's executed plan — collect first so isFinalPlan=true."""
    df.collect()
    return plan(df)


def test_unigram_logprob_model_join_policy(spark):
    from hdk_spark.operators.text import unigram_logprob

    # Default (unbounded raw vocab): the model join must NOT be a
    # forced broadcast — at 100 TB the raw vocabulary is O(10^8-9)
    # rows and a forced broadcast OOMs every executor. AQE picks BHJ
    # here because the model measures small; never a cartesian.
    df = unigram_logprob(_raw_docs(spark))
    tree = plan(df).split("\n\n")[0]
    assert "CartesianProduct" not in tree
    ftree = final_plan(df).split("\n\n")[0]
    assert "BroadcastHashJoin" in ftree  # AQE's choice at bench scale
    assert "CartesianProduct" not in ftree

    # Bounded model (min_count>1 folds the Zipf tail into <unk>): the
    # forced broadcast is legal again and pinned.
    tree = plan(unigram_logprob(_raw_docs(spark), min_count=2)).split("\n\n")[0]
    assert "BroadcastHashJoin" in tree or "BroadcastNestedLoopJoin" in tree
    assert "CartesianProduct" not in tree


def test_lm_scoring_survives_large_model(spark):
    """Simulate AQE measuring the LM model as too big to broadcast
    (the 100 TB case): with broadcast disabled, unigram/bigram scoring
    must degrade to a shuffled equi-join — never a cartesian — and
    produce identical results."""
    from hdk_spark.operators.text import bigram_logprob, unigram_logprob

    docs = _raw_docs(spark)
    base_uni = {
        r["doc_id"]: r["avg_logprob"]
        for r in unigram_logprob(docs).collect()
    }
    thresholds = [
        ("spark.sql.autoBroadcastJoinThreshold", None),
        ("spark.sql.adaptive.autoBroadcastJoinThreshold", None),
    ]
    for i, (k, _) in enumerate(thresholds):
        try:
            thresholds[i] = (k, spark.conf.get(k))
        except Exception:
            pass
        spark.conf.set(k, "-1")
    try:
        for op in (unigram_logprob, bigram_logprob):
            df = op(docs)
            ftree = final_plan(df).split("\n\n")[0]
            # the 1-row scalar totals still cross-join via forced
            # broadcast (legal at any scale); the MODEL join must
            # degrade to a shuffled equi-join, never a cartesian
            assert "CartesianProduct" not in ftree
            assert (
                "SortMergeJoin" in ftree or "ShuffledHashJoin" in ftree
            ), "large-model path should shuffle-join, not broadcast"
        got = {
            r["doc_id"]: r["avg_logprob"]
            for r in unigram_logprob(docs).collect()
        }
        assert got == base_uni  # join strategy must not change values
    finally:
        for k, v in thresholds:
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_source_kl_single_corpus_pass(spark):
    from hdk_spark.operators.text import source_kl_divergence

    import re

    p = plan(source_kl_divergence(_raw_docs(spark)))
    tree = p.split("\n\n")[0]
    # one corpus-sized explode: every derived distribution re-aggregates
    # the persisted (group, token) counts, never re-scanning documents.
    # The cached subtree (with its single parquet scan node) is printed
    # once per InMemoryRelation reference — count DISTINCT scan node ids.
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))
    assert len(scan_ids) == 1, f"corpus scanned via {len(scan_ids)} distinct nodes"
    assert tree.count("InMemoryTableScan") >= 3  # corpus/group/total reuse
    # the corpus-distribution join is vocab-sized on both sides and NOT
    # force-broadcast (unbounded at 100 TB) — a shuffled join there is
    # legal; only a cartesian is a defect
    assert "CartesianProduct" not in tree


def test_embedding_covariance_single_agg_pass(spark):
    from hdk_spark.operators.stats import embedding_covariance

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    p = plan(embedding_covariance(emb, "embedding", n_dims=8))
    tree = p.split("\n\n")[0]
    # map-only element extraction + ONE mergeable aggregate pass: no
    # join (the explode-to-long formulation would self-join n·d rows),
    # a single exchange for the final one-row combine. The stack()
    # unpivot IS a Generate node, but it runs above the aggregate on a
    # single row — assert it never touches the scan side.
    assert "Join" not in tree
    assert tree.count("Exchange") == 1
    scan_side = tree.split("HashAggregate")[-1]  # below the partial agg
    assert "Generate" not in scan_side


def test_bigram_logprob_model_join_policy(spark):
    from hdk_spark.operators.text import bigram_logprob

    # Default (unbounded raw bigram model — strictly larger than the
    # unigram vocab): no forced broadcast; AQE broadcasts the
    # measured-small model at bench scale. Never a cartesian.
    df = bigram_logprob(_raw_docs(spark))
    assert "CartesianProduct" not in plan(df).split("\n\n")[0]
    ftree = final_plan(df).split("\n\n")[0]
    assert "BroadcastHashJoin" in ftree
    assert "CartesianProduct" not in ftree

    # min_count>1 bounds the model (kept bigrams + one <unk> row per
    # context) → forced broadcast pinned
    tree = plan(bigram_logprob(_raw_docs(spark), min_count=2)).split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in tree


def test_trigram_logprob_plan_and_semantics(spark):
    import math
    import re

    from hdk_spark.operators.text import ccnet_buckets, trigram_logprob

    docs = _raw_docs(spark)
    df = trigram_logprob(docs)
    tree = plan(df).split("\n\n")[0]
    # corpus-derived model relations must never force-broadcast or
    # degenerate to a cartesian (100 TB rule); the model side is ONE
    # persisted position explode (single scan node) — the scoring side
    # legitimately re-scans (raw scan beats materializing the corpus-
    # sized position relation, the unigram_logprob trade)
    assert "CartesianProduct" not in tree
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", tree))
    assert len(scan_ids) <= 2, f"{len(scan_ids)} distinct corpus scans"
    assert "InMemoryTableScan" in tree  # tri/big/uni reuse the cache

    # semantics: <3-token docs are dropped; an all-identical corpus
    # scores ln((0.5+0.3)+0.2) = 0 exactly
    tiny = spark.createDataFrame(
        [(1, "a a a a"), (2, "a a"), (3, None)],
        "doc_id: long, text: string",
    )
    rows = {r["doc_id"]: r for r in trigram_logprob(tiny).collect()}
    assert set(rows) == {1}
    assert rows[1]["n_trigrams"] == 2
    assert rows[1]["avg_logprob"] == 0.0

    # cross-corpus: unseen trigram/bigram contexts contribute 0, the
    # unigram term floors at count 1 — position scores stay finite
    model = spark.createDataFrame([(10, "x y z x y")], "doc_id: long, text: string")
    target = spark.createDataFrame([(1, "q q q")], "doc_id: long, text: string")
    out = trigram_logprob(target, model_df=model).collect()
    assert len(out) == 1 and out[0]["n_trigrams"] == 1
    # q unseen → (0.5·0 + 0.3·0) + 0.2·(1/5)
    assert out[0]["avg_logprob"] == round(math.log(0.2 * (1.0 / 5.0)), 6)

    # the hashed-key basis is count-identical to text keys when no
    # 64-bit collision occurs (certain at this corpus size)
    a = {
        r["doc_id"]: (r["n_trigrams"], r["avg_logprob"])
        for r in trigram_logprob(docs, basis="text").collect()
    }
    b = {
        r["doc_id"]: (r["n_trigrams"], r["avg_logprob"])
        for r in trigram_logprob(docs, basis="xxhash64").collect()
    }
    assert a == b

    import pytest

    with pytest.raises(ValueError):
        trigram_logprob(tiny, lambdas=(0.5, 0.5, 0.5))
    with pytest.raises(ValueError):
        trigram_logprob(tiny, basis="md5")
    with pytest.raises(ValueError):
        ccnet_buckets(tiny, model="bogus")


def test_train_lang_id_contract(spark):
    import pytest

    from hdk_spark.operators.text import lang_id_ngram, train_lang_id

    labeled = spark.createDataFrame(
        [
            (1, "aa", "the and of to in the and of"),
            (2, "bb", "der die das und ist der die"),
            (3, "aa", "the of and in to of the"),
            (4, "bb", "und das die der ist und"),
            (5, None, "ignored null label"),
        ],
        "doc_id: long, y: string, text: string",
    )
    with pytest.raises(ValueError):
        train_lang_id(labeled, label_col="y", iterations=0)
    with pytest.raises(ValueError):
        train_lang_id(labeled, label_col="y", basis="sha1")
    with pytest.raises(ValueError):
        train_lang_id(labeled.filter("y = 'aa'"), label_col="y")

    # deterministic: two runs, both feature paths, give identical weights
    for B in (8, 32):  # map-only path and explode path
        w_a = train_lang_id(labeled, label_col="y", n_buckets=B, iterations=2)
        w_b = train_lang_id(labeled, label_col="y", n_buckets=B, iterations=2)
        assert w_a == w_b
        assert sorted(w_a) == ["aa", "bb"]
        assert all(len(v) == B for v in w_a.values())
        # the trained model separates the two planted dialects
        out = {
            r["doc_id"]: r["lang"]
            for r in lang_id_ngram(
                labeled.filter("y IS NOT NULL"), n_buckets=B, model=w_a
            ).collect()
        }
        assert out == {1: "aa", 2: "bb", 3: "aa", 4: "bb"}

    # model= validation
    with pytest.raises(ValueError):
        lang_id_ngram(labeled, n_buckets=8, model={"aa": [0.0] * 4})
    with pytest.raises(ValueError):
        lang_id_ngram(labeled, n_buckets=8, model={})
    with pytest.raises(ValueError):
        lang_id_ngram(
            labeled, n_buckets=8, model={"aa": [0.0] * 8}, langs=["aa"]
        )
    # all-equal scores tie → alphabetically first model key
    tie = {
        "xx": [0.5] * 8,
        "ay": [0.5] * 8,
    }
    rows = lang_id_ngram(labeled, n_buckets=8, model=tie).collect()
    assert all(r["lang"] == "ay" for r in rows)


def test_url_features_map_only(spark):
    from hdk_spark.operators.web import domain_stats, url_features

    df = spark.createDataFrame(
        [(1, "https://a.b.com/x/y")], "doc_id long, url string"
    )
    tree = plan(url_features(df, "url")).split("\n\n")[0]
    assert "Exchange" not in tree and "Join" not in tree  # pure projection
    # domain_stats: exactly one exchange (the reg_domain partial-agg)
    tree = plan(domain_stats(df, "url")).split("\n\n")[0]
    assert tree.count("Exchange") <= 2  # groupBy + countDistinct expand
    assert "Join" not in tree


def test_round4_operator_plan_shapes(spark):
    """Exchange-count pins for the round-4 operators: map-only stages
    must stay shuffle-free; single-aggregation stages get exactly one
    exchange."""
    from hdk_spark.operators.profile import histogram, skew_report, summarize
    from hdk_spark.operators.temporal import detect_gaps, rolling_zscore
    from hdk_spark.operators.text import hashed_linear_score, redact_pii

    docs = _raw_docs(spark)
    ev = spark.table("events")  # load_tables view: ts normalized to µs TIMESTAMP

    # map-only: zero exchanges, no joins
    for df in (redact_pii(docs), hashed_linear_score(docs)):
        tree = plan(df).split("\n\n")[0]
        assert "Exchange" not in tree and "Join" not in tree

    # one-pass profile: a global aggregate is one exchange, no join
    tree = plan(summarize(docs, ["n_chars"])).split("\n\n")[0]
    assert tree.count("Exchange") == 1 and "Join" not in tree

    # histogram: one groupBy exchange + the bins-sized presentation sort
    tree = plan(histogram(docs, "n_chars", 10, 0.0, 10000.0)).split("\n\n")[0]
    assert tree.count("Exchange") <= 2 and "Join" not in tree

    # skew report: counts exchange + top-k single-partition window +
    # broadcast total — never a shuffled join
    tree = plan(skew_report(docs, "lang")).split("\n\n")[0]
    assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree

    # keyed window operators: exactly one keyed exchange
    for df in (
        detect_gaps(ev, "user_id", "ts", "event_id", "6 hours"),
        rolling_zscore(ev, "user_id", "ts", "value", "event_id"),
    ):
        tree = plan(df).split("\n\n")[0]
        assert tree.count("Exchange") == 1 and "Join" not in tree


def test_keep_best_no_cartesian_single_corpus_join(spark):
    from hdk_spark.operators.dedup import dedup_keep_best

    docs = _raw_docs(spark)
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    p = plan(dedup_keep_best(docs, pairs, "doc_id", "n_chars"))
    tree = p.split("\n\n")[0]
    # clustering runs over the pair graph only; the corpus joins the
    # doc->cluster map once and the winner pass is window-based
    assert "CartesianProduct" not in tree
    assert "Window" in tree


def test_tpch_pack_plans_stay_equi_join(spark):
    """The FULL 22-query TPC-H pack (correlated subqueries included)
    must decorrelate into pure equi-join plans — never a cartesian /
    broadcast-nested-loop step — with a bounded exchange count
    (audited by hand at 11 for Q2, the deepest decorrelation)."""
    import __spark_entry__ as entry
    from tests.conftest import SF_CORRECT

    qs = entry.queries()
    pack = [n for n in qs
            if n.startswith("tpch_") or n in (
                "q1_pricing_summary", "q3_shipping_priority",
                "q5_region_revenue", "q6_revenue_forecast")]
    assert len(pack) == 22  # the complete TPC-H shape suite
    for name in pack:
        full = plan(qs[name](spark, SF_CORRECT))
        assert "CartesianProduct" not in full, name
        assert "BroadcastNestedLoopJoin" not in full, name
        # count exchanges in the tree section only (the formatted
        # detail section repeats every node)
        tree = full.split("\n\n")[0]
        assert tree.count("Exchange") <= 12, name


def test_segment_dedup_exchange_bound(spark):
    """segment_dedup: bounded keyed exchanges (freq agg + freq join +
    reassembly), no cartesian, no forced broadcast of the
    corpus-derived frequency relation."""
    from hdk_spark.operators.dedup import segment_dedup

    docs = _raw_docs(spark)
    df = segment_dedup(docs, mode="words", words_per_segment=3, max_freq=2)
    tree = plan(df).split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert tree.count("Exchange") <= 4


def test_canonical_url_rules(spark):
    """Canonicalization rules on planted URLs: case, www, fragments,
    default ports, trailing slashes, tracking params, param sorting,
    junk passthrough."""
    from hdk_spark.operators.web import canonical_url

    cases = [
        ("https://WWW.Example.COM:443/a/b/#frag", "https://example.com/a/b"),
        ("http://example.com:80/", "http://example.com"),
        ("http://example.com:8080/x/", "http://example.com:8080/x"),
        ("https://example.com/a?utm_source=x&b=2&a=1",
         "https://example.com/a?a=1&b=2"),
        ("https://example.com/a?b=2&a=1",
         "https://example.com/a?a=1&b=2"),
        ("https://example.com/a?utm_source=x&gclid=1&fbclid=2",
         "https://example.com/a"),
        # tracking filter is case-insensitive and matches bare params
        ("https://example.com/a?UTM_SOURCE=x&Gclid=1&fbclid",
         "https://example.com/a"),
        ("https://example.com/a?refine=1&b=2",  # 'ref' must not prefix-match
         "https://example.com/a?b=2&refine=1"),
        ("HTTPS://example.com", "https://example.com"),
        ("not a url at all", "not a url at all"),
        ("", ""),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i: long, url: string")
    got = {r["i"]: r["c"] for r in df.select(
        "i", canonical_url(F.col("url")).alias("c")).collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)


def test_url_dedup_keep_first(spark):
    from hdk_spark.operators.web import url_dedup

    df = spark.createDataFrame(
        [(1, "https://www.a.com/x/"),
         (2, "https://a.com/x?utm_source=y"),
         (3, "HTTPS://A.COM:443/x"),
         (4, "https://a.com/other")],
        "doc_id: long, url: string",
    )
    rows = {r["doc_id"]: r for r in url_dedup(df).collect()}
    assert all(rows[i]["canonical_url"] == "https://a.com/x"
               for i in (1, 2, 3))
    assert not rows[1]["is_dup"] and rows[2]["is_dup"] and rows[3]["is_dup"]
    assert rows[1]["group_size"] == 3
    assert not rows[4]["is_dup"] and rows[4]["group_size"] == 1


def test_canonical_url_map_only_plan(spark):
    from hdk_spark.operators.web import canonical_url

    df = spark.createDataFrame([(1, "https://a.com/x")], "i: long, url: string")
    p = (
        df.select(canonical_url(F.col("url")))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in p and "Join" not in p


def test_domain_cap_deterministic_and_capped(spark):
    from hdk_spark.operators.web import domain_cap

    rows = [(i, f"https://big.com/p{i}") for i in range(40)] + [
        (100, "https://small.com/x"), (101, "https://small.com/y")]
    df = spark.createDataFrame(rows, "doc_id: long, url: string")
    got = domain_cap(df, max_per_domain=5).collect()
    by_dom = {}
    for r in got:
        by_dom.setdefault(r["reg_domain"], []).append(r)
    assert sum(r["kept"] for r in by_dom["big.com"]) == 5
    assert all(r["kept"] for r in by_dom["small.com"])
    # rank is a permutation per domain
    ranks = sorted(r["domain_rank"] for r in by_dom["big.com"])
    assert ranks == list(range(1, 41))
    # deterministic under repartition: identical kept set
    again = {r["doc_id"]: r["kept"]
             for r in domain_cap(df.repartition(7), max_per_domain=5).collect()}
    assert again == {r["doc_id"]: r["kept"] for r in got}
    # hash order, not id order: the kept big.com ids are NOT simply 0..4
    kept_big = sorted(r["doc_id"] for r in by_dom["big.com"] if r["kept"])
    assert kept_big != list(range(5))


def test_ccnet_buckets_semantics(spark):
    """Planted corpus: model-like docs land in head, gibberish in
    tail; per-language thirds are near-equal; the bucket column
    partitions the corpus."""
    from hdk_spark.operators.text import ccnet_buckets

    common = "the cat sat on the mat and the dog ran over the hill"
    rows = []
    for i in range(9):
        rows.append((i, common, "en"))                  # model-like
    for i in range(9, 12):
        rows.append((i, f"zzq{i} qqz{i} xjv{i} vvk{i}", "en"))  # gibberish
    df = spark.createDataFrame(rows, "doc_id: long, text: string, lang: string")
    got = {r["doc_id"]: r for r in ccnet_buckets(df, lang_col="lang").collect()}
    assert len(got) == 12
    from collections import Counter
    sizes = Counter(r["bucket"] for r in got.values())
    assert sizes == {"head": 4, "middle": 4, "tail": 4}
    # every gibberish doc is in the tail (rare tokens -> low logprob)
    for i in range(9, 12):
        assert got[i]["bucket"] == "tail", got[i]
    # scores monotone: head min >= tail max
    head_min = min(r["avg_logprob"] for r in got.values() if r["bucket"] == "head")
    tail_max = max(r["avg_logprob"] for r in got.values() if r["bucket"] == "tail")
    assert head_min >= tail_max


def test_ccnet_buckets_cross_model_and_global(spark):
    from hdk_spark.operators.text import ccnet_buckets

    model = spark.createDataFrame(
        [(100, "alpha beta gamma alpha beta")], "doc_id: long, text: string")
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta"),
         (3, "alpha alpha beta")],
        "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in ccnet_buckets(
        df, model_df=model).collect()}
    assert all(r["lang"] == "all" for r in got.values())
    # doc 2 shares nothing with the model -> worst score -> tail;
    # doc 3 repeats the model's highest-mass token -> best -> head
    assert got[2]["bucket"] == "tail"
    assert got[3]["bucket"] == "head"
    assert got[1]["bucket"] == "middle"


def test_domain_boilerplate_removal_planted(spark):
    """Shared nav/footer lines vanish per domain; unique content stays;
    single-page domains keep everything (min_pages floor); both key
    bases agree."""
    from hdk_spark.operators.web import domain_boilerplate_removal

    nav, foot = "home about contact", "copyright 2024 acme"
    rows = [
        (1, "https://a.com/1", f"{nav}\nunique one\n{foot}"),
        (2, "https://a.com/2", f"{nav}\nunique two\n{foot}"),
        (3, "https://a.com/3", f"{nav}\nunique three\n{foot}"),
        # b.com: nav on 1 of 2 pages (50% -> boiler at frac=0.5)
        (4, "https://b.com/1", "bee nav\nbee one"),
        (5, "https://b.com/2", "bee two"),
        # single-page domain: nothing removed even though 100% frac
        (6, "https://solo.com/1", "solo nav\nsolo text"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, url: string, text: string")
    for basis in ("text", "xxhash64"):
        got = {r["doc_id"]: r for r in domain_boilerplate_removal(
            df, basis=basis).collect()}
        assert got[1]["clean_text"] == "unique one"
        assert got[2]["clean_text"] == "unique two"
        assert got[1]["n_lines"] == 3 and got[1]["n_removed_lines"] == 2
        # b.com: 'bee nav' is on 1/2 pages -> ceil(0.5*2)=1 but
        # min_pages=2 floors it -> kept
        assert got[4]["clean_text"] == "bee nav\nbee one"
        assert got[6]["clean_text"] == "solo nav\nsolo text"
        assert got[6]["n_removed_lines"] == 0


def test_domain_boilerplate_removal_no_forced_broadcast(spark):
    from hdk_spark.operators.web import domain_boilerplate_removal

    df = spark.createDataFrame(
        [(1, "https://a.com/1", "x\ny")], "doc_id: long, url: string, text: string")
    p = (
        domain_boilerplate_removal(df)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "CartesianProduct" not in p
    assert "ResolvedHint" not in p


def test_canonical_url_idempotent_on_random_urls(spark):
    """canonical(canonical(u)) == canonical(u) over a seeded mess of
    generated URLs (schemes/case/www/ports/params/fragments/junk) —
    the fixed-point property a dedup KEY must have, checked in one
    batch job."""
    import random

    from hdk_spark.operators.web import canonical_url

    rng = random.Random(13)
    urls = []
    for i in range(300):
        if rng.random() < 0.15:
            urls.append("".join(rng.choice("<>:/?#&= abc%") for _ in range(
                rng.randint(0, 12))))
            continue
        scheme = rng.choice(["http", "https", "HTTP", "HtTpS", "ftp"])
        host = rng.choice(["www.", "", "WWW."]) + rng.choice(
            ["a.com", "B.Org", "x.co.uk", "site7.net"])
        port = rng.choice(["", ":80", ":443", ":8080"])
        path = rng.choice(["", "/", "/a", "/a/b/", "/a//"])
        params = rng.sample(
            ["utm_source=x", "b=2", "a=1", "gclid=9", "z=3&y=4"],
            rng.randint(0, 3))
        q = ("?" + "&".join(params)) if params else ""
        frag = rng.choice(["", "#f", "#a/b?c"])
        urls.append(f"{scheme}://{host}{port}{path}{q}{frag}")
    df = spark.createDataFrame(
        list(enumerate(urls)), "i: long, url: string")
    once = df.select("i", canonical_url(F.col("url")).alias("c1"))
    twice = once.select(
        "i", "c1", canonical_url(F.col("c1")).alias("c2"))
    bad = twice.filter(F.col("c1") != F.col("c2")).collect()
    assert bad == [], bad[:5]


def test_html_to_text_total_on_random_soup(spark):
    """Seeded random tag soup (unbalanced tags, stray entities, binary-
    ish chars): extraction never errors and never leaves a complete
    dropped-block element behind."""
    import random

    from hdk_spark.operators.html import html_to_text

    rng = random.Random(29)
    frags = ["<p>", "</p>", "<script>", "</script>", "<b", ">", "&amp;",
             "&bogus;", "text ", "<div class='x'>", "<!--", "-->",
             "\n", "<style>", "</style>", "xx<yy", "&#39;"]
    docs = [(i, "".join(rng.choice(frags) for _ in range(rng.randint(0, 40))))
            for i in range(300)]
    df = spark.createDataFrame(docs, "i: long, h: string")
    rows = df.select("i", html_to_text(F.col("h")).alias("t")).collect()
    assert len(rows) == 300
    for r in rows:
        t = r["t"]
        assert t is not None
        assert "<p>" not in t and "</p>" not in t and "<div" not in t


_ROBOTS = """# site robots
User-agent: *
Disallow: /private
Allow: /private/ok
Disallow:

User-agent: evilbot
Disallow: /
"""


def test_parse_robots_blocks_and_rules(spark):
    from hdk_spark.operators.web import parse_robots

    df = spark.createDataFrame(
        [("a.com", _ROBOTS)], "reg_domain: string, robots_txt: string")
    rules = {(r["agent"], r["allow"], r["prefix"])
             for r in parse_robots(df).collect()}
    assert rules == {
        ("*", False, "/private"),
        ("*", True, "/private/ok"),
        ("evilbot", False, "/"),
    }  # comment, blank Disallow, and header lines all dropped


def test_robots_filter_longest_match_and_defaults(spark):
    from hdk_spark.operators.web import parse_robots, robots_filter

    rules = parse_robots(spark.createDataFrame(
        [("a.com", _ROBOTS)], "reg_domain: string, robots_txt: string"))
    urls = spark.createDataFrame(
        [(1, "https://a.com/private/x"),      # blocked by /private
         (2, "https://a.com/private/ok/y"),   # longest match ALLOWS
         (3, "https://a.com/public"),         # no rule -> allowed
         (4, "https://other.com/private")],   # no rules for domain
        "doc_id: long, url: string")
    got = {r["doc_id"]: r for r in robots_filter(urls, rules).collect()}
    assert not got[1]["allowed"] and got[1]["matched_prefix"] == "/private"
    assert got[2]["allowed"] and got[2]["matched_prefix"] == "/private/ok"
    assert got[3]["allowed"] and got[3]["matched_prefix"] is None
    assert got[4]["allowed"]
    # a domain WITH a specific-agent group: only that group applies
    evil = {r["doc_id"]: r["allowed"] for r in robots_filter(
        urls, rules, agent="evilbot").collect()}
    assert evil == {1: False, 2: False, 3: False, 4: True}


def test_robots_filter_agent_star_fallback(spark):
    """RFC 9309 §2.2.1 (VERDICT r6 #6): a named agent falls back to
    the domain's '*' group when no specific group exists, and a
    specific group EXCLUDES the '*' group when it does."""
    from hdk_spark.operators.web import parse_robots, robots_filter

    two_groups = (
        "User-agent: *\nDisallow: /all\n"
        "User-agent: mybot\nDisallow: /mine\n"
    )
    star_only = "User-agent: *\nDisallow: /star\n"
    rules = parse_robots(spark.createDataFrame(
        [("a.com", two_groups), ("b.com", star_only)],
        "reg_domain: string, robots_txt: string"))
    urls = spark.createDataFrame(
        [(1, "https://a.com/mine/x"),   # specific group blocks
         (2, "https://a.com/all/x"),    # '*' group must NOT apply on a.com
         (3, "https://b.com/star/x"),   # fallback to '*' on b.com
         (4, "https://b.com/free")],
        "doc_id: long, url: string")
    got = {r["doc_id"]: r["allowed"] for r in robots_filter(
        urls, rules, agent="MyBot").collect()}
    assert got == {1: False, 2: True, 3: False, 4: True}
    # '*' agent still sees only the '*' groups
    star = {r["doc_id"]: r["allowed"] for r in robots_filter(
        urls, rules).collect()}
    assert star == {1: True, 2: False, 3: False, 4: True}


def test_round9_operator_plan_shapes(spark):
    """Plan pins for the round-9 operators: PQ encode is map-only (no
    exchange/join — codebooks are literals), the politeness schedule
    is exactly one domain-keyed window exchange, and unigram encode is
    a single Arrow stage with no shuffle."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.bpe import unigram_encode
    from hdk_spark.operators.similarity import pq_encode
    from hdk_spark.operators.web import politeness_schedule

    emb = spark.table("embeddings")
    cbs = [[[0.05 * c] * 8 for c in range(4)] for _ in range(8)]
    p = plan(pq_encode(emb, cbs))
    assert "Exchange" not in p and "Join" not in p

    urls = spark.table("documents").select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".com/p"), F.col("doc_id").cast("string")).alias("url")
    )
    p2 = plan(politeness_schedule(urls, per_host=3))
    assert p2.count("hashpartitioning(") == 1 and "Window" in p2

    p3 = plan(unigram_encode(
        spark.table("documents"), [("a", -1.0), ("b", -1.2)]))
    assert "Exchange" not in p3 and "Join" not in p3


def test_round10_operator_plan_shapes(spark):
    """Round-10 operators keep the repo's plan discipline:
    bitext_mine has NO cartesian/nested-loop path (candidates are an
    equi-join on bucket id — the no-all-pairs claim, pinned);
    sq8_encode is a map-only projection (no Exchange, no Join);
    pack_stats adds exactly the two accounting aggregations over the
    pack relation and never a window of its own."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.packing import pack_sequences, pack_stats
    from hdk_spark.operators.similarity import (
        bitext_mine,
        sq8_encode,
        sq8_train,
    )

    emb = spark.table("embeddings")
    p = plan(bitext_mine(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k=2, n_planes=4, n_probes=2, dim=64,
    ))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    bounds = sq8_train(emb)
    p2 = plan(sq8_encode(emb, bounds))
    assert "Exchange" not in p2 and "Join" not in p2

    docs = spark.table("documents").select(
        "doc_id", (F.col("doc_id") % 97 + 3).alias("n_tokens")
    )
    packed = pack_sequences(docs, "doc_id", "n_tokens", budget=128)
    p3 = plan(pack_stats(packed, 128))
    # stats adds aggregations only — the composed plan carries exactly
    # the pack's own Window nodes, no re-pack, no stats window
    # (formatted plans print each node twice: tree + detail section)
    assert p3.count("Window") == plan(packed).count("Window")


def test_sq8_ann_composition_plan_shape(spark):
    """The coded-lake entrance stays map-only up to the bucket join:
    sq8_decode is a projection (no Exchange/Join of its own), and the
    composed ann_multiprobe_topk(codes=) plan has the SAME join/
    exchange inventory as the float-corpus plan — dequantization must
    not add a shuffle, a join, or a cartesian path."""
    from hdk_spark.operators.similarity import (
        ann_multiprobe_topk,
        sq8_decode,
        sq8_encode,
        sq8_train,
    )

    emb = spark.table("embeddings")
    bounds = sq8_train(emb)
    coded = sq8_encode(emb, bounds)
    p = plan(sq8_decode(coded, bounds))
    assert "Exchange" not in p and "Join" not in p

    kw = dict(k=3, n_planes=4, n_probes=3)
    pc = plan(ann_multiprobe_topk(None, [0, 1], codes=coded,
                                  bounds=bounds, **kw))
    pf = plan(ann_multiprobe_topk(emb, [0, 1], **kw))
    assert "CartesianProduct" not in pc
    assert "BroadcastNestedLoopJoin" not in pc
    for node in ("Join", "Exchange"):
        assert pc.count(node) == pf.count(node), node


def test_round11_sketch_plan_shapes(spark):
    """Round-11 sketch families keep the plan discipline that makes
    them 100 TB-safe: dds_build is one map-only projection + one
    partial-agg groupBy (no Join, no Window — the corpus is touched
    exactly once); kmv_summary's bottom-k compiles to
    TakeOrderedAndProject (per-partition top-k + k-sized merge),
    never a global Sort or Window over the distinct relation."""
    from hdk_spark.operators.sketches import dds_build, kmv_summary

    li = spark.table("lineitem")
    p = plan(dds_build(li, "l_extendedprice"))
    assert "Join" not in p and "Window" not in p
    assert "HashAggregate" in p

    # dds_quantile consumes the sketch from three subtrees (cumulative
    # walk, total, rank targets) — the operator persists it, so every
    # subtree reads the cache (InMemoryTableScan) instead of
    # re-deriving the corpus aggregation per subtree (the un-persisted
    # plan carried FOUR parquet scans)
    from hdk_spark.operators.sketches import dds_quantile

    pq = plan(dds_quantile(dds_build(li, "l_extendedprice"), [0.25, 0.5]))
    assert pq.count("InMemoryTableScan") >= 3

    p2 = plan(kmv_summary(li, "l_orderkey", k=64))
    assert "TakeOrderedAndProject" in p2
    assert "Window" not in p2
    # no global all-rows sort: a true ORDER BY materializes as a
    # rangepartitioning Exchange; the only Sorts here are the LOCAL
    # (global=false) sorts inside SortAggregate, and the only Exchange
    # is the single hash shuffle of the distinct-hash aggregate —
    # Catalyst's RemoveRedundantAggregates even folds the .distinct()
    # into the min-by-hash aggregate (min is duplicate-insensitive),
    # so the whole summary costs ONE shuffle
    assert "rangepartitioning" not in p2
    assert p2.count("+- Exchange") == 1


def test_mg_trim_has_no_window_over_count_relation(spark):
    """VERDICT r11 #3: the MG trim's rank-(k+1) median must not
    row_number whole shards through window partitions (a vocabulary-
    sized single-task sort at lake scale). The windowless two-phase
    form pins here: NO Window anywhere in mg_summary's plan — the
    median comes from salted bounded top-(k+1) aggregations — and the
    ≤ n_shards-row median relation joins back as a broadcast, never a
    shuffle of the count relation toward a sort."""
    from hdk_spark.operators.sketches import mg_summary

    li = spark.table("lineitem")
    summ = mg_summary(li, "l_orderkey", k=16, n_shards=4)
    p = plan(summ)  # executed (mg_summary is eager; plan is resolved)
    assert "Window" not in p
    assert "rangepartitioning" not in p
    # both joins broadcast their bounded side: the ≤ n_shards-row
    # median relation into the subtraction, the trimmed summary into
    # the n_shard accounting — the count relation itself never ships
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p
    summ.unpersist()


def test_kmv_by_group_plan_no_window_no_per_group_jobs(spark):
    """kmv_by_group's per-group bottom-k must come from the salted
    two-phase aggregation: NO Window over the distinct relation (a
    per-group row_number sorts whole groups through single tasks), NO
    rangepartitioning (no global sort), no Join anywhere — one
    distinct aggregation + two bounded ObjectHashAggregates, however
    many groups."""
    from hdk_spark.operators.sketches import kmv_by_group

    li = spark.table("lineitem")
    p = plan(kmv_by_group(li, "l_returnflag", "l_orderkey", k=64))
    assert "Window" not in p
    assert "rangepartitioning" not in p
    assert "Join" not in p
    assert "TakeOrderedAndProject" not in p  # that is the GLOBAL path
    assert "ObjectHashAggregate" in p


def test_kmv_pairwise_stats_plan_summary_sized(spark):
    """kmv_pairwise_stats' plan must be SUMMARY-sized end-to-end: the
    only corpus work is the kmv_by_group build it consumes (cached —
    InMemoryTableScans, one parquet scan), the pair enumeration is the
    deliberate nested-loop of two GROUP-COUNT-sized side relations
    (never of anything row-scaled), the per-pair union bottom-k
    windows only over the ≤ pairs·2k union relation, and there is no
    rangepartitioning (no global sort) anywhere."""
    from hdk_spark.operators.sketches import kmv_by_group, kmv_pairwise_stats

    li = spark.table("lineitem")
    summ = kmv_by_group(li, "l_returnflag", "l_orderkey", k=64)
    p = plan(kmv_pairwise_stats(summ, k=64))
    # the persisted summary projection feeds every subtree through the
    # cache (side stats + both pair tags) instead of re-deriving the
    # corpus bottom-k per consumer
    assert "InMemoryTableScan" in p
    assert "rangepartitioning" not in p  # no global sort anywhere
    # the pair enumeration exists (that IS the matrix) but only as a
    # nested loop whose BOTH sides are group-count-sized aggregate
    # outputs; an unconstrained cartesian of row-scaled relations
    # would surface as CartesianProduct
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    # the bottom-k walk windows over the pair-tagged union relation
    # (bounded at pairs·2k rows), partitioned by the pair key — never
    # a Window keyed on anything row-scaled
    assert "Window" in p
    assert "windowspecdefinition(__ga#" in p  # keyed on the pair key
