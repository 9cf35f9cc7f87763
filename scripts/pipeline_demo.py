"""End-to-end training-data curation pipeline on hdk_spark — the
operators composed the way a real corpus job chains them:

  ingest → text profile + quality gate → Gopher rule gate →
  PII redaction → segment-level (line) dedup → repeated-substring
  span removal → minhash near-dup pairs → keep-best collapse →
  decontamination vs an eval set → token-budget mixture plan →
  per-source down-sampling → deterministic shuffle shards →
  sequence packing → z-ordered parquet export

Run: python scripts/pipeline_demo.py [sf_dir] [out_dir]
Prints one JSON line of per-stage row counts (the numbers a pipeline
owner monitors). Every stage is the library operator the driver
contract checks; this script only composes them. ``run(spark, sf_dir,
out_dir)`` returns the same counts on a session the caller owns.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(spark, sf_dir: str, out_dir: str) -> "dict[str, int]":
    """Run the pipeline on ``spark`` over ``sf_dir``'s tables, write the
    corpus under ``out_dir`` and return the per-stage row counts. The
    views of ``sf_dir`` stay registered; the pipeline's own caches and
    its ``final`` view are released."""
    from pyspark.sql import functions as F

    from __spark_entry__ import load_tables
    from hdk_spark.operators.dedup import (
        contamination_flags,
        dedup_keep_best,
        minhash_lsh_dedup,
        segment_dedup,
    )
    from hdk_spark.operators.packing import pack_sequences
    from hdk_spark.operators.sampling import (
        mixture_plan,
        mixture_sample,
        shuffle_shards,
    )
    from hdk_spark.operators.text import analyze, redact_pii

    load_tables(spark, sf_dir)
    stats: dict[str, int] = {}

    docs = spark.table("documents")
    stats["ingested"] = docs.count()

    # 1. profile + quality gate (language + quality score)
    profile = analyze(docs)
    kept = docs.join(
        profile.filter(
            (F.col("lang_pred") == "en") & (F.col("quality") > 0.2)
        ).select("doc_id", "n_tokens"),
        "doc_id",
    )
    stats["after_quality"] = kept.count()

    # 1b. Gopher heuristic rules (word count / word length / symbol /
    # bullet / stopword floors) — the published gate most pipelines
    # apply before anything expensive
    from hdk_spark.operators.text import gopher_quality_flags

    gflags = gopher_quality_flags(kept, min_words=30)
    kept = kept.join(
        gflags.filter(F.col("keep")).select("doc_id"), "doc_id"
    )
    stats["after_gopher"] = kept.count()

    # 2. PII scrub (map-only) — redacted text becomes THE text
    red = redact_pii(kept).select(
        "doc_id", F.col("redacted").alias("text")
    ).join(kept.select("doc_id", "source", "n_tokens"), "doc_id")

    # 3. sub-document boilerplate removal
    seg = (
        segment_dedup(red, mode="words", words_per_segment=3, max_freq=4)
        .filter(F.length("clean_text") > 0)
        .select("doc_id", F.col("clean_text").alias("text"),
                (F.col("n_segments") - F.col("n_removed")).alias("n_segs"))
        .join(red.select("doc_id", "source"), "doc_id")
        .withColumn("n_tokens", F.col("n_segs") * 3)
    )
    stats["after_segment_dedup"] = seg.count()

    # 3b. exact repeated-substring span removal (Lee et al.): cut
    # cross-document boilerplate runs the line pass can't localize
    from hdk_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    spans = duplicate_spans(seg, id_col="doc_id", text_col="text", n=6)
    seg = (
        remove_duplicate_spans(seg, spans, id_col="doc_id",
                               text_col="text")
        .filter(F.length("clean_text") > 0)
        .select("doc_id", F.col("clean_text").alias("text"),
                (F.col("n_tokens") - F.col("n_removed_tokens"))
                .alias("n_tokens"))
        .join(seg.select("doc_id", "source"), "doc_id")
    )
    # persist: seg feeds three consumers (minhash sketching — whose
    # Arrow UDF cannot take the span-rewrite HOF expression inline —
    # keep-best scoring, and the final join); the cache boundary also
    # gives the UDF a plain column input
    seg = seg.persist()
    stats["after_span_dedup"] = seg.count()

    # 4. document near-dup pairs → keep best per cluster
    pairs = minhash_lsh_dedup(seg, id_col="doc_id", text_col="text",
                              threshold=0.6)
    best = dedup_keep_best(
        seg.withColumn("n_chars", F.length("text")), pairs,
        id_col="doc_id", score_col="n_chars",
    )
    deduped = seg.join(best.select(F.col("keep_id").alias("doc_id")), "doc_id")
    stats["after_neardup"] = deduped.count()

    # 5. decontamination vs a (here: sampled) eval set
    eval_texts = [
        r["text"] for r in docs.filter(F.col("doc_id") % 97 == 0)
        .select("text").collect()
    ]
    flags = contamination_flags(deduped, eval_texts, id_col="doc_id",
                                text_col="text")
    final_docs = deduped.join(
        flags.filter(~F.col("contaminated")).select(
            F.col("id").alias("doc_id")),
        "doc_id",
    )
    stats["after_decontam"] = final_docs.count()

    # 6. token-budget mixture: plan integer rates, down-sample per source
    plan = mixture_plan(
        final_docs, "source", "n_tokens",
        {f"src{i}": 1.0 / 20 for i in range(20)},
        budget_tokens=5_000,
    )
    rates = {r["group"]: r["rate_bp"] / 10000.0 for r in plan.collect()}
    mixed = mixture_sample(final_docs, "source", rates, key_col="doc_id")
    stats["after_mixture"] = mixed.count()

    # 7. deterministic global shuffle + sequence packing
    sharded = shuffle_shards(mixed, "doc_id", n_shards=8)
    packed = pack_sequences(
        sharded.select("doc_id", "n_tokens"), "doc_id", "n_tokens",
        budget=256,
    )
    stats["packed_chunks"] = (
        packed.select("shard", "chunk_id").distinct().count()
    )

    # 8. z-ordered export (tight per-file stats on the read keys)
    import hdk_spark as hdk

    eng = hdk.init(spark=spark)
    res = eng.sql("SELECT * FROM final", final=mixed)
    res.to_parquet(
        os.path.join(out_dir, "corpus"),
        zorder=["doc_id", "n_tokens"],
        zorder_files=8,
    )
    stats["written"] = spark.read.parquet(
        os.path.join(out_dir, "corpus")).count()
    seg.unpersist()
    spark.catalog.dropTempView("final")
    return stats


def main() -> None:
    from hdk_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp()
    spark = get_spark("pipeline_demo")
    print(json.dumps(run(spark, sf_dir, out_dir)))
    spark.stop()


if __name__ == "__main__":
    main()
