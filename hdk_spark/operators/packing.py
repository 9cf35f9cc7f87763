"""Sequence packing — assign documents to fixed token-budget chunks,
the batching step between a deduped corpus and a training run.

Greedy sequential packing needs a total order and a running token sum —
a single global ordering window would serialize the whole corpus
through one task. Instead the corpus is split into ``n_shards``
deterministic hash shards and packed *within* each shard:

- the running-sum window partitions by shard → n_shards-way parallel,
  each shard's sort fits one task at any corpus size (choose n_shards
  ≈ corpus_tokens / (executor-task-sized slice));
- document→chunk assignment is a pure function of (key, tokens,
  budget, n_shards, seed): reruns and partition recomputes give the
  identical packing, and the whole thing is ANSI-SQL expressible for
  the oracle;
- a document longer than the budget still gets its own chunk (greedy
  floor((cum - tokens) / budget) never splits documents — split
  upstream if oversize docs must be truncated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from hdk_spark.operators.caches import _attach_caches, _persist_internal
from hdk_spark.operators.sampling import hash_bucket

__all__ = ["pack_sequences", "pack_sequences_split", "materialize_chunks", "pack_stats"]


def pack_sequences(
    df: DataFrame,
    key_col: str,
    tokens_col: str,
    budget: int = 2048,
    n_shards: int = 16,
    seed: int = 0,
) -> DataFrame:
    """Assign every row to (shard, chunk_id) such that consecutive rows
    of a shard (in deterministic hash order) share a chunk until the
    token budget fills.

    chunk_id = floor((running_sum - tokens) / budget): a chunk may
    overflow the budget by at most one document (greedy first-fit on a
    fixed order — the standard streaming packing rule).
    """
    h = hash_bucket(F.col(key_col), 1_000_000_007, seed)
    shard = hash_bucket(F.col(key_col), n_shards, seed + 1)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("__h"), F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("__h", h)
        .withColumn("shard", shard)
        .withColumn("__cum", F.sum(F.col(tokens_col)).over(w))
        .select(
            F.col(key_col),
            F.col("shard").cast("bigint").alias("shard"),
            F.floor(
                (F.col("__cum") - F.col(tokens_col)) / F.lit(budget)
            ).alias("chunk_id"),
            F.col(tokens_col).alias("n_tokens"),
        )
    )


def pack_sequences_split(
    df: DataFrame,
    key_col: str,
    tokens_col: str,
    budget: int = 2048,
    n_shards: int = 16,
    seed: int = 0,
) -> DataFrame:
    """Sequence packing WITH document splitting — the contract real
    training batchers run (GPT-style packed pretraining): the shard's
    token stream is cut into EXACT ``budget``-token chunks and a
    document that straddles a boundary is split across it, so every
    chunk except each shard's last holds exactly ``budget`` tokens
    (zero padding waste, property-tested), versus
    :func:`pack_sequences` whose greedy never-split rule leaves
    ragged chunks.

    Emits one row PER PIECE:
    (key, shard, chunk_id, piece_index, offset, n_tokens) — a doc
    spanning chunks c_lo..c_hi yields pieces indexed 0.., ``offset``
    the piece's starting token WITHIN the document (so a consumer
    slices doc_tokens[offset : offset+n_tokens] to materialize the
    chunk). A zero-token document emits one empty piece (totality).
    A document's FIRST piece lands in exactly the chunk
    :func:`pack_sequences` assigns (same hash order, same running
    sum) — the two packers agree wherever no split happens.

    All arithmetic is integer and a pure function of (key, tokens,
    budget, n_shards, seed): recomputes and repartitions reproduce the
    identical packing, and the whole operator replays in ANSI SQL.
    Scale shape: ONE per-shard running-sum window (n_shards-way
    parallel) + a map-only sequence/explode whose fan-out is
    pieces-per-doc (≤ tokens/budget + 1) — no extra exchange over
    pack_sequences."""
    if budget < 1:
        raise ValueError("budget must be >= 1")
    key = F.col(key_col)
    tok = F.col(tokens_col).cast("long")
    h = hash_bucket(key, 1_000_000_007, seed)
    shard = hash_bucket(key, n_shards, seed + 1)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("__h"), key)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = F.lit(int(budget))
    staged = (
        df.withColumn("__h", h)
        .withColumn("shard", shard)
        .withColumn("__cum", F.sum(tok).over(w))
        .withColumn("__start", F.col("__cum") - tok)
        .withColumn("__lo", F.floor(F.col("__start") / b))
        .withColumn(
            "__hi",
            F.greatest(
                F.floor((F.col("__cum") - 1) / b), F.floor(F.col("__start") / b)
            ),
        )
    )
    chunk = F.col("chunk_id")
    piece_start = F.greatest(chunk * b, F.col("__start"))
    piece_end = F.least((chunk + 1) * b, F.col("__cum"))
    return (
        staged.select(
            key,
            F.col("shard").cast("bigint").alias("shard"),
            "__start",
            "__cum",
            "__lo",
            F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias(
                "chunk_id"
            ),
        )
        .select(
            key,
            "shard",
            chunk.cast("bigint").alias("chunk_id"),
            (chunk - F.col("__lo")).cast("bigint").alias("piece_index"),
            (piece_start - F.col("__start")).cast("bigint").alias("offset"),
            (piece_end - piece_start).cast("bigint").alias("n_tokens"),
        )
    )


def materialize_chunks(
    df: DataFrame,
    key_col: str = "doc_id",
    tokens_col: str = "tokens",
    budget: int = 2048,
    n_shards: int = 16,
    seed: int = 0,
) -> DataFrame:
    """Materialize the TRAINING EXAMPLES :func:`pack_sequences_split`
    plans: given tokenized documents (id, tokens array — the
    bpe_encode / unigram_encode surface), emit one row per chunk with
    its actual token sequence — documents sliced at chunk boundaries
    and concatenated in pack order. Every chunk except each shard's
    last is EXACTLY ``budget`` tokens (the split-pack invariant), so
    the output writes straight to fixed-length training shards with
    zero padding.

    Returns (shard, chunk_id, n_tokens, tokens, n_docs) — n_docs the
    number of documents contributing pieces (observability for
    attention masks that reset at document boundaries).

    Within-chunk order is reconstructed WITHOUT threading global
    offsets: a chunk contains AT MOST ONE continuation piece
    (piece_index > 0 means its document started in an earlier chunk,
    so the piece starts AT the chunk boundary — two such pieces would
    both claim position 0), and every other piece belongs to a
    document that STARTS in this chunk, ordered by the pack order
    (hash, key). sort_array over (is_continuation, hash, key, piece)
    structs therefore rebuilds the exact tiling, and the aggregate is
    shuffle-order-independent.

    Scale shape: the split plan's one window + ONE equi-join back to
    the token arrays (map-only slice per piece) + ONE
    groupBy(shard, chunk_id) whose per-group state is budget-bounded
    (≤ budget tokens regardless of corpus size — the reason to group
    by CHUNK, never by document). The (key, tokens) relation feeds
    both the counts and the token join, so it is cached (a tokenizer
    upstream, e.g. ``bpe.unigram_encode``'s Python kernel, then runs
    once); ``release_caches(result)`` frees it."""
    src, caches = _persist_internal(
        df.select(F.col(key_col), F.col(tokens_col).alias("__toks")))
    counts = src.select(
        F.col(key_col), F.size("__toks").cast("long").alias("__nt")
    )
    plan = pack_sequences_split(
        counts, key_col, "__nt", budget=budget, n_shards=n_shards, seed=seed
    )
    h = hash_bucket(F.col(key_col), 1_000_000_007, seed)
    pieces = (
        plan.join(src, key_col)
        .select(
            "shard",
            "chunk_id",
            F.struct(
                (F.col("piece_index") == 0).cast("int").alias("o1"),
                h.alias("o2"),
                F.col(key_col).cast("long").alias("o3"),
                F.slice(
                    F.col("__toks"), (F.col("offset") + 1).cast("int"),
                    F.col("n_tokens").cast("int"),
                ).alias("p"),
            ).alias("__s"),
        )
    )
    seq = F.flatten(F.transform(F.col("__ps"), lambda s: s["p"]))
    return _attach_caches(
        pieces.groupBy("shard", "chunk_id")
        .agg(F.sort_array(F.collect_list("__s")).alias("__ps"))
        .select(
            "shard",
            "chunk_id",
            seq.alias("tokens"),
            F.size("__ps").cast("long").alias("n_docs"),
        )
        .select(
            "shard", "chunk_id",
            F.size("tokens").cast("long").alias("n_tokens"),
            "tokens", "n_docs",
        ),
        caches,
    )


def pack_stats(
    packed: DataFrame,
    budget: int,
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Packing-efficiency telemetry over a :func:`pack_sequences` /
    :func:`pack_sequences_split` assignment — the numbers a training
    job reports before committing a pack layout: per shard,

      n_chunks, n_docs, n_tokens        — volume
      fill_ratio = n_tokens/(n_chunks·budget) — budget utilization
      overflow_chunks                    — chunks past budget (greedy
                                           no-split packing overflows
                                           by ≤1 doc; split mode never)
      max_chunk_tokens / min_chunk_tokens — skew surface (a straggler
                                           chunk is a straggler batch)

    All doubles emit through round6. Scale shape: ONE partial-agg
    groupBy (shard, chunk) + one groupBy shard — both map-side
    combinable, output is shards-sized. No window: the chunk relation
    already carries the assignment, so stats never re-pack.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    from hdk_spark.functions.scalar import round6

    chunks = packed.groupBy("shard", "chunk_id").agg(
        F.sum(tokens_col).cast("long").alias("__t"),
        F.count(F.lit(1)).cast("long").alias("__d"),
    )
    return (
        chunks.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("__d").cast("long").alias("n_docs"),
            F.sum("__t").cast("long").alias("n_tokens"),
            F.sum((F.col("__t") > budget).cast("long"))
            .cast("long").alias("overflow_chunks"),
            F.max("__t").cast("long").alias("max_chunk_tokens"),
            F.min("__t").cast("long").alias("min_chunk_tokens"),
        )
        .select(
            "shard", "n_chunks", "n_docs", "n_tokens",
            round6(
                F.col("n_tokens")
                / (F.col("n_chunks") * F.lit(budget)).cast("double")
            ).alias("fill_ratio"),
            "overflow_chunks", "max_chunk_tokens", "min_chunk_tokens",
        )
        .orderBy("shard")
    )
