"""The workloads. Each one names its op kinds, draws its inputs from
the seed and the sf0.1 test tables, runs one op through the program's
public calls, and checks the outputs afterwards against the contract
oracles (DuckDB over the same parquet, compared bit-exactly by
``tests/oracle_compare.py``)."""

from __future__ import annotations

import os
import random
import shutil
import threading
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from hdk_spark.context import Result

import gen

DOC_SUBSET = 500  # documents / embeddings per op
#: ordered files the 100,000 sf0.1 events are cut into (about 2,500 rows each)
STREAM_FILES = 40
STREAM_WAIT_S = 60.0


class _Arrow:
    """Adapter so ``oracle_compare.assert_frames_match`` can compare an
    already-collected Arrow result (it calls ``.toPandas()``)."""

    def __init__(self, table: pa.Table):
        self.table = table

    def toPandas(self):
        return self.table.to_pandas()


class _Frame:
    """Adapter standing in for a DuckDB relation (``.df()``)."""

    def __init__(self, table: pa.Table):
        self.table = table

    def df(self):
        return self.table.to_pandas()


def _duck(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, select in views.items():
        con.execute(f"CREATE VIEW {name} AS {select}")
    return con


def _parquet(path: str) -> str:
    return f"SELECT * FROM read_parquet('{path}')"


class Workload:
    name = ""
    kinds: list[str] = []
    recipe: dict = {}

    def __init__(self, bench):
        self.b = bench
        self.rng = random.Random(bench.seed)

    def prepare(self) -> None:
        """After set-up, before the first op (not timed)."""

    def next_op(self, i: int) -> "tuple[str, callable, int, object] | None":
        """The i-th op: (kind, fn, input rows, check key), or None when
        no input is left. ``fn()`` is the timed call and returns the
        op's output."""
        raise NotImplementedError

    def settle(self) -> None:
        """Between ops, outside the timed region."""

    def check(self, results: list[tuple[object, pa.Table]]) -> list[str]:
        """Failure messages for wrong outputs; ``results`` pairs each
        successful op's check key with its output."""
        raise NotImplementedError

    def close(self) -> None:
        pass


def _mismatch(out: pa.Table, want: pa.Table, name: str) -> "str | None":
    from oracle_compare import assert_frames_match

    try:
        assert_frames_match(_Arrow(out), _Frame(want), name)
    except AssertionError as e:
        return str(e)
    return None


def _close(out: pa.Table, want: pa.Table, name: str, rel: float = 1e-9) -> "str | None":
    """Like ``_mismatch``, but float columns need only agree to ``rel``."""
    from oracle_compare import normalize

    a, b = normalize(out.to_pandas()), normalize(want.to_pandas())
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return f"{name}: shape {list(a.columns)}x{len(a)} != {list(b.columns)}x{len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f":
            bad = ((x - y).abs() > rel * y.abs().clip(lower=1e-300)).any()
        else:
            bad = not x.astype(object).equals(y.astype(object))
        if bad:
            return f"{name}: column {c!r} differs"
    return None


# ---------------------------------------------------------------------------
# doc_dedup_search: minhash dedup, text profile, ANN top-k on fresh inputs
# ---------------------------------------------------------------------------


class _Remap:
    """A fresh input per op: ids pass through ``(a*id + b) mod p`` and
    only new ids below ``keep`` survive — a seed-drawn subset with fresh
    ids, so no op repeats an input or a plan, and the contract oracle
    (fixed query ids 0, 1, 2) applies to every op unchanged."""

    def __init__(self, rng: random.Random, n: int, keep: int):
        self.p = _next_prime(n)
        self.keep = keep
        while True:
            self.a, self.b = rng.randrange(1, self.p), rng.randrange(self.p)
            inv = pow(self.a, -1, self.p)
            if all((y - self.b) * inv % self.p < n for y in (0, 1, 2)):
                break
        self.rows = sum(1 for x in range(n) if (self.a * x + self.b) % self.p < keep)

    def expr(self, col: str) -> str:
        return f"({col} * {self.a} + {self.b}) % {self.p}"


def _next_prime(n: int) -> int:
    while any(n % d == 0 for d in range(2, int(n**0.5) + 1)):
        n += 1
    return n


class DocDedupSearch(Workload):
    name = "doc_dedup_search"
    kinds = ["minhash_lsh_dedup", "text_analyze", "ann_lsh_topk"]
    recipe = {"source": gen.SOURCE, "tables": ["documents", "embeddings"]}
    _CONTRACT = {"minhash_lsh_dedup": "dedup_minhash_lsh",
                 "text_analyze": "text_profile",
                 "ann_lsh_topk": "similarity_ann_lsh"}

    def prepare(self):
        from hdk_spark.operators import text
        from hdk_spark.operators.dedup import minhash_lsh_dedup
        from hdk_spark.operators.similarity import ann_lsh_topk

        self.fns = {
            # the contract rows' parameters, so every output has an oracle;
            # ANN runs its production numpy kernel (see check)
            "minhash_lsh_dedup": lambda df: minhash_lsh_dedup(
                df, threshold=0.5, hash_basis="md5"),
            "text_analyze": text.analyze,
            "ann_lsh_topk": lambda df: ann_lsh_topk(df, [0, 1, 2], k=5),
        }
        self.table = {"minhash_lsh_dedup": "documents", "text_analyze": "documents",
                      "ann_lsh_topk": "embeddings"}
        self.id_col = {"documents": "doc_id", "embeddings": "vec_id"}

    def next_op(self, i):
        kind = self.kinds[i % len(self.kinds)]
        table = self.table[kind]
        remap = _Remap(self.rng, self.b.manifest["files"][f"{table}.parquet"]["rows"],
                       DOC_SUBSET)
        idc = self.id_col[table]
        names = pq.read_schema(os.path.join(self.b.data_dir, f"{table}.parquet")).names
        cols = [f"{remap.expr(idc)} AS {idc}"] + [c for c in names if c != idc]
        subset = (f"SELECT * FROM (SELECT {', '.join(cols)} FROM {table}) "
                  f"WHERE {idc} < {remap.keep}")
        fn, b = self.fns[kind], self.b

        def op():
            with b.tracer.span("context.sql"):
                df = b.eng.sql(subset).df
            with b.tracer.span(f"operators.{kind}"):
                out = Result(fn(df))
            if b.tracer.on:
                with b.tracer.span("spark.plan"):
                    out.df._jdf.queryExecution().executedPlan()
            with b.tracer.span("context.to_arrow"):
                return out.to_arrow()

        return kind, op, remap.rows, (kind, table, subset)

    def check(self, results):
        oracles = self.b.entry.oracle_sql()
        errs = []
        for (kind, table, subset), out in results:
            path = os.path.join(self.b.data_dir, f"{table}.parquet")
            con = _duck({f"{table}_full": _parquet(path),
                         table: subset.replace(f"FROM {table})", f"FROM {table}_full)")})
            want = con.sql(oracles[self._CONTRACT[kind]]).arrow()
            con.close()
            # the contract pins ANN's fold-based mode; the numpy kernel's
            # norms may differ from it in the last bits of a score
            check = _close if kind == "ann_lsh_topk" else _mismatch
            if err := check(out, want, kind):
                errs.append(err)
        return errs


# ---------------------------------------------------------------------------
# stream_ingest: stateful streaming queries, one micro-batch per op
# ---------------------------------------------------------------------------


class StreamIngest(Workload):
    name = "stream_ingest"
    kinds = ["tumbling_agg", "stream_cms_by_group"]
    recipe = {"source": gen.SOURCE, "tables": ["events"], "stream_files": STREAM_FILES}

    def prepare(self):
        from pyspark.sql import functions as F

        from hdk_spark import streaming

        spark = self.b.eng.spark
        self.schema = spark.table("events").schema
        self.files = sorted(os.listdir(os.path.join(self.b.data_dir, "stream")))
        self.fed: dict[str, list[str]] = {k: [] for k in self.kinds}
        self.seen: dict[str, set[int]] = {k: set() for k in self.kinds}
        self.queries = {}
        self.progress: list[tuple[str, object]] = []
        self.builders = {
            "tumbling_agg": lambda df: streaming.tumbling_agg(
                df, "ts", "1 hour",
                [F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                  .alias("sum_value")],
                ["event_type"]),
            "stream_cms_by_group": lambda df: streaming.stream_cms_by_group(
                df, "event_type", "user_id"),
        }
        for kind in self.kinds:
            root = os.path.join(self.b.run_dir, "stream", kind)
            os.makedirs(os.path.join(root, "src"))
            src = (spark.readStream.schema(self.schema)
                   .option("maxFilesPerTrigger", 1)
                   .parquet(os.path.join(root, "src")))
            self.queries[kind] = (
                self.builders[kind](src).writeStream.format("memory")
                .queryName(f"perfbench_{kind}").outputMode("complete")
                .option("checkpointLocation", os.path.join(root, "checkpoint"))
                .start())
            # micro-batches run under the query's run id as job group
            self.b.job_groups.append(str(self.queries[kind].runId))

    def next_op(self, i):
        kind = self.kinds[i % len(self.kinds)]
        if i >= len(self.files):
            return None
        name = self.files[i]
        root = os.path.join(self.b.run_dir, "stream", kind)
        staged = os.path.join(root, name)
        shutil.copyfile(os.path.join(self.b.data_dir, "stream", name), staged)
        rows = self.b.manifest["files"][f"stream/{name}"]["rows"]
        q, seen, b = self.queries[kind], self.seen[kind], self.b

        def op():
            with b.tracer.span("streaming.batch"):
                os.rename(staged, os.path.join(root, "src", name))
                deadline = time.perf_counter() + STREAM_WAIT_S
                while True:
                    new = [p for p in q.recentProgress
                           if p.numInputRows > 0 and p.batchId not in seen]
                    if new:
                        seen.add(new[0].batchId)
                        self.progress.append((kind, new[0]))
                        return new[0]
                    if q.exception() is not None:
                        raise RuntimeError(f"{kind} stream failed: {q.exception()}")
                    if time.perf_counter() > deadline:
                        raise TimeoutError(f"{kind}: no batch within {STREAM_WAIT_S}s")
                    time.sleep(0.002)

        self.fed[kind].append(name)
        return kind, op, rows, kind

    def settle(self):
        """Let trailing no-data batches (watermark moves) finish so each
        op times only its own batch."""
        deadline = time.perf_counter() + STREAM_WAIT_S
        for q in self.queries.values():
            quiet = 0
            while quiet < 2 and time.perf_counter() < deadline:
                st = q.status
                quiet = quiet + 1 if not (st["isTriggerActive"] or st["isDataAvailable"]) else 0
                time.sleep(0.01)

    def check(self, results):
        spark = self.b.eng.spark
        oracles = self.b.entry.oracle_sql()
        errs = []
        self.settle()
        for kind in self.kinds:
            paths = [os.path.join(self.b.data_dir, "stream", f) for f in self.fed[kind]]
            if not paths:
                continue
            state = spark.table(f"perfbench_{kind}")
            batch = self.builders[kind](spark.read.schema(self.schema).parquet(*paths))
            got = state.toArrow()
            if err := _mismatch(got, batch.toArrow(), f"{kind} vs batch twin"):
                errs.append(err)
            if kind == "tumbling_agg":
                files = ", ".join(f"'{p}'" for p in paths)
                con = _duck({"events": f"SELECT * FROM read_parquet([{files}])"})
                want = con.sql(oracles["events_tumbling_hour"]).arrow()
                con.close()
                got = got.rename_columns(["h" if c == "window_start" else c
                                          for c in got.column_names])
                got = got.select(["h", "event_type", "n", "sum_value"])
                if err := _mismatch(got, want, "events_tumbling_hour"):
                    errs.append(err)
        return errs

    def close(self):
        for q in self.queries.values():
            t = threading.Thread(target=q.stop, daemon=True)
            t.start()
            t.join(STREAM_WAIT_S)


WORKLOADS = {w.name: w for w in (DocDedupSearch, StreamIngest)}
