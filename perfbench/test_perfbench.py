"""Self-tests of the benchmark's pure parts (no Spark session):

    python3 -m pytest perfbench -q
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pytest  # noqa: E402

import gen  # noqa: E402
import stats  # noqa: E402
from probe import covered_ms, parse_count, parse_size, steal_pct  # noqa: E402

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


@pytest.fixture
def source(tmp_path):
    """A tiny stand-in for the sf0.1 test tables, with the same schemas;
    events are written out of time order."""
    d = tmp_path / "source"
    d.mkdir()
    rng = np.random.default_rng(0)
    n = 200
    ts = np.datetime64("2024-01-01", "us") + rng.permutation(n).astype("timedelta64[s]")
    pq.write_table(pa.table({
        "event_id": np.arange(n, dtype=np.int64), "ts": ts,
        "user_id": rng.integers(0, 50, n), "event_type": ["view"] * n,
        "value": rng.random(n), "props": ["{}"] * n}), d / "events.parquet")
    pq.write_table(pa.table({
        "doc_id": np.arange(50, dtype=np.int64), "text": ["a b c"] * 50,
        "lang": ["en"] * 50, "source": ["src0"] * 50,
        "n_chars": np.full(50, 5, dtype=np.int64)}), d / "documents.parquet")
    pq.write_table(pa.table({
        "vec_id": np.arange(20, dtype=np.int64),
        "embedding": pa.array([[0.5] * 4] * 20, pa.list_(pa.float32())),
        "label": pa.array([0] * 20, pa.int32())}), d / "embeddings.parquet")
    return str(d)


def _recipe(source):
    return {"source": source, "tables": ["documents", "embeddings", "events"],
            "stream_files": 4}


def test_nearest_rank_and_tail_rule():
    xs = [float(i) for i in range(1, 101)]
    assert stats.nearest_rank(xs, 0.5) == 50.0
    assert stats.nearest_rank(xs, 0.9) == 90.0
    assert stats.beyond(100, 0.9) == 10 and stats.p90_supported(100)
    assert stats.beyond(99, 0.9) == 9 and not stats.p90_supported(99)
    assert not stats.p90_supported(20)
    assert stats.nearest_rank([3.0], 0.9) == 3.0
    with pytest.raises(ValueError):
        stats.nearest_rank([], 0.5)


def test_summary_counts_samples_and_failures():
    m = stats.summarize(first=[2.0, 4.0, 3.0], steady=[1.0] * 12,
                        setup_s=9.5, rows=600, attempted=15, failed=0)
    assert m["first_pass_s"] == {"value": 9.0, "unit": "s", "samples": 3}
    assert m["setup_s"] == {"value": 9.5, "unit": "s", "samples": 1}
    assert m["op_p50_s"]["samples"] == 12
    assert m["op_p90_s"]["supported"] is False and m["op_p90_s"]["beyond"] == 1
    assert m["rows_per_s"]["value"] == 50.0
    assert m["failed_op_ratio"]["value"] == 0.0
    bad = stats.summarize([1.0], [1.0], 1.0, 1, attempted=4, failed=1)
    assert bad["failed_op_ratio"]["value"] == 0.25


def _bytes(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = fh.read()
    return out


def test_same_seed_same_input_bytes(tmp_path, source):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.ensure(a, _recipe(source), 7)
    gen.ensure(b, _recipe(source), 7)
    gen.ensure(c, _recipe(source), 8)
    assert _bytes(a) == _bytes(b)
    streams = [f for f in _bytes(a) if f.startswith("stream/")]
    assert len(streams) == 4
    assert any(_bytes(a)[f] != _bytes(c)[f] for f in streams)
    with open(os.path.join(source, "documents.parquet"), "rb") as fh:
        assert _bytes(a)["documents.parquet"] == fh.read()


def test_manifest_staleness(tmp_path, source):
    d, recipe = str(tmp_path / "d"), _recipe(source)
    man, reused = gen.ensure(d, recipe, 1)
    assert not reused and man["sources"]["events"]["rows"] == 200
    assert sum(m["rows"] for f, m in man["files"].items() if f.startswith("stream/")) == 200
    assert gen.ensure(d, recipe, 1)[1]  # unchanged: reused
    assert not gen.manifest_matches(d, recipe, 2)  # other seed
    assert not gen.manifest_matches(d, dict(recipe, stream_files=5), 1)  # other recipe
    with open(os.path.join(d, "events.parquet"), "ab") as fh:
        fh.write(b"x")  # file no longer what the manifest recorded
    assert not gen.manifest_matches(d, recipe, 1)
    man, reused = gen.ensure(d, recipe, 1)
    assert not reused and gen.manifest_matches(d, recipe, 1)
    os.remove(os.path.join(d, "stream", "part-00002.parquet"))
    assert not gen.manifest_matches(d, recipe, 1)
    gen.ensure(d, recipe, 1)
    t = pq.read_table(os.path.join(source, "embeddings.parquet")).slice(0, 10)
    pq.write_table(t, os.path.join(source, "embeddings.parquet"))  # source changed
    assert not gen.manifest_matches(d, recipe, 1)


def test_never_writes_under_the_source(source):
    with pytest.raises(ValueError):
        gen.ensure(os.path.join(source, "out"), _recipe(source), 1)
    assert sorted(os.listdir(source)) == [
        "documents.parquet", "embeddings.parquet", "events.parquet"]


def test_stream_split_keeps_time_order_and_rows(tmp_path, source):
    d = str(tmp_path / "d")
    man, _ = gen.ensure(d, _recipe(source), 3)
    parts = [pq.read_table(os.path.join(d, f)) for f in sorted(man["files"])
             if f.startswith("stream/")]
    ts = [t for p in parts for t in p.column("ts").to_pylist()]
    assert len(ts) == 200 and ts == sorted(ts)
    assert len({p.num_rows for p in parts}) > 1  # the seed drew the sizes


class _Bench:
    def __init__(self, seed, data_dir, source):
        import __spark_entry__
        from probe import Tracer

        self.seed, self.data_dir, self.entry = seed, data_dir, __spark_entry__
        self.tracer, self.eng = Tracer(False), None
        self.manifest = gen.ensure(data_dir, _recipe(source), 0)[0]


def _sequence(wl_cls, seed, data_dir, source, n=12):
    wl = wl_cls(_Bench(seed, data_dir, source))
    wl.prepare()
    return [(kind, str(key)) for kind, _, _, key in
            (wl.next_op(i) for i in range(n))]


def test_same_seed_same_op_sequence(tmp_path, source):
    from workloads import DocDedupSearch

    d = str(tmp_path / "in")
    one, two = _sequence(DocDedupSearch, 5, d, source), _sequence(DocDedupSearch, 5, d, source)
    assert one == two
    assert one != _sequence(DocDedupSearch, 6, d, source)
    # every kind runs once, in declared order, before the steady phase
    kinds = DocDedupSearch.kinds
    assert [k for k, _ in one[:len(kinds)]] == list(kinds)


def test_doc_inputs_never_repeat(tmp_path, source):
    from workloads import DocDedupSearch

    keys = _sequence(DocDedupSearch, 9, str(tmp_path / "in"), source, n=30)
    assert len(set(keys)) == len(keys)


def test_probe_helpers():
    assert covered_ms([(0, 10), (5, 20), (30, 40)], 0, 35) == 25
    assert covered_ms([], 0, 10) == 0
    assert parse_size("1.5 KiB") == 1536
    assert parse_size("total (min, med, max)\n2.0 MiB (1 B, 2 B, 3 B)") == 2 * 2**20
    assert parse_count("1,234") == 1234
    assert steal_pct([0] * 8, [70, 0, 10, 0, 0, 0, 0, 20]) == 20.0
    assert steal_pct([], [1] * 8) is None
