"""Storage-verb and facade tests (SURVEY.md §2.2), modeled on the
reference's ArrowStorage/import tests (reference
omniscidb/Tests/ArrowStorageTest.cpp, python/tests/test_pyhdk_data_import.py).
"""

import os

import pandas as pd
import pytest

import hdk_spark


@pytest.fixture(scope="module")
def hdk(spark):
    return hdk_spark.init(spark)


def test_import_csv_with_options(hdk, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("a|b|c\n1|x|2.5\n2|y|3.5\n")
    t = hdk.import_csv(str(p), name="csv_opts", delimiter="|", header=True)
    assert t.row_count == 2
    assert [f.name for f in t.schema.fields] == ["a", "b", "c"]
    got = hdk.sql("SELECT SUM(a) AS sa, SUM(c) AS sc FROM csv_opts").to_pandas()
    assert got["sa"][0] == 3 and got["sc"][0] == 6.0


def test_import_csv_explicit_schema(hdk, tmp_path):
    p = tmp_path / "typed.csv"
    p.write_text("k,v\n1,10\n2,20\n")
    t = hdk.import_csv(
        str(p), name="csv_typed", schema=[("k", "int32"), ("v", "int64")]
    )
    from pyspark.sql import types as T

    assert t.schema["k"].dataType == T.IntegerType()
    assert t.schema["v"].dataType == T.LongType()


def test_import_arrow_and_pandas(hdk):
    import pyarrow as pa

    pdf = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    t1 = hdk.import_arrow(pdf, "pandas_t")
    assert t1.row_count == 3
    at = pa.table({"x": [10, 20]})
    t2 = hdk.import_arrow(at, "arrow_t")
    assert t2.row_count == 2


def test_append_arrow(hdk):
    pdf = pd.DataFrame({"x": [1], "y": ["a"]})
    hdk.import_arrow(pdf, "appendable")
    hdk.append_arrow(pd.DataFrame({"x": [2], "y": ["b"]}), "appendable")
    assert hdk.table("appendable").row_count == 2


def test_import_parquet_and_append(hdk, tmp_path, spark):
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    d1 = str(tmp_path / "p1")
    d2 = str(tmp_path / "p2")
    base.write.parquet(d1)
    base.write.parquet(d2)
    t = hdk.import_parquet(d1, "pq_t")
    assert t.row_count == 2
    hdk.append_parquet(d2, "pq_t")
    assert hdk.table("pq_t").row_count == 4


def test_drop_table(hdk):
    hdk.import_arrow(pd.DataFrame({"x": [1]}), "to_drop")
    hdk.drop_table("to_drop")
    with pytest.raises(Exception):
        hdk.spark.table("to_drop").collect()


def test_sql_with_table_aliases(hdk):
    t = hdk.import_arrow(pd.DataFrame({"x": [1, 2, 3]}), "alias_src")
    res = hdk.sql("SELECT COUNT(*) AS n FROM my_alias WHERE x > 1", my_alias=t)
    assert res.to_pandas()["n"][0] == 2


def test_result_surface(hdk):
    hdk.import_arrow(pd.DataFrame({"x": [3, 1, 2]}), "res_t")
    res = hdk.sql("SELECT x FROM res_t ORDER BY x")
    assert res.row_count == 3
    assert list(res.to_pandas()["x"]) == [1, 2, 3]
    arrow = res.to_arrow()
    assert arrow.num_rows == 3
    assert [r["x"] for r in res.head(2).df.collect()] == [1, 2]
    assert [r["x"] for r in res.tail(1).df.collect()] == [3]


def test_result_rescan(hdk):
    hdk.import_arrow(pd.DataFrame({"g": [1, 1, 2], "v": [10, 20, 5]}), "rescan_t")
    res = hdk.sql("SELECT g, SUM(v) AS sv FROM rescan_t GROUP BY g")
    n = res.scan
    out = n.filter(n["sv"] > 10).run()
    assert [tuple(r) for r in out.df.collect()] == [(1, 30)]


def test_shape_and_row(hdk):
    # reference test_shape (test_pyhdk_api.py:1014) / test_row (:989)
    t = hdk.import_pydict({"a": [1, 2, 3, 4, 5], "b": [10, 20, 30, 40, 50]}, "shape_t")
    assert t.shape == (5, 2)
    hdk.import_pydict({"a": [6], "b": [60]}, t)
    assert hdk.table("shape_t").shape == (6, 2)
    res = hdk.sql("SELECT a, b FROM shape_t ORDER BY a")
    assert res.shape == (6, 2)
    assert res.row(0) == [1, 10]
    assert res.row(5) == [6, 60]
    with pytest.raises(IndexError):
        res.row(6)


def test_register_udf(hdk):
    hdk.register_udf("plus_one", lambda x: x + 1, "int64")
    hdk.import_pydict({"x": [1, 2, 3]}, "udf_t")
    got = hdk.sql("SELECT SUM(plus_one(x)) AS s FROM udf_t").to_pandas()
    assert got["s"][0] == 9

    def vec_double(s: pd.Series) -> pd.Series:
        return s * 2.0

    hdk.register_udf("vec_double", vec_double, "fp64", vectorized=True)
    got = hdk.sql("SELECT SUM(vec_double(x)) AS s FROM udf_t").to_pandas()
    assert got["s"][0] == 12.0


def test_create_table_types_roundtrip(hdk):
    t = hdk.create_table(
        "typed_empty",
        [
            ("b", "bool"),
            ("i", "int16"),
            ("f", "fp32"),
            ("d", "dec(12,3)"),
            ("s", "text"),
            ("dt", "date"),
            ("ts", "timestamp[ms]"),
            ("arr", "array(int64)"),
        ],
    )
    from pyspark.sql import types as T

    s = t.schema
    assert s["b"].dataType == T.BooleanType()
    assert s["i"].dataType == T.ShortType()
    assert s["f"].dataType == T.FloatType()
    assert s["d"].dataType == T.DecimalType(12, 3)
    assert s["dt"].dataType == T.DateType()
    assert s["ts"].dataType == T.TimestampType()
    assert s["arr"].dataType == T.ArrayType(T.LongType())
    hdk.drop_table("typed_empty")


def test_result_export_roundtrip(hdk, tmp_path):
    hdk.import_pydict({"k": [1, 1, 2, 2, 3], "v": [10.0, 20.0, 30.0, 40.0, 50.0]}, "exp_t")
    res = hdk.sql("SELECT k, SUM(v) AS sv FROM exp_t GROUP BY k")

    pq = str(tmp_path / "out_parquet")
    res.to_parquet(pq, partition_by=["k"])
    back = hdk.import_parquet(pq, "exp_back")
    assert back.row_count == 3
    got = hdk.sql("SELECT CAST(k AS BIGINT) AS k, sv FROM exp_back ORDER BY k").to_pandas()
    assert got["sv"].tolist() == [30.0, 70.0, 50.0]

    csv = str(tmp_path / "out_csv")
    res.to_csv(csv)
    back2 = hdk.import_csv(csv, "exp_back_csv", header=True)
    assert back2.row_count == 3

    plan = res.to_explain_str()
    assert "HashAggregate" in plan or "Aggregate" in plan
    for n in ("exp_t", "exp_back", "exp_back_csv"):
        hdk.drop_table(n)


def test_import_json_roundtrip(hdk, tmp_path):
    p = tmp_path / "rows.json"
    p.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n{"a": 3, "b": "z"}\n')
    t = hdk.import_json(str(p), name="json_rows", schema=[("a", "int64"), ("b", "text")])
    assert t.row_count == 3
    got = hdk.sql("SELECT SUM(a) AS sa, COUNT(b) AS nb FROM json_rows").to_pandas()
    assert got["sa"][0] == 6 and got["nb"][0] == 3
    # append with schema inherited from the registered table
    p2 = tmp_path / "more.json"
    p2.write_text('{"a": 10, "b": "w"}\n')
    t = hdk.append_json(str(p2), "json_rows")
    assert t.row_count == 4


def test_json_export_and_reimport(hdk, tmp_path):
    res = hdk.sql("SELECT 1 AS a, 'x' AS b UNION ALL SELECT 2, 'y'")
    out = str(tmp_path / "json_out")
    res.to_json(out)
    back = hdk.import_json(out, name="json_back", schema=[("a", "int32"), ("b", "text")])
    assert back.row_count == 2


def test_orc_export_and_reimport(hdk, tmp_path):
    res = hdk.sql("SELECT 1 AS a, 2.5 AS b UNION ALL SELECT 2, 3.5")
    out = str(tmp_path / "orc_out")
    res.to_orc(out)
    back = hdk.import_orc(out, name="orc_back")
    assert back.row_count == 2
    got = hdk.sql("SELECT SUM(a) AS sa, SUM(b) AS sb FROM orc_back").to_pandas()
    assert got["sa"][0] == 3 and float(got["sb"][0]) == 6.0


def test_to_parquet_compact_fixes_small_files(spark, tmp_path):
    """compact=True collapses a pathologically over-partitioned plan
    into right-sized output files; max_records_per_file caps the
    opposite direction."""
    import glob

    import hdk_spark as hdk

    eng = hdk.init(spark=spark)
    df = spark.range(0, 100_000).repartition(50)
    res = eng.sql("SELECT * FROM t", t=df)

    frag = str(tmp_path / "fragmented")
    res.to_parquet(frag)
    compacted = str(tmp_path / "compacted")
    res.to_parquet(compacted, compact=True, max_records_per_file=40_000)

    n_frag = len(glob.glob(frag + "/part-*"))
    n_comp = len(glob.glob(compacted + "/part-*"))
    assert n_frag >= 50
    assert n_comp <= 5
    assert (
        spark.read.parquet(compacted).count()
        == spark.read.parquet(frag).count()
        == 100_000
    )


def test_pipeline_demo_end_to_end(spark, tmp_path):
    """The full curation pipeline script composes and every stage is
    monotonically non-increasing in rows (each stage only filters).
    It runs in this session, not in a second JVM. The sf0.001 views it
    registers do not leak: every contract row registers its own SF's
    views before it builds."""
    from scripts.pipeline_demo import run
    from tests.conftest import SF_SMOKE

    stats = run(spark, SF_SMOKE, str(tmp_path))
    order = ["ingested", "after_quality", "after_segment_dedup",
             "after_neardup", "after_decontam", "after_mixture"]
    vals = [stats[k] for k in order]
    assert vals == sorted(vals, reverse=True)
    assert stats["written"] == stats["after_mixture"] > 0
    assert stats["packed_chunks"] > 0


def test_to_parquet_bloom_filters_written(spark, tmp_path):
    """bloom_filter_cols must actually write parquet bloom filters —
    observable as the bloom-bitset footprint in the file bytes (this
    pyarrow build doesn't expose the offset in metadata)."""
    import glob
    import os

    import hdk_spark as hdk

    eng = hdk.init(spark=spark)
    res = eng.sql("SELECT * FROM t", t=spark.range(0, 100_000).coalesce(1))
    plain = str(tmp_path / "plain")
    bloomed = str(tmp_path / "bloomed")
    res.to_parquet(plain)
    res.to_parquet(bloomed, bloom_filter_cols=["id"], bloom_ndv=100_000)
    s_plain = sum(os.path.getsize(f) for f in glob.glob(plain + "/part-*"))
    s_bloom = sum(os.path.getsize(f) for f in glob.glob(bloomed + "/part-*"))
    assert s_bloom > s_plain + 50_000  # ndv=100k bitset ~> 100 KB
    assert (
        spark.read.parquet(bloomed).count()
        == spark.read.parquet(plain).count()
        == 100_000
    )


def test_analyze_caches_and_feeds_bounds(spark):
    """analyze() caches per-column stats on the engine; bounds_for
    reuses them without re-scanning, and the bounds drive a map-only
    zorder key (the catalog-bounds pattern)."""
    import hdk_spark as hdk
    from hdk_spark.operators.layout import zorder_key

    eng = hdk.init(spark=spark)
    df = spark.range(0, 1000).selectExpr("id", "id % 50 AS b")
    eng._tables["t"] = df
    eng.analyze("t", exact_ndv=True)
    st = eng.stats["t"]
    assert st["id"]["ndv"] == 1000 and st["b"]["ndv"] == 50
    assert st["b"]["min"] == 0.0 and st["b"]["max"] == 49.0
    bounds = eng.bounds_for("t", ["id", "b"])
    keyed = zorder_key(df, ["id", "b"], bits=6, bounds=bounds)
    p = keyed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p  # bounds known -> map-only key


def test_analyze_single_pass_plan(spark):
    import hdk_spark as hdk

    eng = hdk.init(spark=spark)
    eng._tables["t"] = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
    res = eng.analyze("t")
    p = res.df._jdf.queryExecution().executedPlan().toString()
    # every column's stats in one shared aggregate: ≤2 exchanges
    # (partial/final + the count-distinct expand when exact)
    assert p.count("Exchange") <= 2 and "Join" not in p


def test_ensure_shipped_content_addressed_zip(spark):
    """ensure_shipped writes ONE deterministic content-addressed zip
    (fixed timestamps, sorted entries) and reuses it across sessions —
    the replacement for the former one-mkstemp-leak-per-session
    (ADVICE r5); eager deletion is NOT allowed because executors fetch
    addPyFile sources lazily and verify them against the original
    path."""
    import glob
    import tempfile

    from hdk_spark.session import ensure_shipped

    cache_dir = os.path.join(
        tempfile.gettempdir(), f"hdk_spark-{os.getuid()}"
    )
    ensure_shipped(spark)
    before = sorted(glob.glob(
        os.path.join(cache_dir, "hdk_spark_pkg_*.zip")))
    assert before, "no shipped package zip found"
    # idempotent per context AND content-stable: calling again (even
    # with the guard flag cleared) must not mint a second file
    spark.sparkContext._hdk_spark_shipped = False
    ensure_shipped(spark)
    after = sorted(glob.glob(
        os.path.join(cache_dir, "hdk_spark_pkg_*.zip")))
    assert after == before
    # no stray .tmp files left behind by the atomic write
    assert not glob.glob(
        os.path.join(cache_dir, "hdk_spark_pkg_*.tmp"))


def test_import_binary_feeds_multimodal_family(hdk, tmp_path):
    """import_binary (binaryFile source): each matching file becomes
    one (path, modificationTime, length, content) row — the lake
    entrance for the multimodal blob family. The glob prunes at
    listing time, and the content column composes directly with
    exif_extract (header-only parse of planted JPEGs)."""
    from pyspark.sql import functions as F

    from hdk_spark.operators.exif import build_exif_app1, exif_extract

    blobs = {
        "a.jpg": b"\xff\xd8" + build_exif_app1(
            orientation=6, make="CamA") + b"\xff\xd9",
        "b.jpg": b"\xff\xd8" + build_exif_app1(
            orientation=1, make="CamB", gps=True) + b"\xff\xd9",
        "noise.txt": b"not an image",
    }
    for fn, data in blobs.items():
        (tmp_path / fn).write_bytes(data)

    t = hdk.import_binary(str(tmp_path), name="blobs", glob="*.jpg")
    assert t.row_count == 2  # the glob excluded noise.txt at listing
    cols = [f.name for f in t.schema.fields]
    assert {"path", "content", "length"} <= set(cols)

    rows = exif_extract(
        t.df.select(
            F.xxhash64("path").alias("doc_id"), F.col("content").alias("data")
        ),
        data_col="data",
    ).collect()
    got = {r["make"]: (r["orientation"], r["has_gps"]) for r in rows}
    assert got == {"CamA": (6, False), "CamB": (1, True)}
