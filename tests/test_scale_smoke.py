"""scripts/scale_smoke.py: its corpus generator writes a manifest and
regenerates exactly when the manifest stops matching, run in this
session on sf0.001."""

import json
import os

from pyspark.sql import functions as F

from scripts import scale_smoke
from tests.conftest import SF_SMOKE


def test_corpus_manifest_reuses_or_regenerates(spark, tmp_path, monkeypatch):
    recipe = (2, {"documents": {"doc_id": 10_000_000}}, ("region",), True)
    monkeypatch.setitem(scale_smoke.RECIPES, "docs-x2", recipe)
    monkeypatch.setitem(scale_smoke.RECIPES, "docs-x2-v2", recipe)
    dst = str(tmp_path)
    src_docs = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    n = src_docs.count()

    assert scale_smoke.ensure_corpus(spark, dst, "docs-x2", src=SF_SMOKE)
    manifest = os.path.join(dst, "MANIFEST.json")
    with open(manifest) as fh:
        have = json.load(fh)
    assert have == {"source": SF_SMOKE, "recipe": "docs-x2",
                    "rows": {"documents": 2 * n, "region": 5}}
    docs = spark.read.parquet(os.path.join(dst, "documents.parquet"))
    assert docs.select("doc_id").distinct().count() == 2 * n
    # copy 1: shifted keys, every token tagged with its copy number
    want = src_docs.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.regexp_replace("text", r"(\S+)", "$1r1").alias("text"))
    copy1 = docs.filter("doc_id >= 10000000").select("doc_id", "text")
    assert copy1.count() == n
    assert copy1.subtract(want).count() == 0

    # same recipe, same files: reused
    assert not scale_smoke.ensure_corpus(spark, dst, "docs-x2", src=SF_SMOKE)
    # a changed recipe tag regenerates
    assert scale_smoke.ensure_corpus(spark, dst, "docs-x2-v2", src=SF_SMOKE)
    with open(manifest) as fh:
        assert json.load(fh)["recipe"] == "docs-x2-v2"
    # so does a row count that no longer matches the files
    have["recipe"], have["rows"]["documents"] = "docs-x2-v2", 2 * n + 1
    with open(manifest, "w") as fh:
        json.dump(have, fh)
    assert scale_smoke.ensure_corpus(spark, dst, "docs-x2-v2", src=SF_SMOKE)
    with open(manifest) as fh:
        assert json.load(fh)["rows"]["documents"] == 2 * n
    assert not scale_smoke.ensure_corpus(spark, dst, "docs-x2-v2", src=SF_SMOKE)


def test_list_names_the_three_shapes(monkeypatch, capsys):
    monkeypatch.setattr("sys.argv", ["scale_smoke.py", "--list"])
    scale_smoke.main()
    flags = [ln.split()[0] for ln in capsys.readouterr().out.splitlines()]
    assert flags == ["headline", "--cc100", "--r15spill"]


def test_recipe_columns_exist_in_source():
    """Every table and shifted key a real recipe names is in the source
    schema, so no recipe fails (or silently copies) on a missing column."""
    import pyarrow.parquet as pq

    for recipe, (_, shifts, once, _) in scale_smoke.RECIPES.items():
        for table in [*shifts, *once]:
            names = pq.read_schema(
                os.path.join(SF_SMOKE, f"{table}.parquet")).names
            for col in shifts.get(table, {}):
                assert col in names, (recipe, table, col)
