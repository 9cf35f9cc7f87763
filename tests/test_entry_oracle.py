"""The correctness gate, locally: run queries() entries on Spark and
their oracle_sql() on DuckDB at sf0.01 and require exact equality
(driver-mimic; see oracle_compare.py).

Default scope (VERDICT r14 #1): the FIRST ~80 rows of queries() —
priority order, i.e. a strict superset of the driver's ~50-row
correctness window, and it rotates round-over-round exactly as the
window does (scripts/rotate_priority.py maintains the order). The full
298-row sweep ran 25-30 min by itself, which pushed the whole suite
past the driver's verify budget (r14 shipped with tests_ok=false on a
timeout, not a failure). Set HDK_FULL_ORACLE=1 for the full sweep
(scripts/vanilla_gate.py also covers all 298 out-of-band; run it at
least once per round).

Plan audit: after the comparison, each non-streaming row's executed
frame is audited by scripts/plan_audit.py's audit_plan() (shuffle
exchanges, heavy non-key payload in hash exchanges, BatchEvalPython,
duplicated Python evals, Cartesian / nested-loop joins, unbounded
global windows, mid-plan global sorts, rescanned files, duplicated
interpreted-HOF subtrees) and compared column by column with the
row's line in plans/audit.tsv. The row starts from an empty cache so
a relation cached by an earlier test cannot change its plan. A plan
change that is meant regenerates the row and commits the TSV diff
with it: ``python scripts/plan_audit.py --only <row>[,<row>...]``
(no argument: every row, about ten minutes).

Caches: after the audit, ``release_caches`` on the row's frame must
leave Spark's cache manager empty. Every cache a row leaves is then
one its result carries (hdk_spark/operators/caches.py); a bare
``persist()`` anywhere on the row's path fails here and names the
row."""

import os

import pytest

import __spark_entry__ as entry_mod
from hdk_spark.operators.caches import release_caches
from scripts.plan_audit import COLUMNS, audit_plan, audited, read_tsv
from tests.conftest import SF_CORRECT
from tests.oracle_compare import assert_frames_match

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()
AUDIT = read_tsv()

_FULL = os.environ.get("HDK_FULL_ORACLE") == "1"
# 60 rows plus the 23-row sketch-core lead block at the head of
# _PRIORITY: a lead block is added ahead of the rows the window already
# covered, so the window grows by its length instead of dropping them.
_DEFAULT_WINDOW = 83
_CHECKED = sorted(QUERIES) if _FULL else sorted(
    list(QUERIES)[:_DEFAULT_WINDOW])


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema) > 0


@pytest.mark.parametrize("name", _CHECKED)
def test_query_against_oracle(name, spark, duck):
    spark.catalog.clearCache()
    spark_df = QUERIES[name](spark, SF_CORRECT)
    if name in ORACLES:
        assert_frames_match(spark_df, duck.sql(ORACLES[name]), name)
    else:
        # rows-only contract for non-SQL-expressible ops
        assert spark_df.count() >= 0
    if not audited(name):
        return
    regen = f"python scripts/plan_audit.py --only {name}"
    want = AUDIT.get(name)
    assert want is not None, f"{name}: no row in plans/audit.tsv; run {regen}"
    got = audit_plan(spark_df)
    diff = [f"{c}={got[c]!r}, plans/audit.tsv has {want.get(c)!r}"
            for c in COLUMNS if got[c] != want.get(c)]
    assert not diff, (
        f"{name}: plan audit differs: " + "; ".join(diff)
        + f". If the plan change is meant, run {regen} and commit the TSV.")
    release_caches(spark_df)
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), (
        f"{name}: {cm.numCachedEntries()} cache(s) left that "
        "release_caches(result) does not free")


def test_no_duplicate_contract_row_registrations():
    """A repeated SPARK_IMPLS[...] / ORACLES[...] key would silently
    overwrite an earlier contract row (the dict cousin of the
    shadowed-def regression) — fail loudly instead."""
    import collections
    import pathlib
    import re

    src = (pathlib.Path(__file__).parents[1]
           / "hdk_spark" / "entry_queries.py").read_text()
    for reg in ("SPARK_IMPLS", "ORACLES"):
        keys = re.findall(rf'{reg}\["([^"]+)"\]\s*=', src)
        dupes = [k for k, c in collections.Counter(keys).items() if c > 1]
        assert not dupes, f"duplicate {reg} registrations: {dupes}"
