"""Module-integrity checks over the public API surface.

Round-9 verdict found two ``__all__`` lists with missing commas
("frequent_items"  "cms_build" silently concatenates into the bogus
name "frequent_itemscms_build", so ``from module import *`` raises
AttributeError). These tests walk every module under ``hdk_spark``
and pin that each ``__all__`` entry actually resolves, so the defect
class cannot recur.
"""

from __future__ import annotations

import importlib
import pkgutil

import pytest

import hdk_spark


def _iter_modules():
    yield "hdk_spark", hdk_spark
    for pkg in (hdk_spark,):
        for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
            yield info.name, importlib.import_module(info.name)


_MODULES = dict(_iter_modules())


@pytest.mark.parametrize("modname", sorted(_MODULES))
def test_all_entries_resolve(modname):
    mod = _MODULES[modname]
    exported = getattr(mod, "__all__", None)
    if exported is None:
        pytest.skip(f"{modname} defines no __all__")
    assert isinstance(exported, (list, tuple)), f"{modname}.__all__ wrong type"
    for name in exported:
        # A concatenated pair (missing comma) shows up as one long
        # name that hasattr cannot resolve.
        assert hasattr(mod, name), (
            f"{modname}.__all__ lists {name!r} which does not resolve — "
            "likely a missing comma concatenating two adjacent entries"
        )
    assert len(set(exported)) == len(exported), f"{modname}.__all__ has dupes"


@pytest.mark.parametrize("modname", sorted(_MODULES))
def test_star_import_works(modname):
    mod = _MODULES[modname]
    if getattr(mod, "__all__", None) is None:
        pytest.skip(f"{modname} defines no __all__")
    ns: dict = {}
    exec(f"from {modname} import *", ns)  # noqa: S102 - test-only
    for name in mod.__all__:
        assert name in ns, f"star-import of {modname} dropped {name}"


def test_priority_window_covers_every_contract_row():
    """The r9 operational miss, made structurally impossible: every
    queries() entry must appear in _PRIORITY exactly once (a row
    absent from the committed list would never rotate into the
    driver's ~50-row check window), every _PRIORITY name must still
    resolve to a live query (no ghosts after a rename), and the list
    must be duplicate-free (a dupe eats a window slot)."""
    import __spark_entry__ as entry

    names = set(entry.queries())
    prio = entry._PRIORITY
    assert len(set(prio)) == len(prio), "duplicate _PRIORITY entries"
    missing = names - set(prio)
    assert not missing, f"contract rows absent from _PRIORITY: {missing}"
    ghosts = set(prio) - names
    assert not ghosts, f"_PRIORITY names with no live query: {ghosts}"


def test_priority_head_was_rotated_after_last_driver_run():
    """r8/r9/r10 each ended with _PRIORITY still aimed at the rows the
    driver had just checked, so the next round would burn its ~50-row
    window re-verifying fresh greens unless someone remembered to run
    scripts/rotate_priority.py. This makes the discipline structural:
    the rotation header stamps the newest CORRECTNESS round it was
    generated against ("rotated against rN"). Exactly ONE newer
    correctness file is legitimate — the driver runs after the final
    commit of a round, so at judge time newest == stamp + 1. TWO or
    more newer files mean a whole round of commits happened without
    re-running the rotation → fail, naming the fix."""
    import glob
    import pathlib
    import re

    root = pathlib.Path(__file__).parents[1]
    src = (root / "__spark_entry__.py").read_text()
    m = re.search(
        r"# Regenerated by scripts/rotate_priority\.py — rotated against r(\d+)",
        src,
    )
    assert m, (
        "_PRIORITY lost its 'rotated against rN' stamp — regenerate with "
        "python scripts/rotate_priority.py --write"
    )
    base = int(m.group(1))
    rounds = [
        int("".join(ch for ch in pathlib.Path(p).name if ch.isdigit()))
        for p in glob.glob(str(root / "CORRECTNESS_r*.json"))
    ]
    newest = max(rounds, default=0)
    assert newest <= base + 1, (
        f"_PRIORITY was rotated against CORRECTNESS_r{base} but "
        f"CORRECTNESS_r{newest} exists — a driver round ran without the "
        "rotation being re-run first. Run: python "
        "scripts/rotate_priority.py --write  and commit."
    )


def test_readme_query_count_matches_registry():
    """The README's 'exposes N named queries' claim is regenerated
    from len(queries()) — this pins it so the count cannot drift
    (VERDICT r9 doc-staleness item, made structural)."""
    import pathlib
    import re

    import __spark_entry__ as entry

    readme = (pathlib.Path(__file__).parents[1] / "README.md").read_text()
    m = re.search(r"exposes (\d+) named queries", readme)
    assert m, "README lost the query-count sentence"
    assert int(m.group(1)) == len(entry.queries()), (
        "README query count drifted — run: python -c \"import "
        "__spark_entry__ as e; print(len(e.queries()))\" and update"
    )


def test_scale_conf_preset_pins_measured_rule():
    """VERDICT r13 #2: the partition-sizing rule lives in code as
    get_spark's scale_hint_rows preset, not in prose. (r14a note: the
    r13c sf10 wall-time claim behind it was re-measured and did not
    reproduce — the preset ships as the cluster-sizing SHAPE, measured
    locally NEUTRAL; SCALE.md r14a.) Pins the conf arithmetic: sf10's
    60M lineitem rows yield 512; sf0.1's 600k rows yield the core
    count, i.e. identical to the unset default, so the bench/test
    profile is untouched; the preset only ever sets the
    runtime-settable initialPartitionNum, never shuffle.partitions;
    and no-hint build_conf equals the bare defaults."""
    from hdk_spark.session import _DEFAULTS, _env_conf, build_conf, scale_conf

    knob = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    assert scale_conf(60_000_000, cores=32) == {knob: "512"}
    assert scale_conf(600_000, cores=32) == {knob: "32"}
    assert scale_conf(0, cores=32) == {knob: "32"}  # floor = cores
    assert scale_conf(6_000_000_000, cores=32) == {knob: "65536"}
    import pytest

    with pytest.raises(ValueError):
        scale_conf(-1)

    defaults = {**_DEFAULTS, **_env_conf()}
    assert build_conf() == defaults
    assert knob not in defaults  # the preset is opt-in, not a default
    c = build_conf(scale_hint_rows=60_000_000)
    assert c[knob] == "512"
    assert c["spark.sql.shuffle.partitions"] == defaults[
        "spark.sql.shuffle.partitions"]
    # caller overrides beat the preset
    assert build_conf(scale_hint_rows=60_000_000, **{knob: "64"})[knob] == "64"


def test_freshness_sla_every_row_checked_within_6_rounds():
    """VERDICT r13 #3: the steady-state evidence-currency guard. With
    298 contract rows and a ~50-row driver check window, a full
    rotation cycle is ceil(298/50) = 6 rounds — so every declared
    query's LATEST green driver check must be at most 6 rounds older
    than the newest CORRECTNESS file. This would have caught the
    r5-stale backlog (age 7 by r12) that took rounds 11-13 to drain,
    and from r14 on it fails the build the moment net row growth
    breaks the 6-round cycle arithmetic. Rows never checked yet are
    exempt here — rotation puts them at the window head, which
    test_priority_window_covers_every_contract_row pins — but only a
    handful may exist at once (more than one window's worth would
    push checked rows past the SLA next round)."""
    import glob
    import json
    import pathlib
    import re

    import __spark_entry__ as entry
    from scripts.rotate_priority import is_green

    root = pathlib.Path(__file__).parents[1]
    latest: dict[str, int] = {}
    newest = 0
    for p in glob.glob(str(root / "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", pathlib.Path(p).name).group(1))
        newest = max(newest, rnd)
        for name, r in json.load(open(p)).items():
            # GREEN checks only, judged by the rotation script's own
            # predicate (imported — one source of truth): a failed
            # re-check must not count as freshness evidence, and the
            # SLA must never diverge from what rotation calls green
            if is_green(r):
                latest[name] = max(latest.get(name, 0), rnd)

    declared = set(entry.queries())
    never_checked = declared - set(latest)
    assert len(never_checked) <= 10, (
        f"{len(never_checked)} rows have never been driver-checked — "
        "more than the rotation can front-load in one window without "
        "pushing checked rows past the 6-round SLA"
    )
    stale = {
        n: newest - latest[n]
        for n in declared & set(latest)
        if newest - latest[n] > 6
    }
    assert not stale, (
        f"{len(stale)} contract rows are >6 rounds stale (newest "
        f"CORRECTNESS is r{newest}): {sorted(stale.items())[:10]} — "
        "the rotation cycle arithmetic (298 rows / 50-row window = 6 "
        "rounds) is broken; stop adding net new rows or widen the "
        "window"
    )
