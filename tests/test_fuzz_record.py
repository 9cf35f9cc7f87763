"""The default suite runs each fuzz grammar at 8 examples; the full
counts run only under ``HDK_FULL_FUZZ=1``. ``tests/fuzz_full_run.json``
records the last full run (``python scripts/record_full_fuzz.py`` writes
it when every fuzz test passed). This test fails when the grammars
change without a new full run, so that run cannot be skipped."""

import ast
import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
FUZZ = os.path.join(HERE, "test_fuzz_oracle.py")
RECORD = os.path.join(HERE, "fuzz_full_run.json")


def grammar_digest() -> str:
    """sha256 of ``tests/test_fuzz_oracle.py``: its grammars, their
    authored example counts and the comparisons they drive."""
    with open(FUZZ, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def fuzz_tests() -> "list[str]":
    """Names of the hypothesis-driven tests in the fuzz module."""
    with open(FUZZ) as fh:
        tree = ast.parse(fh.read())
    return [
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        and node.name.startswith("test_")
        and any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "given"
            for d in node.decorator_list
        )
    ]


def test_full_fuzz_record_matches_grammars():
    with open(RECORD) as fh:
        record = json.load(fh)
    assert record["grammar_digest"] == grammar_digest(), (
        "tests/test_fuzz_oracle.py changed since the last full-count fuzz run; "
        "run `python scripts/record_full_fuzz.py` and commit tests/fuzz_full_run.json"
    )
    grammars = record["grammars"]
    assert sorted(grammars) == sorted(fuzz_tests())
    for name, entry in grammars.items():
        assert entry["outcome"] == "passed", name
        assert entry["examples"] > 8, f"{name}: {entry['examples']} examples"
