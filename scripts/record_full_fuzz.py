"""Run the fuzz grammars at their full example counts and record the run.

    python scripts/record_full_fuzz.py [extra pytest args]

Sets ``HDK_FULL_FUZZ=1``, runs ``tests/test_fuzz_oracle.py`` and counts,
per hypothesis test, the examples that reached the Spark-vs-DuckDB
comparison. When every test passed it writes ``tests/fuzz_full_run.json``
(grammar digest, per-grammar example counts and outcomes, wall time),
which ``tests/test_fuzz_record.py`` checks in the default suite. Exits
with pytest's status; a failing run leaves the record untouched.
"""

from __future__ import annotations

import collections
import json
import os
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests.test_fuzz_record import FUZZ, RECORD, fuzz_tests, grammar_digest  # noqa: E402


class _Recorder:
    def __init__(self) -> None:
        self.examples: "collections.Counter[str]" = collections.Counter()
        self.outcomes: "dict[str, str]" = {}

    @pytest.hookimpl(hookwrapper=True)
    def pytest_runtest_call(self, item):
        module = item.module
        compare = module.assert_frames_match

        def counting(*args, **kwargs):
            self.examples[item.name] += 1
            return compare(*args, **kwargs)

        module.assert_frames_match = counting
        try:
            yield
        finally:
            module.assert_frames_match = compare

    def pytest_runtest_logreport(self, report) -> None:
        name = report.nodeid.split("::")[-1]
        if report.when == "call" or report.outcome != "passed":
            self.outcomes[name] = report.outcome


def main(argv: "list[str]") -> int:
    os.environ["HDK_FULL_FUZZ"] = "1"
    os.chdir(REPO)
    digest = grammar_digest()
    rec = _Recorder()
    t0 = time.time()
    status = pytest.main([FUZZ, "-q", "-p", "no:cacheprovider", *argv], plugins=[rec])
    wall = time.time() - t0
    names = fuzz_tests()
    if status != 0 or any(rec.outcomes.get(n) != "passed" for n in names):
        print("full fuzz run failed; record not written", file=sys.stderr)
        return int(status) or 1
    record = {
        "grammar_digest": digest,
        "command": "HDK_FULL_FUZZ=1 python -m pytest tests/test_fuzz_oracle.py",
        "cores": os.environ.get("SPARK_GRAFT_CPUS"),
        "wall_s": round(wall, 1),
        "grammars": {
            n: {"examples": rec.examples[n], "outcome": rec.outcomes[n]} for n in sorted(names)
        },
    }
    with open(RECORD, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    print(f"wrote {os.path.relpath(RECORD, REPO)}: {sum(rec.examples.values())} examples")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
