"""Pure summary rules shared by every workload (no Spark imports)."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only with at least this many samples beyond it
MIN_TAIL = 10


def nearest_rank(values: list[float], q: float) -> float:
    """The ``q`` quantile (0 < q <= 1) by the nearest-rank rule: the
    smallest sample with at least ``q`` of all samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n: int, q: float) -> int:
    """Samples ranked above the nearest-rank ``q`` quantile of ``n``."""
    return n - max(1, math.ceil(q * n)) if n else 0


def p90_supported(n: int) -> bool:
    return beyond(n, 0.9) >= MIN_TAIL


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def summarize(first: list[float], steady: list[float], setup_s: float,
              rows: int, attempted: int, failed: int) -> dict:
    """End-to-end metrics of one run, each with unit and sample count.

    ``first``: wall seconds of the first op of each kind, reported as
    their sum (the whole cold pass: a median of a few unlike kinds
    would switch between kinds from run to run); ``steady``:
    wall seconds of every later op; ``rows``: input rows those steady
    ops consumed; ``setup_s``: seconds from process start until the
    first op could be submitted."""
    busy = sum(steady)
    p90_ok = p90_supported(len(steady))
    return {
        "setup_s": _m(setup_s, "s", 1),
        "first_pass_s": _m(sum(first), "s", len(first)),
        "op_p50_s": _m(median(steady), "s", len(steady)),
        "op_p90_s": dict(_m(nearest_rank(steady, 0.9) if steady else 0.0, "s",
                            len(steady)), supported=p90_ok,
                         beyond=beyond(len(steady), 0.9)),
        "rows_per_s": _m(rows / busy if busy else 0.0, "1/s", len(steady)),
        "failed_op_ratio": _m(failed / attempted if attempted else 1.0,
                              "ratio", attempted),
    }


def _m(value: float, unit: str, samples: int) -> dict:
    return {"value": value, "unit": unit, "samples": samples}
