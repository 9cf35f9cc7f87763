"""One plan-audit pass over the contract rows.

Builds each non-streaming queries() row at sf0.01 (the oracle test's
SF) under the test session's conf, walks its physical plan once and
writes one line per row to plans/audit.tsv, one column per check:

- n_exchange     shuffle exchanges. RoundRobinPartitioning fan-outs are
                 not counted: repartition_for_width sizes them by the
                 session's core count.
- heavy_hash     hash exchanges that carry a string/binary/array/map/
                 struct column which is not itself a bare hash key
                 (matched by expression id, not name); heavy_cols lists
                 those columns per exchange, in walk order.
- batch_eval     BatchEvalPython nodes (row-at-a-time Python UDFs).
- dup_pyeval     Python functions evaluated by more than one node.
- cartesian, bnlj  CartesianProduct / BroadcastNestedLoopJoin nodes.
- global_window  windows with an empty partition spec and no top-k
                 bound (WindowGroupLimit, TakeOrderedAndProject) feeding
                 them: the whole input flows through one task.
- midplan_sort   global sorts below the root ORDER BY.
- rescan         input files scanned more than once, file:count. Where
                 an exchange tops the repeated subtree AQE may reuse it,
                 so this is where to look, not by itself waste.
- hof_dup        the most copies of one interpreted higher-order-
                 function subtree (split / aggregate / transform /
                 filter / array_intersect / str_to_map) over the
                 optimized plan's nodes, cache builds left out. Copies
                 are counted, not printed: expression ids change per
                 run.

The plan walked is AQE's initial plan (the shape EnsureRequirements
produced, the same before and after execution), into every subquery
and every cached relation's plan once. Each row starts with an empty
cache, so a relation an earlier row cached cannot change a later
row's audit. tests/test_entry_oracle.py audits the frame it has just
executed with audit_plan() and compares it with this file.

Usage:
    python scripts/plan_audit.py                 # every row -> plans/audit.tsv
    python scripts/plan_audit.py --only a,b      # re-audit rows a and b in place
    python scripts/plan_audit.py --plans DIR     # also write DIR/<row>.txt plans
    python scripts/plan_audit.py --first 83 --reverse --out /tmp/r.tsv
                                 # stability check over the oracle window
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from tests.conftest import SF_CORRECT  # noqa: E402 - and its driver heap

TSV = os.path.join(REPO_ROOT, "plans", "audit.tsv")
COLUMNS = ("n_exchange", "heavy_hash", "heavy_cols", "batch_eval",
           "dup_pyeval", "cartesian", "bnlj", "global_window",
           "midplan_sort", "rescan", "hof_dup")

_HEAVY = re.compile(r"^(string|binary|array<|map<|struct<)")
_BOUNDERS = ("WindowGroupLimitExec", "TakeOrderedAndProjectExec")
_HOF = ("split(", "aggregate(", "transform(", "filter(",
        "array_intersect(", "str_to_map(")


def audited(name: str) -> bool:
    """Streaming rows run their stream when built: no plan to audit."""
    return not name.startswith("streaming_")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class _Walk:
    """One pass over a physical plan. ``nodes`` holds [node, class,
    depth, transparent, child indices]; depth counts only nodes that
    are not requirement exchanges or local sorts, so the root ORDER BY
    sits at depth <= 2 as it does before EnsureRequirements runs.
    Subqueries and cached relations' plans are walked once each, as
    separate trees."""

    def __init__(self, jvm):
        self.jvm = jvm
        self.nodes: list = []
        self.seen: set = set()
        self.scans: Counter = Counter()

    def plan(self, node, depth: int = 0) -> int:
        for sq in _seq(node.subqueriesAll()):
            if sq.name() not in self.seen:
                self.seen.add(sq.name())
                self.plan(sq)
        return self._node(node, depth)

    def _node(self, node, depth: int) -> int:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return self.plan(node.initialPlan(), depth)
        transparent = (
            (cls == "ShuffleExchangeExec"
             and node.shuffleOrigin().toString() == "ENSURE_REQUIREMENTS")
            or (cls == "SortExec" and not getattr(node, "global")()))
        idx = len(self.nodes)
        self.nodes.append([node, cls, depth, transparent, []])
        if cls == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            key = self.jvm.System.identityHashCode(cached)
            if key not in self.seen:
                self.seen.add(key)
                self.plan(cached)
        elif cls == "FileSourceScanExec":
            for p in _seq(node.relation().location().rootPaths()):
                self.scans[p.getName()] += 1
        for ch in _seq(node.children()):
            self.nodes[idx][4].append(
                self._node(ch, depth + (not transparent)))
        return idx


def _heavy_nonkey(ex) -> "list[str]":
    part = ex.outputPartitioning()
    keys = {e.exprId().id() for e in _seq(part.expressions())
            if e.getClass().getSimpleName() == "AttributeReference"}
    out = []
    for a in _seq(ex.output()):
        t = a.dataType().simpleString()
        if _HEAVY.match(t) and a.exprId().id() not in keys:
            out.append(f"{a.name()}:{t[:24]}")
    return out


def _bounded(nodes, i: int) -> bool:
    """Does a top-k bound feed window node i, before a join or a
    non-requirement exchange cuts the chain?"""
    stack = list(nodes[i][4])
    while stack:
        _, cls, _, transparent, kids = nodes[stack.pop()]
        if cls in _BOUNDERS:
            return True
        if "Join" in cls or ("Exchange" in cls and not transparent):
            continue
        stack.extend(kids)
    return False


def _hof_copies(plan) -> int:
    """Most copies of one kernel-rooted subexpression (40+ chars) over
    the optimized plan's nodes. A cached relation's build plan hangs
    off its InMemoryRelation leaf, not off its children, so it is not
    walked: it runs once however often it is read, and whether it has
    run yet does not change the count."""
    copies: Counter = Counter()
    stack = [plan]
    while stack:
        node = stack.pop()
        stack.extend(_seq(node.children()))
        for ln in node.simpleString(2**31 - 1).splitlines():
            for kern in _HOF:
                for m in re.finditer(r"\b" + re.escape(kern), ln):
                    depth, k = 0, m.end() - 1
                    while k < len(ln):
                        depth += {"(": 1, ")": -1}.get(ln[k], 0)
                        if depth == 0:
                            break
                        k += 1
                    if k - m.start() >= 39:
                        copies[ln[m.start():k + 1]] += 1
    return max(copies.values(), default=0)


def audit_plan(df) -> "dict[str, str]":
    """The audit columns of one DataFrame's plan, as TSV strings."""
    qe = df._jdf.queryExecution()
    w = _Walk(df.sparkSession._jvm.java.lang)
    w.plan(qe.executedPlan())
    n_ex, heavy, batch, cart, bnlj, gw, sorts = 0, [], 0, 0, 0, 0, []
    py: Counter = Counter()
    for i, (node, cls, depth, _, _) in enumerate(w.nodes):
        if cls == "ShuffleExchangeExec":
            kind = node.outputPartitioning().getClass().getSimpleName()
            if kind != "RoundRobinPartitioning":
                n_ex += 1
            if kind == "HashPartitioning":
                cols = _heavy_nonkey(node)
                if cols:
                    heavy.append(",".join(cols))
        elif re.search("Python|InPandas|InArrow", cls):
            batch += cls == "BatchEvalPythonExec"
            py.update({e.name() for e in _seq(node.expressions())
                       if e.getClass().getSimpleName() == "PythonUDF"})
        elif cls == "CartesianProductExec":
            cart += 1
        elif cls == "BroadcastNestedLoopJoinExec":
            bnlj += 1
        elif cls == "WindowExec":
            gw += node.partitionSpec().isEmpty() and not _bounded(w.nodes, i)
        elif cls == "SortExec" and getattr(node, "global")() and depth > 2:
            sorts.append(depth)
    return {
        "n_exchange": str(n_ex),
        "heavy_hash": str(len(heavy)),
        "heavy_cols": "; ".join(heavy) or "-",
        "batch_eval": str(batch),
        "dup_pyeval": ",".join(sorted(u for u, k in py.items() if k > 1)) or "-",
        "cartesian": str(cart),
        "bnlj": str(bnlj),
        "global_window": str(gw),
        "midplan_sort": ",".join(map(str, sorted(sorts))) or "-",
        "rescan": ",".join(f"{f}:{k}" for f, k in sorted(w.scans.items())
                           if k > 1) or "-",
        "hof_dup": str(_hof_copies(qe.optimizedPlan())),
    }


def read_tsv(path: str = TSV) -> "dict[str, dict[str, str]]":
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        header = fh.readline().rstrip("\n").split("\t")
        return {cells[0]: dict(zip(header[1:], cells[1:]))
                for cells in (ln.rstrip("\n").split("\t") for ln in fh)}


def write_tsv(rows: "dict[str, dict[str, str]]", order, path: str) -> None:
    with open(path, "w") as fh:
        fh.write("\t".join(("name",) + COLUMNS) + "\n")
        for name in order:
            if name in rows:
                cells = [name] + [rows[name].get(c, "-") for c in COLUMNS]
                fh.write("\t".join(cells) + "\n")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", help="comma-separated row names")
    ap.add_argument("--first", type=int, help="only the first N rows")
    ap.add_argument("--reverse", action="store_true",
                    help="build the rows in reverse order")
    ap.add_argument("--plans", help="also write each row's formatted plan "
                    "to DIR/<row>.txt")
    ap.add_argument("--out", help="TSV to update in place (default "
                    "plans/audit.tsv); rows not audited are kept")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from hdk_spark.session import get_spark

    spark = get_spark("plan_audit")
    queries = entry.queries()
    names = [n for n in list(queries)[:args.first] if audited(n)]
    if args.only:
        names = [n for n in names if n in args.only.split(",")]
    out = args.out or TSV
    rows = read_tsv(out)
    for name in names[::-1] if args.reverse else names:
        spark.catalog.clearCache()
        df = None
        try:
            df = queries[name](spark, SF_CORRECT)
            rows[name] = audit_plan(df)
        except Exception as e:  # noqa: BLE001 - record it, keep auditing
            msg = re.sub(r"\s+", " ", f"ERROR({type(e).__name__}: {e}"[:90])
            rows[name] = dict.fromkeys(COLUMNS, msg + ")")
        if args.plans and df is not None:
            os.makedirs(args.plans, exist_ok=True)
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                fh.write(spark._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        sys.stderr.write(f"audited {name}\n")
    write_tsv(rows, list(queries), out)
    spark.stop()


if __name__ == "__main__":
    main()
