"""Reads the per-layer numbers from outside the program: spans from the
benchmark's own clock, engine counters from Spark's in-process status
store (works with ``spark.ui.enabled=false``), streaming progress from
``StreamingQueryProgress``."""

from __future__ import annotations

import contextlib
import os
import re
import time

# Spark SQL metric names of the Python-evaluation plan nodes
_PY_NODE = re.compile(r"Python|Pandas|Arrow", re.I)
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


class Tracer:
    """Spans around each call into a layer: name, start, end, parent
    span and op id, kept in memory and written once at the end. With
    ``on=False`` the same calls run and record nothing."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self.op: "str | None" = None
        self.cost_s = 0.0  # time spent inside the bookkeeping itself
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield None
            return
        c0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.cost_s += rec["start"] - c0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.cost_s += time.perf_counter() - rec["end"]

    def total_ms(self, name: str, op: "str | None" = None) -> float:
        return sum((s["end"] - s["start"]) * 1e3 for s in self.spans
                   if s["name"] == name and "end" in s
                   and (op is None or s["op"] == op))


def parse_size(text: str) -> float:
    """Bytes from a Spark size-metric string (``"12.3 KiB"``, or the
    ``"total (min, med, max ...)\\n12.3 KiB (...)"`` form)."""
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def parse_count(text: str) -> float:
    last = text.split("\n")[-1]
    m = re.search(r"-?[\d,]+", last)
    return float(m.group(0).replace(",", "")) if m else 0.0


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class StatusStore:
    """Per-op engine counters. ``op_metrics`` is called after the op
    returned, outside its timed region."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_status = jvm.java.util.ArrayList()
        self._no_q = self.sc._gateway.new_array(jvm.double, 0)
        self._exec_seen = 0
        self._shared_seen: set[int] = set()
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def drain(self, timeout_ms: int = 5000) -> None:
        """Wait (bounded) until the listener bus has delivered every
        event posted so far, so the store reflects finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty(timeout_ms)

    def job_ids(self, group: str, shared: "list[str | None]") -> list[int]:
        """Jobs of the op's job group, plus jobs of the ``shared``
        groups (``None``: no group) that appeared since the last op:
        streaming runs its batches on its own thread under the query's
        run id, and the benchmark is the only client, so they are the
        op's."""
        tracker = self.sc.statusTracker()
        fresh = {j for g in shared for j in tracker.getJobIdsForGroup(g)}
        fresh -= self._shared_seen
        self._shared_seen |= fresh
        return sorted(set(tracker.getJobIdsForGroup(group)) | fresh)

    def op_metrics(self, group: str, shared: "list[str | None]", t0_ms: float,
                   t1_ms: float, calls: "dict[str, tuple[float, float]]") -> dict:
        """Counters of the op's jobs (see ``job_ids``) over its wall
        window ``[t0_ms, t1_ms]``; ``calls`` maps an operator span name
        to its wall window, to count the jobs it launched eagerly."""
        self.drain()
        tracker = self.sc.statusTracker()
        jobs = self.job_ids(group, shared)
        expected: set[int] = set()
        eager = dict.fromkeys(calls, 0)
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                expected.update(info.stageIds)
            if calls:
                sub = self._store.job(j).submissionTime()
                at = float(sub.get().getTime()) if sub.isDefined() else None
                for name, (lo, hi) in calls.items():
                    if at is not None and lo <= at <= hi:
                        eager[name] += 1
        out = dict.fromkeys(
            ("stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0.0)
        missing = skipped = 0
        spans = []
        for sid in sorted(expected):
            try:
                attempts = self._store.stageData(sid, False, self._no_status,
                                                 False, self._no_q)
            except Exception:  # evicted from the store: counted, not zero
                missing += 1
                continue
            if attempts.size() == 0:
                missing += 1
                continue
            st = attempts.apply(attempts.size() - 1)
            if str(st.status()) == "SKIPPED":
                skipped += 1
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["gc_ms"] += st.jvmGcTime()
            out["shuffle_read_bytes"] += (st.shuffleRemoteBytesRead()
                                          + st.shuffleLocalBytesRead())
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            sub, done = st.submissionTime(), st.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((float(sub.get().getTime()), float(done.get().getTime())))
        out["jobs"] = float(len(jobs))
        out["eager_jobs"] = eager
        out["driver_idle_ms"] = max(0.0, (t1_ms - t0_ms) - covered_ms(spans, t0_ms, t1_ms))
        out["stages_expected"] = float(len(expected))
        out["stages_missing"] = float(missing)
        out["stages_skipped"] = float(skipped)
        out.update(self._python_nodes(set(jobs)))
        return out

    def _python_nodes(self, jobs: set[int]) -> dict:
        """Rows and bytes through Python-evaluation plan nodes of the
        SQL executions that ran ``jobs``."""
        rows = nbytes = 0.0
        count = int(self._sql.executionsCount())
        if count > self._exec_seen:
            execs = self._sql.executionsList(self._exec_seen, count - self._exec_seen)
            self._exec_seen = count
            for i in range(execs.size()):
                ex = execs.apply(i)
                if not any(ex.jobs().contains(j) for j in jobs):
                    continue
                nodes = self._sql.planGraph(ex.executionId()).allNodes()
                wanted = {}
                for k in range(nodes.size()):
                    node = nodes.apply(k)
                    if not _PY_NODE.search(node.name()):
                        continue
                    ms = node.metrics()
                    for m in range(ms.size()):
                        metric = ms.apply(m)
                        wanted[int(metric.accumulatorId())] = metric.name()
                if not wanted:
                    continue
                values = self._sql.executionMetrics(ex.executionId())
                it = values.iterator()
                while it.hasNext():
                    kv = it.next()
                    name = wanted.get(int(kv._1()))
                    if name == "number of output rows":
                        rows += parse_count(kv._2())
                    elif name and name.startswith("data ") and "Python" in name:
                        nbytes += parse_size(kv._2())
        return {"python_rows": rows, "python_bytes": nbytes}

    def cache_left(self) -> dict:
        infos = self._jsc.getRDDStorageInfo()
        used = sum(i.memSize() + i.diskSize() for i in infos)
        return {"persisted_rdds_left": float(self.sc._jsc.getPersistentRDDs().size()),
                "cached_mb_left": used / 2**20}

    def jvm_rss_peak_mb(self) -> float:
        try:
            with open(f"/proc/{self.jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0


def cpu_ticks() -> "list[int]":
    """The machine-wide ``cpu`` line of ``/proc/stat`` (empty if absent)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_pct(before: "list[int]", after: "list[int]") -> "float | None":
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: run-to-run spread tracks it."""
    if len(before) < 8 or len(after) < 8 or sum(after) <= sum(before):
        return None
    return 100.0 * (after[7] - before[7]) / (sum(after) - sum(before))


def observed_conf(spark) -> dict:
    """Master, core count, shuffle partitions and driver memory as the
    run found them."""
    sc = spark.sparkContext
    return {"master": sc.master, "cores": sc.defaultParallelism,
            "cpu_count": os.cpu_count(),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": sc.getConf().get("spark.driver.memory", None)}


def stream_progress(progress) -> dict:
    """Per-batch layer numbers from one ``StreamingQueryProgress``."""
    d = progress.durationMs or {}
    ops = progress.stateOperators or []
    return {
        "batch_ms": float(d.get("triggerExecution", 0)),
        "add_batch_ms": float(d.get("addBatch", 0)),
        "wal_commit_ms": float(d.get("walCommit", 0) + d.get("commitOffsets", 0)),
        "state_commit_ms": float(sum(o.commitTimeMs for o in ops)),
        "state_instances": float(sum(o.numStateStoreInstances for o in ops)),
        "state_rows": float(sum(o.numRowsTotal for o in ops)),
        "state_mem_bytes": float(sum(o.memoryUsedBytes for o in ops)),
    }
