"""Benchmark entry point: one workload, one seed, one fresh driver process.

    python3 perfbench/run.py --workload doc_dedup_search --seed 1 --seconds 12 --trace 0

Prints one JSON line of detail (every metric with unit and sample
count, observed Spark settings, failures), then, as the last line, the
result object ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Exits 1 when any op failed or gave a wrong output."""

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OP_TIMEOUT_S = 90.0
RUN_LIMIT_S = 175
MIN_CYCLES = 2  # steady cycles of op kinds per run, at the least
# op_p90_s and failed_op_ratio are printed on the detail line only: a run
# leaves fewer than ten samples beyond p90, and the ratio reads 0 (its
# count is the result's "failed" field)
END_TO_END = ["setup_s", "first_pass_s", "op_p50_s", "rows_per_s"]


class Bench:
    """What a workload sees: session handles, inputs, tracer."""

    def __init__(self, seed, tracer, run_dir):
        self.seed = seed
        self.tracer = tracer
        self.run_dir = run_dir
        self.eng = self.entry = self.data_dir = self.manifest = None
        self.inputs_reused = False
        self.job_groups: list[str] = []  # job groups the program runs ops under


def _isolate(run_dir: str) -> None:
    """Keep every temp file, Spark local dir and JVM temp inside the
    checkout, and size the session like ``local[nproc]`` (the program
    reads ``SPARK_GRAFT_CPUS`` when it builds the session). Every other
    setting stays at the program's default; the detail line records
    what the run found."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tempfile.tempdir = None


def _setup(b, wl, hdk):
    """The run's one set-up: inputs (reused when the manifest matches),
    session, package shipping, table registration, and whatever the
    workload needs before its first op (streaming queries started)."""
    from gen import ensure

    t = b.tracer
    with t.span("session.inputs"):
        data_dir = os.path.join(WORK, "data", wl.name)
        b.manifest, b.inputs_reused = ensure(data_dir, wl.recipe, b.seed)
        b.data_dir = data_dir
    with t.span("session.start"):
        spark = hdk.get_spark("perfbench")
    with t.span("session.ship"):
        b.eng = hdk.HDK(spark)
    with t.span("session.load"):
        b.entry.load_tables(spark, data_dir)
    with t.span("session.prepare"):
        wl.prepare()


def _run_op(b, i, kind, fn, probe, records):
    sc = b.eng.spark.sparkContext
    group = f"perfbench-op{i}"
    b.tracer.op = group
    sc.setJobGroup(group, kind, True)
    timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, [group])
    timer.start()
    rec = {"i": i, "kind": kind, "error": None}
    t0_ms = time.time() * 1e3
    c0 = time.perf_counter()
    try:
        with b.tracer.span(f"op.{kind}"):
            out = fn()
    except Exception as e:  # noqa: BLE001 — any raise counts the op failed
        out, rec["error"] = None, f"{type(e).__name__}: {e}"[:500]
    rec["wall_s"] = time.perf_counter() - c0
    t1_ms = time.time() * 1e3
    timer.cancel()
    if rec["wall_s"] > OP_TIMEOUT_S and rec["error"] is None:
        rec["error"] = f"timed out after {OP_TIMEOUT_S}s"
    sc.setLocalProperty("spark.jobGroup.id", None)
    b.tracer.op = None
    if probe is not None:
        rec["spark"] = probe.op_metrics(group, [None] + b.job_groups, t0_ms, t1_ms,
                                        _call_windows(b.tracer, group))
        rec["cache"] = probe.cache_left()
    if hasattr(out, "nbytes"):  # an Arrow result
        rec["result_bytes"] = out.nbytes
    records.append(rec)
    return out


def _call_windows(tracer, group):
    """Wall-clock windows (epoch ms) of the operator calls inside an op,
    so the status store can count the jobs each one launched eagerly."""
    now_ms, now_c = time.time() * 1e3, time.perf_counter()
    return {s["name"]: ((s["start"] - now_c) * 1e3 + now_ms,
                        (s["end"] - now_c) * 1e3 + now_ms)
            for s in tracer.spans
            if s["op"] == group and s["name"].startswith("operators.")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    try:
        import hdk_spark as hdk
        import __spark_entry__ as entry
        import oracle_compare  # noqa: F401 — output checks need it
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: hdk_spark is not importable from this directory: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    import stats
    from probe import StatusStore, Tracer, cpu_ticks, observed_conf, steal_pct

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir)
    signal.signal(signal.SIGALRM, _too_long)
    signal.alarm(RUN_LIMIT_S)

    tracer = Tracer(bool(args.trace))
    b = Bench(args.seed, tracer, run_dir)
    b.entry = entry
    wl = WORKLOADS[args.workload](b)
    records, errors = [], []
    ticks = cpu_ticks()
    try:
        # set-up counts from process start: interpreter and imports, JVM
        # launch, inputs, session, shipping, tables, workload preparation
        _setup(b, wl, hdk)
        setup_s = time.perf_counter() - PROCESS_START
        _log(f"set-up: {setup_s:.2f}s")
        spark = b.eng.spark
        probe = StatusStore(spark) if args.trace else None

        outputs, first, steady, rows = [], [], [], 0
        i, window = 0, None
        while True:
            if i == len(wl.kinds):
                window = time.perf_counter()
            # The steady phase runs whole cycles of op kinds, at least
            # MIN_CYCLES, so every run samples the same mix, and ends on the
            # cycle boundary nearest to --seconds, so a slightly faster or
            # slower box runs the same number of cycles.
            cycles = i // len(wl.kinds) - 1
            if window is not None and i % len(wl.kinds) == 0 and cycles >= MIN_CYCLES:
                elapsed = time.perf_counter() - window
                if elapsed + elapsed / cycles / 2 >= args.seconds:
                    break
            op = wl.next_op(i)
            if op is None:  # the workload has no input left
                break
            kind, fn, n_rows, key = op
            out = _run_op(b, i, kind, fn, probe, records)
            rec = records[-1]
            if rec["error"] is None:
                outputs.append((key, out))
                if window is None:
                    first.append(rec["wall_s"])
                else:
                    steady.append(rec["wall_s"])
                    rows += n_rows
            wl.settle()
            i += 1

        _log(f"ops done: {i}")
        errors = [f"op{r['i']} {r['kind']}: {r['error']}" for r in records if r["error"]]
        errors += wl.check(outputs)
        _log("checked")
        conf = dict(observed_conf(spark), cpu_steal_pct=steal_pct(ticks, cpu_ticks()))
        rss = probe.jvm_rss_peak_mb() if probe else None
    finally:
        wl.close()
        _shutdown(b)
        shutil.rmtree(run_dir, ignore_errors=True)
        _log("shut down")
    signal.alarm(0)

    attempted = len(records)
    failed = min(attempted, len(errors))
    e2e = stats.summarize(first, steady, setup_s, rows, attempted, failed)
    layers = _layers(wl, tracer, records, rss, len(wl.kinds)) if args.trace else {}
    if args.trace:
        os.makedirs(WORK, exist_ok=True)
        path = os.path.join(WORK, f"trace-{wl.name}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"spans": tracer.spans, "ops": records}, fh)

    detail = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "observed": conf,
        "inputs_reused": b.inputs_reused, "inputs": b.manifest["sources"],
        "end_to_end": e2e,
        "per_layer": layers, "errors": errors,
        "ops": [[r["kind"], round(r["wall_s"], 4)] for r in records],
    }
    print(json.dumps(detail, default=float))
    chosen = layers if args.trace else {k: e2e[k] for k in END_TO_END}
    print(json.dumps({
        "correct": not errors, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in chosen.items()},
    }))
    sys.stdout.flush()
    return 0 if not errors else 1


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - PROCESS_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def _too_long(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S}s")


def _shutdown(b):
    """Stop the session and the JVM, and wait until both have ended."""
    if b.eng is None:
        return
    from pyspark import SparkContext

    b.eng.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:  # the JVM exits when its stdin closes
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None


def _layers(wl, tracer, records, rss, n_first) -> dict:
    """Per-layer metrics: set-up spans, and medians over the
    steady-phase ops of everything read per op."""
    from probe import stream_progress
    from stats import median

    steady = [r for r in records[n_first:] if r["error"] is None]
    cold = {s["name"]: s["end"] - s["start"] for s in tracer.spans
            if s["name"].startswith("session.")}

    def per_op(name):
        return median([tracer.total_ms(name, f"perfbench-op{r['i']}") for r in steady])

    def spark(key):
        return median([r["spark"][key] for r in steady])

    out = {
        "session.start_s": (cold.get("session.start", 0.0), "s"),
        "session.ship_s": (cold.get("session.ship", 0.0), "s"),
        "session.load_s": (cold.get("session.load", 0.0), "s"),
        "session.jvm_rss_peak_mb": (rss or 0.0, "MB"),
        "context.sql_ms": (per_op("context.sql"), "ms"),
        "context.to_arrow_ms": (per_op("context.to_arrow"), "ms"),
        "context.result_bytes": (median([r.get("result_bytes", 0) for r in steady]), "bytes"),
        "spark.plan_ms": (per_op("spark.plan"), "ms"),
    }
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"),
                      ("gc_ms", "ms"), ("shuffle_read_bytes", "bytes"),
                      ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
                      ("driver_idle_ms", "ms")):
        out[f"spark.{key}"] = (spark(key), unit)
    from workloads import DocDedupSearch

    for op in DocDedupSearch.kinds:  # the per-layer list names these three
        calls = [r for r in steady if r["kind"] == op]
        out[f"operators.{op}.call_ms"] = (
            median([tracer.total_ms(f"operators.{op}", f"perfbench-op{r['i']}")
                    for r in calls]), "ms")
        out[f"operators.{op}.eager_jobs"] = (
            median([r["spark"]["eager_jobs"].get(f"operators.{op}", 0) for r in calls]),
            "count")
    out["operators.python_rows"] = (spark("python_rows"), "count")
    out["operators.python_bytes"] = (spark("python_bytes"), "bytes")
    last = records[-1]["cache"]
    out["operators.persisted_rdds_left"] = (last["persisted_rdds_left"], "count")
    out["operators.cached_mb_left"] = (last["cached_mb_left"], "MB")
    batches = [p for _, p in getattr(wl, "progress", [])][n_first:]
    per_batch = [stream_progress(p) for p in batches]
    for key, unit in (("batch_ms", "ms"), ("add_batch_ms", "ms"),
                      ("wal_commit_ms", "ms"), ("state_commit_ms", "ms"),
                      ("state_instances", "count"), ("state_rows", "count"),
                      ("state_mem_bytes", "bytes")):
        out[f"streaming.{key}"] = (median([d[key] for d in per_batch]), unit)
    op_s = sum(r["wall_s"] for r in records)
    out["trace.stages_missing"] = (sum(r["spark"]["stages_missing"] for r in records), "count")
    out["trace.stages_skipped"] = (spark("stages_skipped"), "count")
    out["trace.overhead_pct"] = (100.0 * tracer.cost_s / op_s if op_s else 0.0, "%")
    return {k: {"value": float(v), "unit": u, "samples": len(steady)}
            for k, (v, u) in out.items()}


if __name__ == "__main__":
    sys.exit(main())
