"""SparkSession factory with scale-aware defaults.

Single place every entry point (facade, tests, bench, driver contract)
gets its session from, so the tuning story is consistent:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  plays the role of the reference's adaptive device/layout choices
  (reference omniscidb/QueryEngine/MemoryLayoutBuilder.cpp picks hash
  layouts by observed cardinality; AQE is the Spark-native equivalent).
- shuffle.partitions sized to local cores for tests; on a real cluster
  AQE coalescing makes the initial number mostly irrelevant.
  ``__spark_entry__.load_tables`` follows the same rule on any session
  (vanilla included): it sets it to ``sparkContext.defaultParallelism``.
- Arrow enabled for toPandas()/pandas-UDF boundaries.
- UTC session timezone so results compare cleanly against UTC-naive
  oracles (DuckDB) and parquet ms/ns timestamps.
- Python workers fork from :mod:`hdk_spark.daemon` on ``local[...]``
  masters. Spark's worker calls ``importlib.invalidate_caches()`` on
  every task, and before CPython 3.12 that re-reads the central
  directory of every zip on the worker path, the ``spark-core`` jar
  included: ~150 ms before each task's kernel starts, even in a reused
  worker. The daemon re-reads an archive only when it changed. The
  directory that holds the package goes on the workers' PYTHONPATH
  (Spark merges it with its own), so the daemon imports from any cwd.
  Other masters keep Spark's default daemon, and a session that does
  not come from ``get_spark`` (the driver contract's) is untouched.
- Streaming checkpoints and state-store files go through Hadoop's
  ``FileSystem`` API (``FileSystemBasedCheckpointFileManager``, Spark's
  own fallback where ``FileContext`` is unsupported) on ``local[...]``
  masters, by the same rule as the daemon. Without the native Hadoop
  library, every permission change and symlink lookup on the local
  file system forks a process. Spark's default ``FileContext`` manager
  renames each atomically written file through ``FileContext.rename``,
  which looks up links: eight ``readlink`` forks per file (source and
  destination, twice each, for the file and for its ``.crc``). Every
  state-store delta, offsets/commits/sources log entry and checksum
  file is written that way, so a micro-batch of a 4-store query forked
  about 90 of them, most of its commit time. This manager renames with
  the 2-argument ``FileSystem.rename``, a POSIX ``rename(2)``, and
  forks no ``readlink``. Both managers still fork one ``chmod`` for
  each new file and one for its ``.crc``. The files
  are the same (Spark's ``<v>.delta.crc`` and Hadoop's ``.crc``
  sidecars are still written and verified), so a checkpoint restarts
  under either manager. One difference: a create that must not
  overwrite checks ``exists`` and then renames, so two *processes*
  racing on one checkpoint inside that window are not refused by the
  file system. Within one Spark application a second ``start()`` on
  an active query's checkpoint still never runs beside the first:
  Spark's active-run check stops the old run, or refuses the new one
  when ``spark.sql.streaming.stopActiveRunOnRestart`` is false.
- ``spark.driver.memory`` (``SPARK_GRAFT_DRIVER_MEM``) and
  ``spark.sql.shuffle.partitions`` (``SPARK_GRAFT_CPUS``) are read from
  the environment when the conf is built, like the master, not when
  this module is imported.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory that holds the ``hdk_spark`` package
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: set only for ``local[...]`` masters, where workers share this file system
_LOCAL_ONLY = (
    "spark.python.daemon.module",
    "spark.executorEnv.PYTHONPATH",
    "spark.sql.streaming.checkpointFileManagerClass",
)

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 1.5m (vs Spark's 10m default): Spark scales a scan's size estimate
    # by the column-pruning ratio, so an 11MB fact file projected to 3
    # of 11 columns estimates ~3MB and gets broadcast — the driver-side
    # hash build of the 600k-row side measured ~0.5s/query at sf0.1 and
    # OOMs at scale. 1.5m keeps true dimension tables (customer/orders
    # pruned, supplier, part, nation, region) broadcast while fact scans
    # shuffle; AQE still upgrades a join to broadcast from observed
    # runtime sizes when a side is genuinely small (e.g. a filtered
    # dim⋈dim intermediate).
    "spark.sql.autoBroadcastJoinThreshold": str(1536 * 1024),
    # Runtime (AQE) broadcast decisions use MEASURED shuffle sizes, not
    # pruning-scaled guesses, so a much higher bar is safe there: a join
    # side observed ≤32 MB broadcasts even when its static estimate was
    # wrong in either direction. This recovers broadcast plans for
    # mid-size intermediates (LSH bucket relations, filtered dim⋈dim
    # results) without ever risking a driver-side build of a
    # misestimated fact table.
    "spark.sql.adaptive.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.ui.enabled": "false",
    # Workers fork from hdk_spark.daemon, which stops each task from
    # re-reading the Spark jar's zip directory (module docstring).
    "spark.python.daemon.module": "hdk_spark.daemon",
    "spark.executorEnv.PYTHONPATH": _PKG_PARENT,
    # Checkpoint and state-store files through FileSystem, not
    # FileContext: without libhadoop, FileContext's rename forks eight
    # readlinks per file (source and destination of the file and its
    # .crc, twice each), ~90 forks per stateful micro-batch. Same
    # files, same checksums; a no-overwrite create is
    # exists-then-rename, so two processes racing on one checkpoint are
    # not refused by the file system (module docstring). Spark 4.1's
    # package: the pre-4.1 ``...execution.streaming.`` name fails
    # query start.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    # DELIBERATELY NOT SET:
    # spark.sql.adaptive.coalescePartitions.initialPartitionNum=512.
    # r13c's sf10 claim for it (q5 16.1 s → 6.6 s, attributed to sort
    # spill at 32-way) did NOT survive r14's controlled re-measurement
    # (order-reversed + interleaved-paired A/B: no reproducible
    # partition effect, zero spilled bytes at either count — SCALE.md
    # r14a; the original sweep always ran 32 coldest and 512 warmest).
    # What DID reproduce: in AGED long-lived sessions the knob cut the
    # minhash dedup path ~2.5× (more, smaller Python tasks across
    # warm workers). But on a FRESH session at sf0.1 the
    # same setting slows that dedup path ~35% (0.89 → 1.25 s —
    # more Python tasks before worker startup amortizes), so adopting
    # it globally would trade the young-session profile the bench
    # measures for the aged-session profile. Mechanism (pinned via
    # task counts + executed plans): AQE never coalesces the minhash
    # pipeline's REUSED signature exchange (two consumers share
    # `Exchange hashpartitioning(signature, N)`), so this knob sets
    # that stage's task count directly — 512 tasks of ~KB each, and
    # the fixed cost of each Python task dominates. That cost was not
    # worker warm-up: every task, warm worker or not, re-read the zip
    # directories on the worker path (~150 ms; hdk_spark.daemon now
    # skips unchanged archives), so the 512-task figures above predate
    # that fix.
    # Callers running at sf10+ scale should set it per session —
    # get_spark(scale_hint_rows=...) / scale_conf(rows) encode the
    # measured rule (SCALE.md r13c/r14a).
}


#: rows per INITIAL shuffle partition the preset targets. ~120k rows
#: (~tens of MB at TPC-H row widths) keeps each post-shuffle sort/hash
#: working set comfortably inside any executor's memory and sits near
#: Spark's own 64MB advisory post-shuffle partition size, while AQE
#: coalescing makes over-provision ~free. NOTE (r14a): the r13c sweep
#: that motivated this number (q5 at sf10: 16.1 s at 32 partitions →
#: 6.6 s at 512, attributed to sort spill) did NOT survive controlled
#: re-measurement — order-reversed and interleaved-paired A/B show NO
#: reproducible partition effect at sf10 on this box (warm steady
#: state ~3.2-4.2 s under BOTH settings) and ZERO spilled bytes at
#: either count; the original ramp was a run-order/warmth artifact.
#: The rule stays as the correct CLUSTER-sizing shape (bound the
#: per-partition working set; excess is coalesced), but its local
#: benefit claim is withdrawn — see SCALE.md r14a.
_ROWS_PER_INITIAL_PARTITION = 120_000


def scale_conf(rows: int, cores: "int | None" = None) -> "dict[str, str]":
    """Session conf encoding the partition-sizing rule as a
    per-workload PRESET (VERDICT r13 #2): with AQE on, size the
    INITIAL shuffle partition count to the data —
    ~:data:`_ROWS_PER_INITIAL_PARTITION` rows per partition, never
    below the core count, rounded up to a power of two.
    Over-provisioning is ~free where AQE coalesces (measured: neutral
    at sf0.1 AND at sf10, SCALE.md r14a); the cost case is stages AQE
    cannot coalesce (reused exchanges — the q7 analysis in _DEFAULTS),
    which is why this is opt-in and not a default.

    Honesty note (r14a, SCALE.md): the sf10 measurement that
    originally motivated shipping this (r13c's 16.1 s → 6.6 s q5 ramp)
    was re-measured with order-reversed and interleaved-paired A/B and
    does NOT reproduce — no spill at any partition count, no
    reproducible wall difference. The preset's value is the scale
    SHAPE (per-partition working sets bounded regardless of data
    volume — what a 1000-executor deploy needs when partitions
    genuinely exceed executor memory), not a measured local[32] win.

    ``rows``: row count of the largest relation the workload shuffles
    (lineitem for the TPC-H shapes): 60M rows → 512; sf0.1's 600k →
    the core count, i.e. the same initial split as the unset default,
    so the bench/test profile is untouched by routing through the
    preset.

    Only ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``
    is set (a runtime-settable SQL conf — applies to an existing
    session via ``spark.conf.set`` too); ``shuffle.partitions`` stays
    at the session default so non-AQE paths keep their sizing."""
    if rows < 0:
        raise ValueError(f"rows must be >= 0, got {rows}")
    if cores is None:
        cores = int(_cpus())
    n = max(cores, -(-rows // _ROWS_PER_INITIAL_PARTITION))
    n = 1 << (n - 1).bit_length()  # next power of two, ≥ n
    return {
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(n)
    }


def build_conf(
    scale_hint_rows: "int | None" = None, **overrides: str
) -> "dict[str, str]":
    """The conf dict ``get_spark`` applies: defaults, then the
    :func:`scale_conf` preset when a scale hint is given, then caller
    overrides (strongest last). The worker daemon and its PYTHONPATH
    are dropped unless the master is ``local[...]``, as is the
    checkpoint manager. The driver heap and shuffle partitions come
    from the environment at this call. Pure — pinned by tests without
    building a session."""
    conf = {**_DEFAULTS, **_env_conf()}
    master = _master()
    if master != "local" and not master.startswith("local["):
        for k in _LOCAL_ONLY:
            del conf[k]
    if scale_hint_rows is not None:
        conf.update(scale_conf(scale_hint_rows))
    conf.update(overrides)
    return conf


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


def _env_conf() -> "dict[str, str]":
    """The defaults read from the environment, at call time."""
    return {
        # local[...] runs one JVM: the driver is the only memory pool.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
        "spark.sql.shuffle.partitions": _cpus(),
    }


def _master() -> str:
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{_cpus()}]")


def get_spark(
    app_name: str = "hdk_spark",
    scale_hint_rows: "int | None" = None,
    **overrides: str,
) -> SparkSession:
    """Return the shared SparkSession, creating it on first use.

    ``scale_hint_rows`` — row count of the largest relation the
    session's workload shuffles; applies the measured
    :func:`scale_conf` partition-sizing preset (SCALE.md r13c/r14a).
    Omitted (the default), nothing changes — the bench and test
    profiles run the unmodified defaults."""
    builder = SparkSession.builder.master(_master()).appName(app_name)
    for k, v in build_conf(scale_hint_rows, **overrides).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def ensure_shipped(spark: SparkSession) -> "str | None":
    """Ship the hdk_spark package to Python workers via ``addPyFile``.
    Returns the content-addressed cache path of the shipped zip (None
    when the context was already shipped and the path wasn't rebuilt).

    Closures passed to ``mapInPandas``/``pandas_udf`` that reference
    module-level helpers are cloudpickled BY REFERENCE (the module is
    importable in the driver), so the worker must be able to
    ``import hdk_spark`` too. Under the repo's own sessions or a
    driver whose cwd is the repo root that works incidentally (the
    worker's ``-m``-style launch puts the cwd on sys.path); under an
    arbitrary vanilla session it does not — the worker dies with
    ``ModuleNotFoundError: No module named 'hdk_spark'`` before any
    UDF code runs. Shipping a zip of the package through Spark's own
    file distribution makes every kernel cwd/PYTHONPATH-independent.
    Idempotent per SparkContext; ~100 KB once per session."""
    sc = spark.sparkContext
    if getattr(sc, "_hdk_spark_shipped", False):
        return
    import hashlib
    import io
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # Build the zip DETERMINISTICALLY in memory (sorted entries, fixed
    # timestamps) and write it to a content-addressed path reused by
    # every session shipping the same package bytes. Executors fetch
    # addPyFile sources LAZILY at task time and verify them against the
    # original path, so the file must outlive the session — a single
    # stable cache file replaces the former one-mkstemp-leak-per-session
    # (and deleting eagerly breaks the lazy fetch: a recycled temp name
    # with fresh zip timestamps fails Spark's contents-match check).
    srcs = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for fn in files:
            if fn.endswith(".py"):
                srcs.append(os.path.join(root, fn))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for full in sorted(srcs):
            rel = os.path.join("hdk_spark", os.path.relpath(full, pkg_dir))
            with open(full, "rb") as fh:
                payload = fh.read()
            info = zipfile.ZipInfo(rel, date_time=(2000, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, payload)
    blob = buf.getvalue()
    digest = hashlib.sha256(blob).hexdigest()[:16]
    # Per-user 0700 cache dir, NOT the shared temp dir: on a multi-user
    # host a world-writable /tmp lets anyone pre-create ("squat") the
    # predictable content-addressed name with arbitrary code that
    # addPyFile would then ship to every executor (CWE-379).
    cache_dir = os.path.join(
        tempfile.gettempdir(), f"hdk_spark-{os.getuid()}"
    )
    os.makedirs(cache_dir, mode=0o700, exist_ok=True)
    # A squatter can pre-create the predictable path (or plant a symlink
    # to a directory they control) before our makedirs; verify the entry
    # is a REAL directory OWNED BY US before chmod/use, and fail with a
    # message naming the squatted path instead of an opaque
    # PermissionError downstream. os.getuid/lstat.st_uid are POSIX-only,
    # like the 0700 protection itself.
    st = os.lstat(cache_dir)
    import stat as _stat

    if not _stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid():
        raise RuntimeError(
            f"refusing to use package cache dir {cache_dir!r}: it is "
            "not a directory owned by the current user (possible tmp "
            "squatting) — remove it or set TMPDIR elsewhere"
        )
    os.chmod(cache_dir, 0o700)  # makedirs skips mode if dir pre-exists
    zpath = os.path.join(cache_dir, f"hdk_spark_pkg_{digest}.zip")
    # Belt-and-braces: even inside the private dir, reuse only a file
    # whose BYTES match the digest we computed — never trust the name.
    reuse = False
    if os.path.exists(zpath):
        with open(zpath, "rb") as fh:
            reuse = hashlib.sha256(fh.read()).hexdigest()[:16] == digest
    if not reuse:
        tmp = zpath + f".{os.getpid()}.tmp"
        with open(tmp, "wb") as fh:
            fh.write(blob)
        os.replace(tmp, zpath)  # atomic; concurrent writers converge
    sc.addPyFile(zpath)
    sc._hdk_spark_shipped = True
    return zpath
