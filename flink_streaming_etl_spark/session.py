"""SparkSession bootstrap tuned for the engine.

Reference parity: the Flink side is configured in
/root/reference/client-image/conf/sql-client-conf.yaml:28-34 (Blink planner,
streaming mode, parallelism 1, max-parallelism 128). Our equivalents are
Catalyst + AQE with shuffle parallelism sized to the host; at cluster scale the
same settings hold with `spark.sql.shuffle.partitions` sized to ~2-3x cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Round-14 hardening: the Arrow-batched kernels (NFA scan, media decode)
    are nested closures, but their pickles can still reference module-level
    helpers by name — a worker that cannot import
    ``flink_streaming_etl_spark`` (driver launched with a cwd outside the
    repo and no PYTHONPATH) dies with ModuleNotFoundError at
    ``read_udfs``. Reproduced: every Python-boundary query fails from
    ``cwd=/tmp`` while passing from the repo root. One zip of the package
    per SparkContext, added to the files the workers put on ``sys.path``,
    makes the queries cwd-independent. No-op when already registered."""
    sc = spark.sparkContext
    if getattr(sc, "_fses_pyfile_added", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    try:
        fd, zpath = tempfile.mkstemp(prefix="fses_pkg_", suffix=".zip")
        os.close(fd)
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
        sc.addPyFile(zpath)
        sc._fses_pyfile_added = True
    except Exception:
        # best-effort: a read-only FS or a restricted context must never
        # break query building; the kernels remain usable from the repo cwd
        pass


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


def _driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else a quarter of the host's physical
    memory, between 1g and 32g: a heap larger than the host lets one
    long-lived session (a whole test run) grow until the OS kills it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(32, max(1, total // 4 // 2**30))}g"


def get_spark(
    app_name: str = "flink-streaming-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-oriented defaults.

    - AQE on: runtime coalescing, skew-join splitting (replaces the
      reference's manual 256-bucket salted rollup, flink-ddl.sql:209).
    - Arrow on: any Pandas-UDF path is batch-transferred, never per-row.
    - UTC session timezone: deterministic date bucketing regardless of host.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.driver.memory", _driver_mem())
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(2 * cpus, 32)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # Long-lived driver hygiene: ContextCleaner frees shuffle files and
        # broadcast blocks only when driver GC collects their references —
        # with a large heap, full GCs are rare and a many-query session (the
        # bench runs 113 queries × 3 passes in one JVM) accumulates
        # gigabytes of dead shuffle/broadcast state, measurably slowing
        # late queries (~1.5× by the end of a bench sweep). The default
        # periodic GC is 30min — longer than the whole sweep; 2min keeps
        # cleanup continuous. Same setting a production always-on Spark
        # service uses.
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    tune_session(spark)
    return spark


def tune_session(spark: SparkSession) -> None:
    """Runtime-settable knobs, safe to apply to a session we didn't build
    (the driver hands us its own session in ``__spark_entry__``)."""
    _ensure_workers_can_import(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # Runtime bloom-filter join pruning: when one join side carries a
    # selective filter, Catalyst builds a bloom filter of its keys and
    # pushes `might_contain` into the other side's scan — rows that can't
    # join die before the shuffle. At cluster scale this triggers on its
    # own (the application side easily clears the 10 GB scan threshold);
    # the conf here only confirms the feature is on.
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    # Read parquet timestamp[us]-without-timezone as TIMESTAMP (session tz,
    # pinned UTC above), not TIMESTAMP_NTZ: Spark 4.x's NTZ inference makes
    # epoch functions (unix_micros/unix_timestamp/to_unix_timestamp) fail at
    # analysis time and silently changes date-bucketing semantics. All our
    # operators are also written NTZ-safe, but pinning this keeps
    # driver-owned sessions deterministic engine-wide.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
