"""SparkSession factory (replaces the reference's Glue bootstrap,
``icberg/iceberg_tables.py:13-17`` / ``delta/delta_tables.py:51-56``).

Design point is a 1000-executor cluster on ~100 TB; the local[$CPUS]
session used in tests carries the same configuration so plans exercised
here (AQE, broadcast thresholds, pushdown) are the plans we'd ship.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import inspect
import os
import shutil
import tempfile

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

# The reference depends on case-insensitive column resolution: it drops the
# column "Op" while the data column is "op" (icberg/iceberg_tables.py:110,149)
# and detects the op column via col.lower() == "op" (:82). Spark's default
# (caseSensitive=false) is load-bearing — keep it explicit.
_BASE_CONF: dict[str, str] = {
    # Runtime re-planning: shuffle-partition coalescing and skew-join
    # splitting are the 100 TB safety net for every join/agg in the library.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.caseSensitive": "false",
    # Arrow for every pandas_udf / mapInPandas boundary (multimodal ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Columnar scan hygiene — on by default, pinned so a misconfigured
    # environment can't silently turn the scans row-at-a-time.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Timestamps in the fixtures are TIMESTAMP (no TZ semantics in DuckDB);
    # keep session TZ stable so Spark/oracle comparisons are tz-independent.
    "spark.sql.session.timeZone": "UTC",
    # events.ts is parquet TIMESTAMP(NANOS) — Spark's TimestampType is
    # micros-only, so nanos surface as int64 epoch-nanoseconds (exactly
    # ordered, exactly comparable to DuckDB's epoch_ns(ts)).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Write timestamps as TIMESTAMP_MICROS, not legacy INT96: INT96
    # columns carry NO parquet min/max statistics, which blinds every
    # footer-stats consumer (lake stat_cols, Delta add.stats, Iceberg
    # manifest bounds) and with them the CDC manifest-only watermark
    # and file-skipping. Micros is also what delta-spark and Iceberg
    # writers emit.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Commit path for staged parquet writes (guide §6): the v1 committer
    # double-renames every file (task _temporary → job _temporary →
    # destination) and stamps a _SUCCESS marker nothing in this engine
    # reads (the Python data source writes its OWN manifest). v2 renames
    # once at task commit — the standard production setting wherever the
    # object store/FS lacks cheap directory rename — and the lake/Delta/
    # Iceberg writers glob the staged dir only after the job returns, so
    # partial-task debris on failure lands in a _stage_* dir that the
    # failed commit never references. Measured 0.21 s → 0.15 s per staged
    # write; the suite performs hundreds.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs": "false",
    # Long-lived sessions run hundreds of queries (the bench suite, the
    # driver's correctness sweep): the UI server and its listeners retain
    # per-execution plan graphs and job/stage data for all of them, which
    # is pure heap churn for a headless engine. Off, and retention capped
    # for any externally-enabled UI.
    "spark.ui.enabled": "false",
    "spark.sql.ui.retainedExecutions": "20",
    "spark.ui.retainedJobs": "100",
    "spark.ui.retainedStages": "100",
    # PySpark walks the Python stack on EVERY DataFrame method to enrich
    # error messages with the user call site (pyspark.errors.utils
    # is_debugging_enabled — documented there as a performance option).
    # A headless engine building thousands of expressions per commit pays
    # real time for it: cProfile showed 0.56 s of _capture_call_site in
    # one merge query. Plans and results are unaffected — only error
    # messages lose the "called from" line.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def default_parallelism() -> int:
    """Worker-thread count for local mode (driver contract: SPARK_GRAFT_CPUS)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "aws-glue-data-lake-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``shuffle_partitions`` defaults to the core count: at local test scale a
    shuffle partition should be a few MB; on a real cluster this is the knob
    sized to keep post-shuffle partitions ~128MB (AQE coalesces the rest).
    """
    cpus = cpus or default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_BASE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    # Local mode runs everything in the driver JVM, whose 1g default heap
    # GC-thrashes once a long session accumulates caches + streaming state.
    # Size it like an executor (the box has 128 GiB). Ignored if the JVM
    # already exists (getOrCreate reuse) — harmless.
    conf.setdefault("spark.driver.memory", "16g")
    conf.setdefault("spark.driver.maxResultSize", "4g")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_catalog_spark(
    catalog_dir: str,
    app_name: str = "aws-glue-data-lake-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Engine session backed by a PERSISTENT, SHARED catalog — the
    counterpart of two Glue jobs resolving the same ``hamzatest.*`` names
    through the Glue Data Catalog (reference icberg/iceberg_tables.py:54-58,
    65-66). ``catalog_dir`` holds a file-based Derby Hive metastore +
    warehouse: any later session (same process or a fresh one) pointed at
    the same directory sees every table the first session saved —
    saveAsTable / CTAS / external-table DDL all resolve through it.

    Derby's embedded driver allows ONE live connection per metastore dir
    (the Glue/Hive answer is a server-mode metastore; at this layer the
    contract is sessions share state through the DIR, concurrent access
    is serialized by the caller — same as two Glue jobs racing DDL).

    Must be called before any SparkSession exists in this process:
    getOrCreate() reuses a live session's catalog implementation, and an
    in-memory-catalog session can't be upgraded to Hive after the fact
    (the function raises in that case rather than silently handing back
    the wrong catalog)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        impl = active.conf.get("spark.sql.catalogImplementation", "in-memory")
        wanted = os.path.join(catalog_dir, "warehouse")
        if impl != "hive" or not active.conf.get(
            "spark.sql.warehouse.dir", ""
        ).endswith(wanted.lstrip("/")):
            raise RuntimeError(
                "get_catalog_spark must build the FIRST session in the "
                f"process (active session has catalog={impl!r}); "
                "stop it or use a fresh process"
            )
        return active
    os.makedirs(catalog_dir, exist_ok=True)
    warehouse = os.path.join(catalog_dir, "warehouse")
    metastore = os.path.join(catalog_dir, "metastore_db")
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .enableHiveSupport()
    )
    conf = dict(_BASE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    conf.setdefault("spark.driver.memory", "16g")
    conf["spark.sql.warehouse.dir"] = warehouse
    conf["spark.hadoop.javax.jdo.option.ConnectionURL"] = (
        f"jdbc:derby:;databaseName={metastore};create=true"
    )
    # keep Derby's droppings out of the CWD
    conf["spark.driver.extraJavaOptions"] = (
        f"-Dderby.system.home={catalog_dir}"
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# ---------------------------------------------------------------------------
# Session-lived state: the one memo, scratch dirs and scoped conf.
# ---------------------------------------------------------------------------

#: (function, applicationId, args) -> value of every @session_memo call.
_MEMO: dict[tuple, object] = {}


def session_memo(fn):
    """Memoize ``fn(spark, *args)`` for the life of the Spark application.

    Entries are keyed on ``(fn, applicationId, args)``; the arguments after
    ``spark`` must be hashable (defaults are bound in, so positional and
    keyword calls share an entry). applicationId is unique per SparkContext
    lifetime, so a restarted session can never alias a dead one's entry.
    The first miss under a new applicationId unpersists and drops every
    entry of other applications: the memo holds one application's state at
    most. Values are immutable plans, staged dirs or tuples of them; a
    persisted DataFrame (or tuple element) is unpersisted on release.

    No lock is held across a build: a build may start ``run_jobs`` threads
    that call other memoized functions, which a memo-wide lock would
    deadlock. Two threads missing the same key at once may therefore both
    build; the last store wins.
    """
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def memoized(spark: SparkSession, *args, **kwargs):
        bound = sig.bind(spark, *args, **kwargs)
        bound.apply_defaults()
        app = spark.sparkContext.applicationId
        key = (fn, app, tuple(bound.arguments.values())[1:])
        try:
            return _MEMO[key]
        except KeyError:
            pass
        _release_other_apps(app)
        value = _MEMO[key] = fn(spark, *args, **kwargs)
        return value

    return memoized


def _release_other_apps(app: str) -> None:
    for key in [k for k in list(_MEMO) if k[1] != app]:
        value = _MEMO.pop(key, None)
        for v in value if isinstance(value, tuple) else (value,):
            if isinstance(v, DataFrame) and v.is_cached:
                try:
                    v.unpersist()
                except Py4JError:  # its SparkContext is stopped: cache gone
                    pass


#: mkdtemp dirs handed out by session_tmpdir, removed at interpreter exit.
#: Memo entries and the DataFrames built over them keep the dirs in use
#: for as long as the process may touch them, so exit is the safe point.
_TMPDIRS: list[str] = []


def session_tmpdir(prefix: str) -> str:
    """mkdtemp that is rmtree'd at interpreter exit instead of leaking."""
    d = tempfile.mkdtemp(prefix=prefix)
    _TMPDIRS.append(d)
    return d


@atexit.register
def _cleanup_tmpdirs() -> None:
    while _TMPDIRS:
        shutil.rmtree(_TMPDIRS.pop(), ignore_errors=True)


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, object]):
    """Set runtime SQL conf for the body of the ``with`` and restore it
    after: a key that held a value gets it back, an unset key is unset
    again. For settings that a streaming query captures at ``start()``
    (shuffle partitions size its state store, the state store provider),
    scoping around the drain leaves other queries on the session's own
    values."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
