"""Table loading helpers for the fixture star schema (TESTDATA.md).

All reads go through ``spark.read.parquet`` so Catalyst gets pushdown,
column pruning and partition pruning for free. ``register_views`` exposes
the tables as temp views so queries can be written in either the DataFrame
or SQL API against the same names the DuckDB oracle uses.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh scratch directory under ONE per-process root that is removed
    at interpreter exit. Every operator that stages files (streaming
    sources, sink roundtrips, partitioned layouts) allocates through here —
    previously each call leaked a ``tempfile.mkdtemp`` dir, so repeated
    bench/test runs accumulated unbounded /tmp litter (ADVICE round 3).
    Memoized layouts (streaming _STAGE_CACHE, the IVF corpus) stay valid
    for the process lifetime, which is exactly their cache scope."""
    global _SCRATCH_ROOT
    import atexit
    import shutil
    import tempfile

    if _SCRATCH_ROOT is None or not os.path.isdir(_SCRATCH_ROOT):
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="limeqo_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: sessions (by id) whose confs have been pinned — ensure_session_confs is
#: called from every table() read, and each conf get/set is a py4j round
#: trip; once per session is enough (opt r11). A weakref finalizer removes
#: the id when the session is collected (opt r12): a bare id in a set
#: outlives its session, and a LATER session allocated at the same address
#: would silently skip pinning — the same id-reuse hazard the plan cache
#: below guards against, fixed the same way.
_CONFS_PINNED: set[int] = set()


def _track_session(spark: SparkSession, registry: set[int], sid: int) -> None:
    """Register ``sid`` in ``registry`` and arrange for its removal when
    ``spark`` is garbage-collected, so CPython can never hand a new session
    the stale entry of a dead one at the same address. (Safe for id-only
    registries: nothing here keeps the session alive.)"""
    registry.add(sid)
    weakref.finalize(spark, registry.discard, sid)


def _session_stopped(spark: SparkSession) -> bool:
    """True when the session's underlying SparkContext has been stopped
    (``SparkContext.stop()`` nulls the JVM handle)."""
    try:
        return spark.sparkContext._jsc is None
    except AttributeError:  # a session object without a context reads as dead
        return True


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin runtime confs the engine's semantics depend on, regardless of who
    built the session (the driver harness constructs its own): UTC so
    timestamp->date casts are deterministic; and if the session still has
    the stock 200 shuffle partitions, right-size to the local cores (AQE
    coalesces downward, but 200 tasks per tiny stage is pure overhead)."""
    if id(spark) in _CONFS_PINNED:
        return
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", str(min(os.cpu_count() or 8, 32)))
    _track_session(spark, _CONFS_PINNED, id(spark))


def epoch_us(col) -> F.Column:
    """Microseconds since epoch for TIMESTAMP *or* TIMESTAMP_NTZ columns.
    unix_micros refuses NTZ; casting through TIMESTAMP first interprets the
    NTZ wall clock in the session zone, which ensure_session_confs pins to
    UTC — so the value matches DuckDB's epoch of the same naive timestamp."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


#: memoized base-relation READ PLANS, per session id -> (path, dir mtime)
#: -> DataFrame: ``spark.read.parquet`` pays ~80 ms of JVM schema/footer/
#: listing work per call, and a 7-relation TPC-H query re-paid it 7x on
#: every invocation (measured: 0.58 s of q72's 0.80 s build wall — opt
#: r11). The cache holds the unresolved logical plan only; every execution
#: still scans the parquet files, so results are always computed from the
#: inputs. The mtime in the key drops the entry if a fixture dir is
#: regenerated. Session lifetime (opt r12, VERDICT r11 #8): r11 kept every
#: session strongly referenced forever so a dead session's id() could
#: never be reused — correct but an unbounded session leak in a long-lived
#: multi-session process. A cached DataFrame itself pins its session, so
#: weak references cannot break that cycle; instead the ``table()`` call
#: that first brings a new session id into the cache sweeps out entries
#: whose session has been STOPPED (the normal end of a session's life),
#: after which the session object — no longer reachable through the cache —
#: is collectable, and its id() cannot be handed to a new session until
#: then.
_TABLE_PLAN_CACHE: dict[int, dict[tuple, DataFrame]] = {}


def _sweep_stopped_sessions() -> None:
    for sid, plans in list(_TABLE_PLAN_CACHE.items()):
        probe = next(iter(plans.values()), None)
        if probe is not None and _session_stopped(probe.sparkSession):
            _TABLE_PLAN_CACHE.pop(sid, None)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS); Spark refuses it unless it
        # is surfaced as a long, which we convert to a microsecond timestamp
        # with exact integer division (`/` would go through double and lose
        # sub-ms precision). Queries must not emit raw ts values — the
        # DuckDB oracle keeps nanosecond precision; emit dates/epochs.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    try:
        stamp = os.path.getmtime(path)
    except OSError:
        stamp = None
    sid = id(spark)
    plans = _TABLE_PLAN_CACHE.get(sid)
    if plans is None:
        _sweep_stopped_sessions()
        plans = {}
        _TABLE_PLAN_CACHE[sid] = plans
    df = plans.get((path, stamp))
    if df is None:
        df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        plans[(path, stamp)] = df
    # steering: inside hints.applied(...), tag every base relation with the
    # active join-strategy hint — the placement Spark requires for the hint
    # to reach its joins (a hint above the final plan node is discarded)
    from limeqo_spark.hints import active_join_hint

    jh = active_join_hint()
    return df.hint(jh) if jh else df


def tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [table(spark, sf_dir, n) for n in names]


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    for n in names:
        table(spark, sf_dir, n).createOrReplaceTempView(n)
