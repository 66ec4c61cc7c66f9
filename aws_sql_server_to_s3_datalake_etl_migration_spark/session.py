"""SparkSession factory.

Reproduces the reference's session posture (``utils.py:23-27``: the five
parquet INT96 / datetime rebase configs that make pre-Gregorian SQL Server
datetimes round-trip safely) and adds the scale-oriented defaults the
reference inherited implicitly from Glue: AQE with skew-join handling,
FAIR scheduling so parallel in-process "jobs" share executors fairly
(replacing one-Glue-cluster-per-job, ``infra_utils.py:110``), and
Arrow-accelerated pandas interchange.

All knobs are set via ``.config`` *before* ``getOrCreate`` so a fresh
session is fully configured; on an existing session only dynamic SQL
confs apply.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Reference utils.py:23-27 — legacy timestamp rebase for parquet.
_REBASE_CONFS = {
    "spark.sql.legacy.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.legacy.parquet.int96RebaseModeInWrite": "CORRECTED",
    "spark.sql.legacy.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.legacy.parquet.datetimeRebaseModeInWrite": "CORRECTED",
    "spark.sql.parquet.int96AsTimestamp": "true",
}

_SCALE_CONFS = {
    # AQE re-plans at runtime: coalesces tiny shuffle partitions, converts
    # sort-merge joins to broadcast when the built side turns out small,
    # and splits skewed partitions — all essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # canChangeCachedPlanOutputPartitioning is deliberately NOT set
    # session-wide: r13 set it globally for the iterative graph
    # rounds, and the r14 same-session A/B showed it REGRESSES
    # non-iterative queries that persist a mid-size frame and fan
    # back out of it (events_theilsen_trend 1.86 s -> 3.44 s: AQE
    # coalesced the cached pair-slope stream below the parallelism
    # the three downstream passes want). The conf is now scoped to
    # the iterative operators via ``coalesce_cached_rounds`` below —
    # tiny per-round frames still collapse to single-task stages,
    # everything else keeps the planner default.
    # FAIR pools let run_parallel() share one session across jobs.
    "spark.scheduler.mode": "FAIR",
    # Arrow for pandas interchange (createDataFrame(pd), toPandas, UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Compat only: on old runtimes that honor it, parquet TIMESTAMP(NANOS)
    # columns surface as raw int64 nanos instead of erroring. Spark >= 4.x
    # ignores this conf entirely; workloads._events branches on the
    # *observed* dtype, so the engine works either way.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Evaluated and deliberately NOT set:
# - spark.sql.parquet.aggregatePushdown: only fires on DSv2 parquet
#   scans; parquet sits in the default useV1SourceList, and moving it
#   to V2 reshapes every audited plan for a micro-win on one watermark
#   probe. Revisit if the deployment standardizes on DSv2.
# - spark.sql.optimizer.runtime.bloomFilter.enabled: already true by
#   default on this runtime (verified) — big-big joins get runtime
#   row-level bloom pruning without extra conf.


def default_parallelism() -> int:
    """CPU budget: $SPARK_GRAFT_CPUS, else all local cores."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """Driver heap: $SPARK_GRAFT_DRIVER_MEM, else half of physical RAM,
    at most 16g. A heap near or above RAM lets the JVM grow past what
    the host has before it collects, and the kernel OOM-kills it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "16g"
    return f"{min(16 << 10, ram // 2 >> 20)}m"


def get_spark(
    app_name: str = "pyspark-datalake-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the core count — right for local
    mode; a real cluster deployment passes ~2-3x total executor cores.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    confs: dict[str, str] = {}
    confs.update(_REBASE_CONFS)
    confs.update(_SCALE_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    confs["spark.ui.enabled"] = "false"
    confs["spark.driver.memory"] = default_driver_memory()
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_runtime_confs(spark: SparkSession) -> None:
    """Apply the dynamic subset of engine confs to an existing session
    (driver-owned sessions can't be rebuilt)."""
    for k, v in {**_REBASE_CONFS, **_SCALE_CONFS}.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — keep going


_CACHED_REPART_CONF = (
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
)


@contextmanager
def coalesce_cached_rounds(spark: SparkSession):
    """Let AQE re-shape the output partitioning of CACHED plans for
    the duration of an iterative operator's convergence loop.

    Without the conf, AQE refuses to coalesce any plan that gets
    cached, so operators that persist a small per-round frame
    (coreness, k-core, star CC, label propagation) drag the full
    spark.sql.shuffle.partitions task count through every tiny round.
    With it on session-wide, mid-size persisted frames elsewhere get
    coalesced below the parallelism their downstream passes want
    (the r14 A/B measured events_theilsen_trend at 1.85x with the
    global conf) — hence this scope: ON inside the loop, restored to
    its prior value after, even on error.

    The conf is read at persist/first-plan time, so it only affects
    frames cached inside the ``with`` block. Single-threaded driver
    assumption (the bench/driver run queries serially); concurrent
    queries in the same session would see the toggled value."""
    try:
        prev = spark.conf.get(_CACHED_REPART_CONF)
    except Exception:
        prev = None
    spark.conf.set(_CACHED_REPART_CONF, "true")
    try:
        yield
    finally:
        if prev is None:
            try:
                spark.conf.unset(_CACHED_REPART_CONF)
            except Exception:
                pass
        else:
            spark.conf.set(_CACHED_REPART_CONF, prev)


def with_coalesced_cached_rounds(fn):
    """Decorator form of ``coalesce_cached_rounds`` for iterative
    operators: scopes the conf around the call using the session of
    the first DataFrame argument. The decorated operators materialize
    their result (persist + count) before returning, so every
    per-round cache falls inside the scope."""
    import functools

    from pyspark.sql import DataFrame

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        df = next(
            (
                a
                for a in list(args) + list(kwargs.values())
                if isinstance(a, DataFrame)
            ),
            None,
        )
        if df is None:
            return fn(*args, **kwargs)
        with coalesce_cached_rounds(df.sparkSession):
            return fn(*args, **kwargs)

    return wrapper


def fixed_point(
    frame,
    step,
    *,
    measure,
    rounds_per_step: int = 1,
    max_rounds: int,
    name: str,
    confirm=None,
):
    """Iterate ``step`` from ``frame`` to its fixed point and return the
    final frame, persisted and materialized; the caller owns it.

    The helper persists ``frame`` and owns it, and every later frame,
    from the call on: each step chains ``rounds_per_step`` calls of
    ``step`` into one lazily built plan, persists it and runs
    ``measure`` (a scalar action — count, an exact sum) once, which
    also materializes the step. The previous frame is released right
    after, so at most two loop frames are cached at any moment, and
    on every exit path — convergence, the bound, an error — nothing
    but the returned frame stays cached.

    Cadence: per-step persist + scalar action + AQE stage barriers
    dominate wall clock on small per-round frames, so fewer
    materializations with deeper chains win. Every ``step`` must
    reference its input exactly once, so an R-round chain is a
    depth-R single-reference plan and Catalyst analysis stays linear
    (a round that references its input twice re-analyzes a 2^rounds
    tree; this engine bans ``localCheckpoint`` as the way out).

    Exactness at step granularity: ``measure`` must be monotone per
    round and strictly so until the fixed point (edge counts that only
    shrink, label or estimate sums that only fall), so "unchanged
    across a step" means every inner round was a no-op — the fixed
    point; at worst R - 1 redundant rounds run after convergence.
    Where an unchanged measure does not prove it (star contraction:
    the edge count can hold while the edge set still changes),
    ``confirm(prev, nxt)`` runs only once the measures agree, before
    ``prev`` is released, and must return True at the fixed point.

    ``max_rounds`` contract: ``ceil(max_rounds / rounds_per_step)``
    steps run before ``RuntimeError`` is raised, so up to R - 1 rounds
    past ``max_rounds`` may execute — a safety valve against
    pathological inputs, not an exact budget. The loop raises rather
    than return a half-converged frame."""
    cur = frame.persist()
    try:
        last = measure(cur)
        for _ in range(-(-max_rounds // rounds_per_step)):
            nxt = cur
            for _r in range(rounds_per_step):
                nxt = step(nxt)
            nxt = nxt.persist()
            try:
                value = measure(nxt)
                done = value == last and (
                    confirm is None or confirm(cur, nxt)
                )
            finally:
                cur.unpersist()
                cur = nxt
            if done:
                return cur
            last = value
        raise RuntimeError(
            f"{name} did not converge in {max_rounds} rounds"
        )
    except BaseException:
        cur.unpersist()
        raise
