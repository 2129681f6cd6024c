"""SparkSession builder tuned for the engine.

The reference inherits Databricks defaults and sets only
``spark.sql.caseSensitive`` (notebooks/bronze_ny_times.py:2, scoped per
source here instead — see SURVEY.md §7.4(6)). This builder makes the
scale-relevant choices explicit so the same code runs on local[32] for
tests and on a multi-executor cluster unchanged:

- AQE on (runtime coalesce, skew-join splitting, join re-planning),
- shuffle partitions sized from the env (small for local tests; on a
  real cluster leave at 2-4x total cores / let AQE coalesce),
- Arrow on for every pandas_udf / applyInPandas boundary,
- parquet pushdown/pruning left on (defaults, stated for intent).
"""

from __future__ import annotations

import contextlib
import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Sequence, TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

__all__ = [
    "get_spark", "stop_spark", "apply_runtime_conf", "scoped_conf", "run_concurrently",
    "default_driver_memory",
]

T = TypeVar("T")

#: SQL confs that are safe to set on an already-running session and that
#: the engine's plans depend on. The correctness driver hands us *its*
#: SparkSession, so anything semantically load-bearing must be settable
#: here, not only in the cold-start builder below.
_RUNTIME_CONF = {
    # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark 4 refuses
    # to read as timestamp (PARQUET_TYPE_ILLEGAL); read as long nanos and
    # convert in plans/tables.py. DuckDB truncates ns→µs identically.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet timestamps without isAdjustedToUTC must read as ordinary
    # TIMESTAMP, not TIMESTAMP_NTZ: unix_micros() and withWatermark()
    # reject NTZ at analysis time, and the DuckDB oracle treats the same
    # values as UTC instants. Runtime-settable, so it MUST live here (the
    # correctness driver hands us an already-built session that never saw
    # the cold-start builder below) — round-4 lesson: putting it only in
    # get_spark() left every events/streaming query red under the
    # driver's vanilla session while all local tests passed.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # deterministic date/timestamp math vs the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # adaptive execution: runtime coalesce + skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every Python<->JVM columnar boundary
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # the Python Data Source wrapper (io/pyds.py) prunes run_date
    # partitions in pushFilters(); Spark 4.1 gates that behind a flag
    # and hard-errors when a reader implements the hook unenabled
    "spark.sql.python.filterPushdown.enabled": "true",
    # streaming aggregations can't use AQE coalescing, so an unset
    # vanilla session would run them at the 200-partition default;
    # size the shuffle to the local core budget explicitly. (Batch
    # queries are unaffected in practice — AQE coalesces either way.)
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
}


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Set the engine's runtime-settable SQL confs on an existing session.

    Idempotent and cheap; every query builder entry point calls this so
    the plans behave identically under the driver's session and ours.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf not recognized/static
            pass
    return spark


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set ``conf`` on the session for the duration of the block, then
    restore each key's previous value; keys are read, set and restored
    in ``conf``'s order. Meant for a block that owns the session while
    it runs (nothing concurrent reads these confs)."""
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def run_concurrently(spark: SparkSession, tasks: Sequence[Callable[[], T]]) -> list[T]:
    """Run each task on its own thread over ``spark``'s one SparkContext
    and return their results in ``tasks`` order.

    A task's Spark jobs carry the caller's job group, description and
    other local properties. Each task is wrapped on its own, because
    ``inheritable_thread_target`` clones the properties once per wrap
    and every thread it starts shares that clone: a property one task
    sets is then not seen by the others. Every task runs to its end,
    and the pool's threads are joined, before this returns or raises; a
    failure is re-raised only then, the first one in ``tasks`` order,
    with a note naming each later one. Tasks must not change the
    session's confs (a conf set by one is seen by all)."""
    with ThreadPoolExecutor(max(len(tasks), 1), thread_name_prefix="spark-task") as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(task)) for task in tasks]
    errors = [e for e in (f.exception() for f in futures) if e is not None]
    if errors:
        for later in errors[1:]:
            errors[0].add_note(f"a concurrent task also failed: {later!r}")
        raise errors[0]
    return [f.result() for f in futures]


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    min(24g, 60 % of the host's MemTotal), or 24g when MemTotal cannot
    be read. 24g on a small host lets the session JVM grow past what the
    host can hold beside the Python workers."""
    try:
        with open(meminfo, encoding="ascii") as fh:
            total_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, ValueError, IndexError, StopIteration):
        return "24g"
    mb = total_kb * 6 // 10 // 1024
    return f"{mb}m" if mb < 24 * 1024 else "24g"


def get_spark(
    app_name: str = "bc_proj3_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    so tests and bench share one code path; on a cluster, pass
    ``master=None`` with ``spark.master`` preset by spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- adaptive execution: runtime partition coalescing + skew splits
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # -- keep timestamps microsecond-exact when testdata has ns parquet
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # NOTE: spark.driver.memory only takes effect on a cold JVM start
        # (spark-submit / first getOrCreate in-process); it is a no-op on
        # an already-running JVM. Prefer SPARK_DRIVER_MEMORY in the env.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
