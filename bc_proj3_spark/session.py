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

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark", "apply_runtime_conf", "scoped_conf"]

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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
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
