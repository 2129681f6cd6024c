"""Loaders for the driver-generated testdata tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``{sf_dir}/{name}.parquet``.

Reading is always a plain ``spark.read.parquet`` scan: column pruning and
predicate pushdown then reach the parquet reader for free (check via
``df.explain`` → ``ReadSchema`` / ``PushedFilters``). At 100 TB these
would be partitioned/bucketed tables registered in a real catalog; the
loader keeps the access path identical either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLE_NAMES = (
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


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _normalize_event_ts(df)
    return df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """events.parquet stores ``ts`` as INT64 TIMESTAMP(NANOS), which Spark 4
    cannot read as a timestamp (PARQUET_TYPE_ILLEGAL). With
    ``spark.sql.legacy.parquet.nanosAsLong=true`` (set by
    session.apply_runtime_conf) the column arrives as long nanoseconds;
    truncate to microseconds exactly like DuckDB does (``ts div 1000`` —
    integer floor division, then ``timestamp_micros``) so value hashes
    agree between both engines. A no-op if ``ts`` already reads as a
    timestamp (e.g. future Spark versions lifting the restriction).

    Also normalizes TIMESTAMP_NTZ → TIMESTAMP: when testdata is written
    with µs timestamps and the session has Spark 4's default
    ``spark.sql.parquet.inferTimestampNTZ.enabled=true`` at *read* time
    (e.g. a frame scanned before apply_runtime_conf ran, or a schema
    captured by a streaming reader), ``ts`` arrives NTZ, which
    ``unix_micros``/``withWatermark`` reject at analysis time. The cast
    is value-preserving under the UTC session timezone that
    apply_runtime_conf pins, so both engines see identical instants."""
    field = next((f for f in df.schema.fields if f.name == "ts"), None)
    if field is not None and isinstance(field.dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif field is not None and isinstance(field.dataType, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def fanout(df: DataFrame) -> DataFrame:
    """Repartition a narrow scan before per-row-heavy work (regex
    tokenization, shingle explode, hash families, vector math, Python
    batches).

    Small single-file tables (documents/embeddings at test SFs) arrive
    as ONE scan partition — a single row group — so everything built on
    them runs single-threaded however many cores exist. One cheap
    round-robin shuffle of the slim input rows buys full parallelism
    for the expensive downstream expressions.

    Parallelism is probed from plan METADATA only (``inputFiles`` — the
    file listing Catalyst already holds), never ``df.rdd`` (which would
    force a full plan→RDD conversion per builder call). No-op when:

    - the frame is already persisted (its partitioning is materialized;
      a repartition would re-shuffle the cached blocks), or
    - the plan reads at least as many files as the session's shuffle
      width — the 100 TB case: thousands of splits, this never fires.

    File COUNT under-estimates split count for large splittable files
    (one 1 GB file → many scan partitions), so this can repartition
    when it didn't strictly need to — the round-robin shuffle of the
    slim input is then redundant but cheap, and only mid-size inputs
    ever hit it.
    """
    if df.is_cached:
        return df
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if len(df.inputFiles()) >= n:
        return df
    return df.repartition(n)


def local_rows_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Driver-local result rows as a DataFrame via the Arrow path.

    ``spark.createDataFrame(list)`` parallelizes the pickled rows into
    ``defaultParallelism`` partitions, so every action on the frame
    schedules one PYTHON WORKER task per core — ~0.3 s warm and >1 s
    when it is the session's first Python job — to read a handful of
    literal rows (guide §4: the boundary itself is the cost). Routing
    the same rows through pandas+Arrow (session conf already enables
    ``spark.sql.execution.arrow.pyspark.enabled``) keeps the scan
    JVM-only: ~0.08 s for the same frame, measured at r11. Values pass
    bit-exactly: Python ints/floats/strs land in object-dtype pandas
    columns (no float64 coercion of large ints) and Arrow casts to the
    EXPLICIT schema. Any conversion failure falls back to the plain
    row path — same rows, same schema, just slower."""
    try:
        import pandas as pd
        from pyspark.sql.types import _parse_datatype_string

        # Arrow's object-column conversion turns float NaN into NULL
        # (verified at r11); a NaN payload must take the plain path to
        # stay a NaN DOUBLE.
        if any(
            isinstance(v, float) and v != v for r in rows for v in r
        ):
            return spark.createDataFrame(rows, schema)
        st = _parse_datatype_string(schema)
        names = [f.name for f in st.fields]
        data = {
            n: pd.Series([r[i] for r in rows], dtype="object")
            for i, n in enumerate(names)
        }
        pdf = pd.DataFrame(data, columns=names)
        return spark.createDataFrame(pdf, schema=st)
    except Exception:  # pragma: no cover - pandas/arrow unavailable
        return spark.createDataFrame(rows, schema)
