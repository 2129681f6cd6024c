"""Snapshot diff — change-data-capture between two table versions.

What an incremental pipeline needs to AUDIT its merges: given two
keyed snapshots of a table, classify every key as insert / delete /
update (any value column changed). The reference's merge
(silver_arxiv.py:130-152) applies changes; this operator recovers them
after the fact — the diff of two Catalog/time-travel versions is
exactly this query over ``read_version(v1)`` × ``read_version(v2)``.

The two snapshots here are derived deterministically from ``orders`` so
the DuckDB oracle replays them exactly: v1 drops keys % 97 == 0 (those
appear only in v2 → inserts), v2 drops keys % 89 == 0 (→ deletes) and
rewrites o_orderpriority for keys % 7 == 0 (→ updates).

Scale shape: ONE full-outer shuffle join on the key — the minimal plan
for a diff (every key must meet its counterpart). Value comparison is
null-safe column-by-column (`<=>` / IS NOT DISTINCT FROM), never a
string-concat row hash: double→string formatting differs across
engines, and a concat hash would also miss NULL/empty ambiguities.
With both snapshots bucketed by the key (Catalog tables partitioned on
their merge key) the join is co-located and shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bc_proj3_spark.operators.incremental import merge_upsert
from bc_proj3_spark.plans.tables import table
from bc_proj3_spark.registry import register

#: Deterministic snapshot-derivation moduli (shared with the oracle).
INSERT_MOD = 97  # keys missing from v1 -> inserts in v2
DELETE_MOD = 89  # keys missing from v2 -> deletes vs v1
UPDATE_MOD = 7  # keys with a rewritten value column -> updates

_VALUE_COLS = (
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)

#: Both snapshots carry the same key+value projection so a snapshot can
#: be reconstructed from the other plus the change feed (cdc3).
_SQL_SNAPSHOTS = f"""
v1 AS (
  SELECT o_orderkey, {', '.join(_VALUE_COLS)}
  FROM orders WHERE o_orderkey % {INSERT_MOD} <> 0
),
v2 AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         CASE WHEN o_orderkey % {UPDATE_MOD} = 0
              THEN o_orderpriority || '+r2' ELSE o_orderpriority END
           AS o_orderpriority
  FROM orders WHERE o_orderkey % {DELETE_MOD} <> 0
)
"""

_CDC1_ORACLE = f"""
WITH {_SQL_SNAPSHOTS}
SELECT
  COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
  CASE
    WHEN a.o_orderkey IS NULL THEN 'insert'
    WHEN b.o_orderkey IS NULL THEN 'delete'
    ELSE 'update'
  END AS change_type
FROM v1 a FULL JOIN v2 b ON a.o_orderkey = b.o_orderkey
WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL OR NOT (
  {' AND '.join(f'a.{c} IS NOT DISTINCT FROM b.{c}' for c in _VALUE_COLS)}
)
"""


def snapshot_diff(v1: DataFrame, v2: DataFrame, key: str, value_cols) -> DataFrame:
    """(key, change_type) for every key that differs between snapshots."""
    a, b = v1.alias("a"), v2.alias("b")
    ka, kb = F.col(f"a.{key}"), F.col(f"b.{key}")
    same: Column = F.lit(True)
    for c in value_cols:
        same = same & F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
    return (
        a.join(b, ka == kb, "full")
        .select(
            F.coalesce(ka, kb).alias(key),
            F.when(ka.isNull(), F.lit("insert"))
            .when(kb.isNull(), F.lit("delete"))
            .when(~same, F.lit("update"))
            .alias("change_type"),
        )
        .filter(F.col("change_type").isNotNull())
    )


def _snapshots(o: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two deterministic orders snapshots (see module docstring),
    both projected to key + value columns (the cdc3 merge requires
    identical column sets on both sides, as a real table's versions
    would have)."""
    proj = ["o_orderkey", *_VALUE_COLS]
    v1 = o.filter(F.col("o_orderkey") % INSERT_MOD != 0).select(*proj)
    v2 = (
        o.filter(F.col("o_orderkey") % DELETE_MOD != 0)
        .withColumn(
            "o_orderpriority",
            F.when(
                F.col("o_orderkey") % UPDATE_MOD == 0,
                F.concat(F.col("o_orderpriority"), F.lit("+r2")),
            ).otherwise(F.col("o_orderpriority")),
        )
        .select(*proj)
    )
    return v1, v2


@register("cdc1_snapshot_diff", _CDC1_ORACLE)
def cdc1_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff of the two derived orders snapshots; see module docstring."""
    v1, v2 = _snapshots(table(spark, sf_dir, "orders"))
    return snapshot_diff(v1, v2, "o_orderkey", _VALUE_COLS)


# ---------------------------------------------------------------------------
# cdc2 — SCD Type-2 history build (change compression + validity intervals)
# ---------------------------------------------------------------------------

_CDC2_ORACLE = """
WITH daily AS (
  SELECT l_orderkey, l_shipdate, max(l_returnflag) AS attr
  FROM lineitem GROUP BY l_orderkey, l_shipdate
),
seq AS (
  SELECT l_orderkey, l_shipdate, attr,
         lag(attr) OVER (
           PARTITION BY l_orderkey ORDER BY l_shipdate
         ) AS prev_attr
  FROM daily
),
chg AS (
  SELECT l_orderkey, attr, l_shipdate
  FROM seq WHERE prev_attr IS NULL OR prev_attr <> attr
)
SELECT l_orderkey,
       row_number() OVER w AS version_no,
       attr AS return_flag,
       l_shipdate AS valid_from,
       lead(l_shipdate) OVER w AS valid_to,
       (lead(l_shipdate) OVER w IS NULL) AS is_current
FROM chg
WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_shipdate)
"""


@register("cdc2_scd2_history", _CDC2_ORACLE)
def cdc2_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a change sequence.

    Each order's per-ship-date state (``max(l_returnflag)`` over that
    date's lineitems — the synthetic lineitem has duplicate
    (orderkey, linenumber) pairs, so the daily collapse is what makes
    the change sequence unique and engine-reproducible) is treated as
    the change feed for the order's "current return flag" attribute —
    the standard warehouse problem the reference's merge pipeline feeds
    (silver_arxiv.py:130-152 keeps only latest-version rows; SCD2 keeps
    the full validity history instead). Two steps, classic SCD2:

    1. change compression — drop a version whose attribute equals the
       previous version's (``lag``): no change, no new history row;
    2. interval build — ``valid_from`` = its effective date,
       ``valid_to`` = the NEXT surviving change's date (``lead``),
       open interval (NULL / is_current) for the latest.

    Scale shape: ONE shuffle total — the explicit repartition on the
    dimension key feeds the daily aggregate and both window passes
    (all three only need key-clustering; the windows reuse the same
    (key, date) sort). The trade: repartitioning raw rows forgoes
    map-side partial aggregation, but the partial-agg reduction here is
    tiny (few duplicate (key, date) pairs per input split) while the
    avoided second exchange is a full pass over the daily table. At
    100 TB the key space (orders) is huge and uniform, so the window
    partitions are tiny and skew-free.
    """
    daily = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_shipdate")
        # partition on the key ALONE: hash(l_orderkey) clusters
        # (l_orderkey, l_shipdate) too, so the aggregate AND both window
        # passes run off this single exchange (left to itself Spark
        # shuffles twice: (key, date) for the agg, key for the window)
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_shipdate")
        .agg(F.max("l_returnflag").alias("attr"))
    )
    w = Window.partitionBy("l_orderkey").orderBy("l_shipdate")
    chg = (
        daily.withColumn("prev_attr", F.lag("attr").over(w))
        .filter(
            F.col("prev_attr").isNull()
            | (F.col("prev_attr") != F.col("attr"))
        )
        .drop("prev_attr")
    )
    return chg.select(
        "l_orderkey",
        F.row_number().over(w).alias("version_no"),
        F.col("attr").alias("return_flag"),
        F.col("l_shipdate").alias("valid_from"),
        F.lead("l_shipdate").over(w).alias("valid_to"),
        F.lead("l_shipdate").over(w).isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# cdc3 — apply a change feed: reconstruct v2 = merge(v1, upserts) − deletes
# ---------------------------------------------------------------------------

_CDC3_ORACLE = f"""
WITH {_SQL_SNAPSHOTS}
SELECT * FROM v2
"""


@register("cdc3_apply_changes", _CDC3_ORACLE)
def cdc3_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the change feed onto the old snapshot and get the new one
    back EXACTLY — the inverse of cdc1, and a full-value driver oracle
    over the real :func:`~bc_proj3_spark.operators.incremental.merge_upsert`
    code path (the pure-Spark MERGE rewrite of the reference's
    ``MERGE INTO``, silver_arxiv.py:130-152, whose other evidence is
    pytest-only). The oracle is simply ``SELECT * FROM v2``: if merge
    semantics (update matched-and-changed, insert unmatched, keep rest)
    are right, merge(v1, v2-upserts) minus the delete keys IS v2.

    Scale shape: merge_upsert's key join and anti join + one anti join
    on the delete-key list — all shuffles on the merge key; with both
    versions bucketed on the key they co-locate. Without a partition
    plan the merge launches no job, and its persisted changes are
    released before returning (the plan recomputes them lazily — at
    driver scale that is one batch-sized join, not a table scan).
    """
    v1, v2 = _snapshots(table(spark, sf_dir, "orders"))
    changed: Column = F.lit(False)
    for c in _VALUE_COLS:
        changed = changed | ~F.col(f"tgt.{c}").eqNullSafe(F.col(f"src.{c}"))
    res = merge_upsert(v1, v2, key="o_orderkey", update_when=changed)
    deletes = v1.join(v2, "o_orderkey", "left_anti").select("o_orderkey")
    out = res.df.join(deletes, "o_orderkey", "left_anti").select(
        "o_orderkey", *_VALUE_COLS
    )
    res.cleanup()
    return out


# ---------------------------------------------------------------------------
# cdc4 — incremental materialized-view maintenance (base agg + deltas)
# ---------------------------------------------------------------------------

_CDC4_ORACLE = f"""
WITH {_SQL_SNAPSHOTS}
SELECT o_custkey,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE) AS total_price
FROM v2
GROUP BY o_custkey
"""


@register("cdc4_incremental_agg", _CDC4_ORACLE)
def cdc4_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the per-customer
    (order count, total price) aggregate of the NEW snapshot computed
    as base-aggregate-of-v1 PLUS signed deltas from the change feed —
    the warehouse pattern that keeps a 100 TB rollup fresh by touching
    only the changed keys instead of rescanning the fact table.

    Delta algebra for distributive aggregates: a delete/old-update row
    contributes (-1, -price) to ITS customer, an insert/new-update row
    contributes (+1, +price) to its (possibly different) customer;
    groups whose maintained count reaches 0 drop out. Sums accumulate
    in exact decimal end-to-end, so the incremental path cancels old
    contributions EXACTLY and lands bit-identical to the oracle's full
    recompute over v2 — which is the entire point of the driver row:
    the oracle is the full rescan, the Spark plan is the incremental
    maintenance, and the value hash proves they agree.

    Scale shape: the base aggregate shuffles v1 once on the group key
    (map-side combinable); the delta stream is one full-outer key join
    (cdc1's diff shape) over the CHANGED keys only, then a second
    map-side-combinable aggregate over base ∪ deltas. Nothing rescans
    v2."""
    v1, v2 = _snapshots(table(spark, sf_dir, "orders"))
    dec = "decimal(28,10)"

    base = v1.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("dn"),
        F.sum(F.col("o_totalprice").cast(dec)).alias("dprice"),
    )

    a, b = v1.alias("a"), v2.alias("b")
    ka, kb = F.col("a.o_orderkey"), F.col("b.o_orderkey")
    same: Column = F.lit(True)
    for c in _VALUE_COLS:
        same = same & F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
    diff = a.join(b, ka == kb, "full").filter(
        ka.isNull() | kb.isNull() | ~same
    )
    neg = diff.filter(ka.isNotNull()).select(
        F.col("a.o_custkey").alias("o_custkey"),
        F.lit(-1).alias("dn"),
        (-F.col("a.o_totalprice").cast(dec)).alias("dprice"),
    )
    pos = diff.filter(kb.isNotNull()).select(
        F.col("b.o_custkey").alias("o_custkey"),
        F.lit(1).alias("dn"),
        F.col("b.o_totalprice").cast(dec).alias("dprice"),
    )
    return (
        base.select("o_custkey", "dn", "dprice")
        .unionAll(neg)
        .unionAll(pos)
        .groupBy("o_custkey")
        .agg(
            F.sum("dn").alias("n_orders"),
            F.sum("dprice").cast("double").alias("total_price"),
        )
        .filter(F.col("n_orders") > 0)
    )


# ---------------------------------------------------------------------------
# cdc5 — point-in-time (temporal) join against the SCD2 history
# ---------------------------------------------------------------------------

_CDC5_ORACLE = """
WITH daily AS (
  SELECT l_orderkey, l_shipdate, max(l_returnflag) AS attr
  FROM lineitem GROUP BY l_orderkey, l_shipdate
),
seq AS (
  SELECT l_orderkey, l_shipdate, attr,
         lag(attr) OVER (
           PARTITION BY l_orderkey ORDER BY l_shipdate
         ) AS prev_attr
  FROM daily
),
chg AS (
  SELECT l_orderkey, attr, l_shipdate
  FROM seq WHERE prev_attr IS NULL OR prev_attr <> attr
),
hist AS (
  SELECT l_orderkey,
         row_number() OVER w AS version_no,
         attr AS return_flag,
         l_shipdate AS valid_from,
         lead(l_shipdate) OVER w AS valid_to
  FROM chg
  WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_shipdate)
),
probe AS (
  SELECT l_orderkey, l_linenumber, l_shipdate AS probe_date
  FROM lineitem
)
SELECT p.l_orderkey, p.l_linenumber, p.probe_date,
       h.version_no, h.return_flag
FROM probe p JOIN hist h
  ON p.l_orderkey = h.l_orderkey
 AND p.probe_date >= h.valid_from
 AND (h.valid_to IS NULL OR p.probe_date < h.valid_to)
"""


@register("cdc5_pointintime_join", _CDC5_ORACLE)
def cdc5_pointintime_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: each probe row picks the ONE
    dimension version whose [valid_from, valid_to) interval contains
    its event time — how facts are enriched against an SCD2 dimension
    without leaking future attribute values (the training-data analogue
    is feature-store time travel: never join tomorrow's feature onto
    today's example). Reuses cdc2's history build verbatim, then probes
    each lineitem row at its own ship date (this synthetic lineitem has
    no second date column), so every probe lands in exactly one
    version. The join is an EQUI-join on
    the entity key with the interval predicate as a residual filter —
    the scalable PIT shape: versions-per-key is small, so the range
    check runs on key-matched rows only, never as a range cross
    product. One key shuffle each side; history and probe co-partition
    on l_orderkey."""
    from pyspark.sql.window import Window

    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy("l_orderkey", "l_shipdate").agg(
        F.max("l_returnflag").alias("attr")
    )
    seq = daily.withColumn(
        "prev_attr",
        F.lag("attr").over(
            Window.partitionBy("l_orderkey").orderBy("l_shipdate")
        ),
    )
    chg = seq.filter(
        F.col("prev_attr").isNull() | (F.col("prev_attr") != F.col("attr"))
    )
    w = Window.partitionBy("l_orderkey").orderBy("l_shipdate")
    hist = chg.select(
        "l_orderkey",
        F.row_number().over(w).alias("version_no"),
        F.col("attr").alias("return_flag"),
        F.col("l_shipdate").alias("valid_from"),
        F.lead("l_shipdate").over(w).alias("valid_to"),
    )
    probe = li.select(
        "l_orderkey", "l_linenumber", F.col("l_shipdate").alias("probe_date")
    )
    return probe.join(hist, "l_orderkey").where(
        (F.col("probe_date") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("probe_date") < F.col("valid_to")))
    ).select(
        "l_orderkey",
        "l_linenumber",
        "probe_date",
        "version_no",
        "return_flag",
    )
