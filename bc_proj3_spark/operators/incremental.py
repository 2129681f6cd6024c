"""Incremental-load machinery: watermarks, merge upsert, dedup insert.

The semantic core of the reference's silver layer
(SURVEY.md §2.1 S8-S10, §3.3):

- **watermark cursor**: the high-water mark, committed in the silver
  table's own log entry with the data it covers; read-filter-update
  contract of silver_arxiv.py:43-50,194-199.
- **merge upsert**: ``MERGE INTO tgt USING src ON tgt.id = src.id WHEN
  MATCHED AND src.version > tgt.version THEN UPDATE SET * WHEN NOT
  MATCHED THEN INSERT *`` (silver_arxiv.py:130-152) re-expressed as a
  pure-Spark join rewrite (no Delta dependency): one left join of the
  batch against the target on the key classifies batch rows into
  updates and inserts, one anti-join keeps the target rows not
  updated, and the new target is their union.
- **dedup insert**: append only keys absent from the target — the
  NOT-IN pattern of silver_nyt_archive.py:102-120 as a left_anti join
  (null-safe where NOT IN is not; keys are sha2 so both agree,
  SURVEY.md §7.4.1).

Scale notes: the merge rewrite joins both sides on the key once (a
broadcast of the target's key columns while they are small, otherwise a
shuffle of both sides) — the same physical shape Delta's MERGE lowers
to. With ``partition_col`` it also computes the partition-scoped
rewrite plan (touched partitions + their replacement rows), which
``Catalog.overwrite_partitions`` turns into Delta-style file pruning:
the daily upsert rewrites only the run_date partitions the batch
touches, not the table.

With a partition plan, the merge's metrics (inserted/updated) are
observed on the same join results the rewrite then reads from cache;
without one the merge stays lazy and reports -1 (dedup insert leaves
its count to the append's own observation) — the engine-side stand-in
for DESCRIBE HISTORY's operationMetrics (silver_arxiv.py:175-184, S15).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from bc_proj3_spark.catalog import Catalog, quote_ident


class PreconditionError(Exception):
    """A watermarked silver table must carry its watermark
    (silver_arxiv.py:43-49)."""


class ValidationError(Exception):
    """A pipeline data-integrity check failed (row-count conservation).
    Raised, not ``assert``-ed: these are the pipeline's core validations
    and must survive ``python -O`` (r9 verdict)."""


@dataclass
class MergeResult:
    df: DataFrame
    #: -1 when not counted (a merge without a partition plan, or the
    #: dedup insert, whose count is the append's observation)
    inserted: int
    updated: int
    #: frames persisted by the merge so metrics + write share one
    #: computation; callers unpersist via :meth:`cleanup` after the
    #: result is written.
    caches: tuple[DataFrame, ...] = ()
    #: partition-scoped rewrite plan, populated when merge_upsert is
    #: given ``partition_col``: the distinct partition values the merge
    #: touches, and a replacement frame holding ONLY those partitions'
    #: new contents (kept ∪ updated ∪ inserted rows within them). None
    #: when partition scoping was not requested or is unsafe (a touched
    #: partition value is null) — callers then fall back to ``df`` +
    #: full overwrite.
    touched_partitions: list | None = None
    scoped_df: DataFrame | None = None

    def cleanup(self) -> None:
        for c in self.caches:
            c.unpersist()


# ---------------------------------------------------------------------------
# watermark contract
# ---------------------------------------------------------------------------


def resolve_watermark(catalog: Catalog, table: str) -> str | None:
    """Initial-load cursor resolution (silver_arxiv.py:38-50), read from
    the silver table's newest log entry, where the watermark commits with
    the data: no table → None (first load: the caller overwrites, no
    filter); a table whose log carries a watermark → that value; a table
    without one → ``PreconditionError``."""
    if not catalog.exists("silver", table):
        return None
    watermark = catalog.watermark("silver", table)
    if watermark is None:
        raise PreconditionError(f"silver.{table}: the table's log carries no watermark")
    return watermark


# ---------------------------------------------------------------------------
# merge / dedup-insert rewrites
# ---------------------------------------------------------------------------


def merge_upsert(
    tgt: DataFrame,
    src: DataFrame,
    key: str,
    update_when: Column,
    partition_col: str | None = None,
) -> MergeResult:
    """Pure-Spark MERGE: update matched rows satisfying ``update_when``
    (a predicate over ``tgt.<c>``/``src.<c>`` aliases), insert unmatched
    src rows, keep everything else. Column set of the result is tgt's.

    src must be unique on ``key`` (true in the reference: one batch row
    per article id after the latest-file pick).

    One left join of the batch against the target classifies each batch
    row as update, insert or no change, and the batch-sized changed rows
    are persisted. Callers unpersist via ``MergeResult.cleanup()`` once
    the result is written.

    Without ``partition_col`` the merge launches no job: the caller's
    first action on ``df`` fills the cache, and ``inserted``/``updated``
    are -1.

    ``partition_col``: when the target table is laid out by this column
    (e.g. run_date), also compute the partition-scoped rewrite plan —
    the Delta-style file pruning the reference gets from MERGE INTO
    (silver_arxiv.py:130-152). Touched partitions are: the OLD partition
    of every updated target row (its stale version must be removed from
    wherever it lives), plus the partition of every incoming updated /
    inserted row. ``scoped_df`` is then kept-rows-within-touched ∪
    updated ∪ inserts — everything ``Catalog.overwrite_partitions``
    needs to rewrite only that data. The kept-rows filter is a
    partition-pruning predicate, so the scoped plan never scans the
    untouched table. One scan-only job (observed aggregates, no
    shuffle) materializes the cache and yields the touched values and
    the updated/inserted counts, so metrics and rewrite share one
    computation.
    """
    from pyspark import StorageLevel

    cols = tgt.columns
    # SQL strings and column names below, not Column objects: each
    # Column call is several driver-to-JVM round trips
    q_cols = [quote_ident(c) for c in cols]
    # one left join classifies every batch row: no target match → insert,
    # a match passing ``update_when`` → update (carrying the target row's
    # OLD partition), any other match → no change and dropped. Column
    # pruning narrows the target side to the key and the columns the
    # predicate reads.
    t = tgt.withColumn("__hit", F.lit(True)).alias("tgt")
    q_key = quote_ident(key)
    joined = src.alias("src").join(t, F.expr(f"src.{q_key} = tgt.{q_key}"), "left")
    op = F.when(F.expr("tgt.__hit IS NULL"), F.lit("I")).when(update_when, F.lit("U"))
    sel = [op.alias("__op"), *[f"src.{c}" for c in cols]]
    if partition_col is not None:
        sel.append(F.expr(f"tgt.{quote_ident(partition_col)} AS __old_part"))
    changes = (
        joined.select(*sel).filter("__op IS NOT NULL").persist(StorageLevel.MEMORY_AND_DISK)
    )
    updated = changes.filter("__op = 'U'").selectExpr(*q_cols)
    inserts = changes.filter("__op = 'I'").selectExpr(*q_cols)
    updated_keys = updated.select(key)
    kept = tgt.join(updated_keys, on=key, how="left_anti")
    # re-assert tgt's column order: the USING-style anti join above
    # promotes the key column to the front of `kept`
    out = kept.unionByName(updated).unionByName(inserts).selectExpr(*q_cols)

    res = MergeResult(df=out, inserted=-1, updated=-1, caches=(changes,))
    if partition_col is None:
        return res
    # one scan-only job (a noop sink: no shuffle) fills the cache and
    # observes the updated count, the inserted count and the touched
    # partitions (an updated row touches its old and its new partition,
    # an insert its new one)
    p = quote_ident(partition_col)
    aggs = [
        "count_if(__op = 'U') AS updated",
        "count_if(__op = 'I') AS inserted",
        f"collect_set({p}) AS `new`",
        "collect_set(CASE WHEN __op = 'U' THEN __old_part END) AS `old`",
        # collect_set skips nulls: count them apart
        f"count_if({p} IS NULL OR (__op = 'U' AND __old_part IS NULL)) AS nulls",
    ]
    obs = Observation()
    changes.observe(obs, *map(F.expr, aggs)).write.format("noop").mode("overwrite").save()
    stats = obs.get
    res.updated, res.inserted = int(stats["updated"]), int(stats["inserted"])
    if not stats["nulls"]:  # else the caller falls back to a full rewrite
        res.touched_partitions = sorted(set(stats["new"]) | set(stats["old"]), key=str)
        kept_scoped = tgt.filter(
            F.col(partition_col).isin(res.touched_partitions)
        ).join(updated_keys, on=key, how="left_anti")
        res.scoped_df = (
            kept_scoped.unionByName(updated).unionByName(inserts).selectExpr(*q_cols)
        )
    return res


def dedup_insert(tgt: DataFrame, src: DataFrame, key: str) -> MergeResult:
    """INSERT-only-new via anti join on the surrogate key. Lazy: nothing
    is persisted or counted, so ``inserted`` is -1 and the insert count
    is the row count the caller's write observes (``Catalog.append``
    returns it)."""
    fresh = src.join(tgt.select(key), on=key, how="left_anti").selectExpr(
        *map(quote_ident, tgt.columns)
    )
    return MergeResult(df=fresh, inserted=-1, updated=0)
