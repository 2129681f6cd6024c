"""Partition-scoped MERGE: the Delta-style file pruning contract.

The reference's silver MERGE INTO relies on Delta to rewrite only the
files containing touched keys (silver_arxiv.py:130-152). The engine's
pure-Spark rewrite gets the same bound from run_date partitioning:
``merge_upsert(partition_col=...)`` computes the touched partitions and
``Catalog.overwrite_partitions`` swaps only those directories. These
tests pin the two halves of that contract:

- correctness: the scoped rewrite produces the same table as the full
  merge rewrite;
- pruning: files under untouched partitions are NOT rewritten (the
  newest log entry names the same files, with the same mtimes) — the
  property that makes the daily upsert scale.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from bc_proj3_spark.catalog import Catalog
from bc_proj3_spark.operators import incremental as inc

D1, D2, D3, D4 = (datetime.date(2023, 4, d) for d in (1, 2, 3, 4))


def _file_state(
    catalog: Catalog, layer: str, name: str, part: str | None = None
) -> dict:
    """{file: mtime_ns} for the live files of one partition (of the whole
    table when ``part`` is None), as the newest log entry names them."""
    table = catalog.path(layer, name)
    return {
        f: (table / f).stat().st_mtime_ns
        for f in catalog.history(layer, name)[0]["files"]
        if part is None or f.startswith(part + "/")
    }


def _mk_catalog(spark, tmp_path) -> Catalog:
    catalog = Catalog(spark, str(tmp_path / "wh"))
    rows = [
        # three days, three keys per day, version 1
        (f"k{d.day}{i}", 1, f"v1-{d.day}{i}", d)
        for d in (D1, D2, D3)
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, ["id", "version", "payload", "run_date"])
    catalog.overwrite("silver", "t", df, partition_by=["run_date"])
    return catalog


def test_scoped_merge_matches_full_merge_and_prunes_files(spark, tmp_path):
    catalog = _mk_catalog(spark, tmp_path)
    tgt = catalog.read("silver", "t")
    # batch: bump one day-3 key to version 2 (lands on day 4) + one new key
    src = spark.createDataFrame(
        [("k30", 2, "v2-30", D4), ("k99", 1, "v1-99", D4)],
        ["id", "version", "payload", "run_date"],
    )
    res = inc.merge_upsert(
        tgt, src, key="id",
        update_when=F.col("src.version") > F.col("tgt.version"),
        partition_col="run_date",
    )
    assert res.inserted == 1 and res.updated == 1
    # touched: the updated row's OLD partition (D3) + the batch's (D4)
    assert res.touched_partitions == [D3, D4]
    # the kept-rows branch scans ONLY the touched partitions — the
    # isin() filter must surface as scan-level PartitionFilters
    plan = res.scoped_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "run_date" in plan.split("PartitionFilters")[1][:80]

    expected = sorted(map(tuple, res.df.collect()))
    before_d1 = _file_state(catalog, "silver", "t", "run_date=2023-04-01")
    before_d2 = _file_state(catalog, "silver", "t", "run_date=2023-04-02")
    assert before_d1 and before_d2

    rows = catalog.overwrite_partitions(
        "silver", "t", res.scoped_df, res.touched_partitions
    )
    res.cleanup()
    # scoped rewrite wrote only the touched partitions' rows
    assert rows == 2 + 2  # kept day-3 (k31,k32) + updated k30 + inserted k99

    # correctness: table equals the full-merge result
    assert sorted(map(tuple, catalog.read("silver", "t").collect())) == expected
    # pruning: untouched partitions' files byte-for-byte left alone
    assert _file_state(catalog, "silver", "t", "run_date=2023-04-01") == before_d1
    assert _file_state(catalog, "silver", "t", "run_date=2023-04-02") == before_d2
    # the updated key's stale day-3 row is gone from its old partition
    d3_rows = catalog.read("silver", "t").filter(F.col("run_date") == D3).collect()
    assert {r["id"] for r in d3_rows} == {"k31", "k32"}


def test_moved_row_empties_and_deletes_old_partition(spark, tmp_path):
    """A merge that moves EVERY row out of a partition deletes its dir."""
    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [("a", 1, D1), ("b", 1, D2)], ["id", "version", "run_date"]
    )
    catalog.overwrite("silver", "t", df, partition_by=["run_date"])
    src = spark.createDataFrame([("a", 2, D3)], ["id", "version", "run_date"])
    res = inc.merge_upsert(
        catalog.read("silver", "t"), src, key="id",
        update_when=F.col("src.version") > F.col("tgt.version"),
        partition_col="run_date",
    )
    assert res.touched_partitions == [D1, D3]
    catalog.overwrite_partitions("silver", "t", res.scoped_df, res.touched_partitions)
    res.cleanup()
    assert _file_state(catalog, "silver", "t", "run_date=2023-04-01") == {}
    assert not (catalog.path("silver", "t") / "run_date=2023-04-01").exists()
    got = sorted(map(tuple, catalog.read("silver", "t").collect()))
    assert got == [("a", 2, D3), ("b", 1, D2)]


def test_noop_merge_touches_nothing(spark, tmp_path):
    """Idempotent re-merge (no updates, no inserts) rewrites zero files."""
    catalog = _mk_catalog(spark, tmp_path)
    tgt = catalog.read("silver", "t")
    src = spark.createDataFrame(
        [("k10", 1, "v1-10", D1)], ["id", "version", "payload", "run_date"]
    )  # same version → update_when false; key exists → no insert
    res = inc.merge_upsert(
        tgt, src, key="id",
        update_when=F.col("src.version") > F.col("tgt.version"),
        partition_col="run_date",
    )
    assert (res.inserted, res.updated, res.touched_partitions) == (0, 0, [])
    before = {
        p: _file_state(catalog, "silver", "t", p)
        for p in ("run_date=2023-04-01", "run_date=2023-04-02", "run_date=2023-04-03")
    }
    assert catalog.overwrite_partitions(
        "silver", "t", res.scoped_df, res.touched_partitions
    ) == 0
    res.cleanup()
    for p, st in before.items():
        assert st and _file_state(catalog, "silver", "t", p) == st, p
    assert len(catalog.history("silver", "t")) == 1  # nothing committed


def test_null_partition_value_falls_back_to_full_rewrite(spark, tmp_path):
    catalog = _mk_catalog(spark, tmp_path)
    tgt = catalog.read("silver", "t")
    src = spark.createDataFrame(
        [("kNULL", 1, "x", None)],
        "id string, version long, payload string, run_date date",
    )
    res = inc.merge_upsert(
        tgt, src, key="id",
        update_when=F.col("src.version") > F.col("tgt.version"),
        partition_col="run_date",
    )
    assert res.scoped_df is None and res.touched_partitions is None
    assert res.df.count() == 10  # full-merge frame still usable
    res.cleanup()


def test_overwrite_partitions_guards(spark, tmp_path):
    catalog = _mk_catalog(spark, tmp_path)
    extra = spark.createDataFrame(
        [("z", 1, "x", D4)], ["id", "version", "payload", "run_date"]
    )
    # df holding a partition outside the declared touched set must raise
    with pytest.raises(ValueError, match="outside the declared"):
        catalog.overwrite_partitions("silver", "t", extra, [D1])
    with pytest.raises(ValueError, match="null partition"):
        catalog.overwrite_partitions("silver", "t", extra, [None])
    # unpartitioned table refuses partition-scoped overwrite
    flat = spark.createDataFrame([("a", 1)], ["id", "version"])
    catalog.overwrite("silver", "flat", flat)
    with pytest.raises(ValueError, match="exactly one partition column"):
        catalog.overwrite_partitions("silver", "flat", flat, [D1])


def test_pipeline_rerun_rewrites_no_silver_files(spark, tmp_path):
    """End-to-end: re-running the day-2 pipeline (nothing new to merge)
    leaves every silver.arxiv data file untouched — previously a full
    table rewrite per run."""
    from bc_proj3_spark.io import sources
    from bc_proj3_spark.pipeline import run_pipeline

    landing = str(tmp_path / "landing")
    catalog = Catalog(spark, str(tmp_path / "warehouse"))
    sources.fetch_all("20230401", landing, epoch=1000)
    sources.fetch_all("20230402", landing, epoch=2000)
    run_pipeline(spark, catalog, landing, "20230401")
    run_pipeline(spark, catalog, landing, "20230402")

    before = _file_state(catalog, "silver", "arxiv")
    assert before
    snap = sorted(
        map(tuple, catalog.read("silver", "arxiv").drop("load_ts").collect())
    )
    run_pipeline(spark, catalog, landing, "20230402")  # idempotent re-run
    assert _file_state(catalog, "silver", "arxiv") == before
    assert sorted(
        map(tuple, catalog.read("silver", "arxiv").drop("load_ts").collect())
    ) == snap
