"""Write-path robustness: shard sizing and overwrite atomicity.

Two properties a 100 TB pipeline depends on every day:

- training-shard exports must bound rows per output file
  (``maxRecordsPerFile``) so downstream loaders stream fixed-size
  shards — the write-side companion to sp4's sequence packing;
- a FAILED overwrite must leave the previous table state untouched:
  the catalog stages into a tmp dir and commits a log entry only on
  success, so a job that dies mid-write (here: a deliberately-failing
  expression) never corrupts the live table.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bc_proj3_spark.catalog import Catalog
from bc_proj3_spark.plans.tables import table

SF = "/root/testdata/sf0.01"


def test_max_records_per_file_bounds_shards(spark, tmp_path):
    out = str(tmp_path / "shards")
    docs = table(spark, SF, "documents").select("doc_id", "text")
    n = docs.count()
    (
        docs.repartition(1)  # worst case: all rows in one task
        .write.option("maxRecordsPerFile", 100)
        .mode("overwrite")
        .parquet(out)
    )
    per_file = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .count()
        .collect()
    )
    assert sum(r["count"] for r in per_file) == n
    assert all(r["count"] <= 100 for r in per_file)
    assert len(per_file) >= n // 100


def test_failed_overwrite_preserves_previous_state(spark, tmp_path):
    cat = Catalog(spark, warehouse_dir=str(tmp_path / "wh"))
    good = spark.range(10).select(F.col("id"), F.lit("v1").alias("v"))
    cat.overwrite("silver", "t", good)

    # raise_error fires during the write job, after the tmp dir exists
    bad = spark.range(10).select(
        F.col("id"),
        F.when(F.col("id") < 5, F.lit("v2"))
        .otherwise(F.raise_error(F.lit("boom")))
        .alias("v"),
    )
    with pytest.raises(Exception, match="boom"):
        cat.overwrite("silver", "t", bad)

    back = cat.read("silver", "t")
    assert back.count() == 10
    assert {r.v for r in back.collect()} == {"v1"}  # untouched
    # the log still ends at the first write, and names files that exist
    (entry,) = cat.history("silver", "t")
    table = cat.path("silver", "t")
    assert entry["files"] and all((table / f).exists() for f in entry["files"])

    # anything the aborted write left is vacuumable garbage, not table state
    leftovers = cat.vacuum("silver", max_age_seconds=0.0)
    assert all(str(table / f) not in leftovers for f in entry["files"])
    assert cat.read("silver", "t").count() == 10
