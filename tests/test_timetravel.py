"""Time travel (Catalog.read_version) via the commit log.

Delta parity: the reference reads DESCRIBE HISTORY after every merge
and managed Delta gives it VERSION AS OF for free; this catalog keeps
the files of the ``retain_versions`` log entries before the newest, so
an earlier entry reads the very files that were live then (zero data
copy). Default stays 0: a write deletes the files it replaces.
"""

from __future__ import annotations

import datetime
import os
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from bc_proj3_spark.catalog import Catalog

D1, D2 = datetime.date(2023, 4, 1), datetime.date(2023, 4, 2)


def _mk(spark, *ids):
    return spark.createDataFrame([(i, D1) for i in ids], ["id", "run_date"])


def test_overwrite_retains_previous_versions(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"), retain_versions=2)
    catalog.overwrite("silver", "t", _mk(spark, "a"))
    catalog.overwrite("silver", "t", _mk(spark, "b"))
    catalog.overwrite("silver", "t", _mk(spark, "c"))

    assert catalog.versions("silver", "t") == [0, 1]
    assert [r["id"] for r in catalog.read_version("silver", "t", 0).collect()] == ["a"]
    assert [r["id"] for r in catalog.read_version("silver", "t", 1).collect()] == ["b"]
    assert [r["id"] for r in catalog.read_version("silver", "t").collect()] == ["b"]
    assert [r["id"] for r in catalog.read("silver", "t").collect()] == ["c"]


def test_retention_prunes_oldest(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"), retain_versions=1)
    for i in range(4):
        catalog.overwrite("silver", "t", _mk(spark, f"x{i}"))
    assert catalog.versions("silver", "t") == [2]
    assert [r["id"] for r in catalog.read_version("silver", "t").collect()] == ["x2"]
    with pytest.raises(FileNotFoundError, match="not retained"):
        catalog.read_version("silver", "t", 0)


def test_retained_version_reads_the_old_live_file(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"), retain_versions=1)
    catalog.overwrite("silver", "t", _mk(spark, "a").coalesce(1))
    (live,) = catalog.read("silver", "t").inputFiles()
    ino_before = os.stat(urlparse(live).path).st_ino
    catalog.overwrite("silver", "t", _mk(spark, "b"))
    # the file version 0 names IS the old live file (same inode, no data
    # copy), and the overwrite that replaced it did not disturb it
    (old,) = catalog.read_version("silver", "t", 0).inputFiles()
    assert os.stat(urlparse(old).path).st_ino == ino_before
    assert old not in catalog.read("silver", "t").inputFiles()
    assert [r["id"] for r in catalog.read_version("silver", "t", 0).collect()] == ["a"]


def test_partition_scoped_overwrite_snapshots_whole_table(spark, tmp_path):
    from bc_proj3_spark.operators import incremental as inc

    catalog = Catalog(spark, str(tmp_path / "wh"), retain_versions=1)
    df = spark.createDataFrame(
        [("a", 1, D1), ("b", 1, D2)], ["id", "version", "run_date"]
    )
    catalog.overwrite("silver", "t", df, partition_by=["run_date"])
    src = spark.createDataFrame([("a", 2, D1)], ["id", "version", "run_date"])
    res = inc.merge_upsert(
        catalog.read("silver", "t"), src, key="id",
        update_when=F.col("src.version") > F.col("tgt.version"),
        partition_col="run_date",
    )
    catalog.overwrite_partitions("silver", "t", res.scoped_df, res.touched_partitions)
    res.cleanup()
    # live table has the update; the snapshot preserves BOTH partitions pre-merge
    assert {(r["id"], r["version"]) for r in catalog.read("silver", "t").collect()} \
        == {("a", 2), ("b", 1)}
    old = catalog.read_version("silver", "t", 0)
    assert {(r["id"], r["version"]) for r in old.collect()} == {("a", 1), ("b", 1)}


def test_append_snapshots_and_default_off(spark, tmp_path):
    on = Catalog(spark, str(tmp_path / "on"), retain_versions=1)
    on.overwrite("silver", "t", _mk(spark, "a"))
    on.append("silver", "t", _mk(spark, "b"))
    assert [r["id"] for r in on.read_version("silver", "t").collect()] == ["a"]
    assert sorted(r["id"] for r in on.read("silver", "t").collect()) == ["a", "b"]

    off = Catalog(spark, str(tmp_path / "off"))  # default retain_versions=0
    off.overwrite("silver", "t", _mk(spark, "a"))
    off.overwrite("silver", "t", _mk(spark, "b"))
    assert off.versions("silver", "t") == []
    with pytest.raises(FileNotFoundError, match="no retained"):
        off.read_version("silver", "t")


def test_drop_removes_versions_and_listing_hides_internal_dirs(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"), retain_versions=2)
    catalog.overwrite("silver", "t", _mk(spark, "a"))
    catalog.overwrite("silver", "t", _mk(spark, "b"))
    # the retained version's files live in the table's own directory
    assert catalog.list_tables("silver") == ["t"]
    catalog.drop("silver", "t")
    assert catalog.versions("silver", "t") == []
    assert catalog.history("silver", "t") == []
    assert not catalog.path("silver", "t").exists()
    assert catalog.list_tables("silver") == []
