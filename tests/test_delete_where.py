"""Catalog.delete_where — partition-pruned DELETE FROM (DML parity).

Pins the contract: rows matching the predicate disappear, rows sharing
a partition with them are preserved, partitions with NO matching rows
are never rewritten (the newest log entry names the same files, with
the same mtimes), a fully-matched partition leaves the file list and
its directory is removed, a DELETE log entry records the predicate and
counts, and the pre-delete state remains readable via time travel.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from bc_proj3_spark.catalog import Catalog

D1, D2, D3 = (datetime.date(2023, 4, d) for d in (1, 2, 3))


def _file_state(catalog: Catalog, layer: str, name: str, part: str) -> dict:
    """{file: mtime_ns} for the live files of one partition, as the
    newest log entry names them."""
    table = catalog.path(layer, name)
    return {
        f: (table / f).stat().st_mtime_ns
        for f in catalog.history(layer, name)[0]["files"]
        if f.startswith(part + "/")
    }


def _mk(spark, tmp_path, retain_versions=0) -> Catalog:
    catalog = Catalog(spark, str(tmp_path / "wh"), retain_versions=retain_versions)
    rows = [
        (f"u{i}", d, i * 10 + d.day)
        for d in (D1, D2, D3)
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, ["user", "run_date", "v"])
    catalog.overwrite("silver", "t", df, partition_by=["run_date"])
    return catalog


def test_delete_prunes_untouched_partitions(spark, tmp_path):
    catalog = _mk(spark, tmp_path)
    before_d3 = _file_state(catalog, "silver", "t", "run_date=2023-04-03")
    assert before_d3
    # u1 exists on every day, but restrict the delete to days 1 and 2:
    # day 3 must not be rewritten.
    deleted = catalog.delete_where(
        "silver", "t", (F.col("user") == "u1") & (F.col("run_date") < F.lit(D3))
    )
    assert deleted == 2
    after = {
        (r.user, r.run_date) for r in catalog.read("silver", "t").collect()
    }
    assert ("u1", D1) not in after and ("u1", D2) not in after
    assert ("u1", D3) in after  # outside predicate: survives
    assert ("u0", D1) in after  # same partition, not matching: survives
    assert _file_state(catalog, "silver", "t", "run_date=2023-04-03") == before_d3
    last = catalog.history("silver", "t")[0]  # newest-first
    assert last["operation"] == "DELETE"
    assert last["operationMetrics"]["rows_deleted"] == 2
    assert last["operationMetrics"]["partitions_rewritten"] == 2


def test_delete_drops_fully_matched_partition(spark, tmp_path):
    catalog = _mk(spark, tmp_path)
    deleted = catalog.delete_where("silver", "t", F.col("run_date") == F.lit(D2))
    assert deleted == 4
    assert _file_state(catalog, "silver", "t", "run_date=2023-04-02") == {}
    assert not (catalog.path("silver", "t") / "run_date=2023-04-02").exists()
    assert catalog.read("silver", "t").count() == 8


def test_delete_noop_rewrites_nothing(spark, tmp_path):
    catalog = _mk(spark, tmp_path)
    states = {
        p: _file_state(catalog, "silver", "t", p)
        for p in ("run_date=2023-04-01", "run_date=2023-04-02", "run_date=2023-04-03")
    }
    assert catalog.delete_where("silver", "t", F.col("user") == "nobody") == 0
    for p, st in states.items():
        assert st and _file_state(catalog, "silver", "t", p) == st


def test_delete_time_travel_keeps_predelete_state(spark, tmp_path):
    catalog = _mk(spark, tmp_path, retain_versions=3)
    catalog.delete_where("silver", "t", F.col("user") == "u2")
    assert catalog.read("silver", "t").filter(F.col("user") == "u2").count() == 0
    pre = catalog.read_version("silver", "t", -1)
    assert pre.filter(F.col("user") == "u2").count() == 3


def test_delete_unpartitioned_full_rewrite(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh2"))
    df = spark.createDataFrame(
        [(i, "keep" if i % 2 else "drop") for i in range(10)], ["id", "tag"]
    )
    catalog.overwrite("silver", "u", df)
    assert catalog.delete_where("silver", "u", "tag = 'drop'") == 5
    assert catalog.read("silver", "u").count() == 5
