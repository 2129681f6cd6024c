"""Catalog.compact — OPTIMIZE-style small-file maintenance.

Incremental appends land one file per batch; compaction rewrites the
fragmented partitions into one file each without touching clean ones,
and commits a COMPACT log entry (Delta OPTIMIZE parity). File counts
are read from the newest log entry, the files a read scans.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from bc_proj3_spark.catalog import Catalog

D1, D2 = datetime.date(2023, 4, 1), datetime.date(2023, 4, 2)


def _files(catalog, layer, name, sub=""):
    """The live files the newest log entry names, under partition ``sub``."""
    files = catalog.history(layer, name)[0]["files"]
    return sorted(f for f in files if not sub or f.startswith(sub + "/"))


def test_partitioned_compaction_rewrites_only_fragmented(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    mk = lambda rows: spark.createDataFrame(rows, ["id", "run_date"])
    catalog.overwrite("silver", "t", mk([("a", D1), ("b", D2)]),
                      partition_by=["run_date"])
    # three appends fragment ONLY the D2 partition
    for i in range(3):
        catalog.append("silver", "t", mk([(f"x{i}", D2)]))

    frag = len(_files(catalog, "silver", "t", "run_date=2023-04-02"))
    assert frag >= 4
    clean_before = _files(catalog, "silver", "t", "run_date=2023-04-01")
    assert clean_before
    data_before = sorted(map(tuple, catalog.read("silver", "t").collect()))

    done = catalog.compact("silver", "t")
    assert set(done) == {"run_date=2023-04-02"}
    before, after = done["run_date=2023-04-02"]
    assert before == frag and after == 1
    # clean partition untouched, data identical
    assert _files(catalog, "silver", "t", "run_date=2023-04-01") == clean_before
    assert sorted(map(tuple, catalog.read("silver", "t").collect())) == data_before
    # the log records the operation
    top = catalog.history("silver", "t")[0]
    assert top["operation"] == "COMPACT"
    m = top["operationMetrics"]
    assert (m["numRemovedFiles"], m["numAddedFiles"]) == (frag, 1)


def test_unpartitioned_compaction_to_single_file(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(100).select(F.col("id"))
    catalog.overwrite("silver", "flat", df.repartition(8))
    assert len(_files(catalog, "silver", "flat")) >= 2
    data_before = sorted(r["id"] for r in catalog.read("silver", "flat").collect())

    done = catalog.compact("silver", "flat")
    assert "" in done and done[""][1] == 1
    assert len(_files(catalog, "silver", "flat")) == 1
    assert sorted(r["id"] for r in catalog.read("silver", "flat").collect()) == data_before


def test_vacuum_removes_only_stale_tmp_dirs(spark, tmp_path):
    import os
    import time

    catalog = Catalog(spark, str(tmp_path / "wh"))
    catalog.overwrite(
        "silver", "t", spark.createDataFrame([("a", D1)], ["id", "run_date"])
    )
    base = catalog.path("silver", "t").parent
    stale, live = base / "tmp-t-dead1234", base / "tmp-t-live5678"
    stale.mkdir()
    live.mkdir()
    old = time.time() - 48 * 3600
    os.utime(stale, (old, old))

    removed = catalog.vacuum("silver", max_age_seconds=24 * 3600)
    assert removed == [str(stale)]
    assert not stale.exists() and live.exists()  # concurrent writer safe
    # the table itself is untouched
    assert catalog.read("silver", "t").count() == 1


def test_vacuum_removes_stale_files_no_entry_names(spark, tmp_path):
    """A file a failed write moved into the table before its commit is
    named by no entry: vacuum removes it once past the age guard, and
    never a file an entry names."""
    import os
    import shutil
    import time

    catalog = Catalog(spark, str(tmp_path / "wh"), retain_versions=1)
    mk = lambda rows: spark.createDataFrame(rows, ["id", "run_date"])
    catalog.overwrite("silver", "t", mk([("a", D1)]), partition_by=["run_date"])
    catalog.overwrite("silver", "t", mk([("b", D2)]), partition_by=["run_date"])
    table = catalog.path("silver", "t")
    (live,) = _files(catalog, "silver", "t")
    stale, fresh = table / "run_date=2023-04-02/stale.parquet", table / "fresh.parquet"
    shutil.copy(table / live, stale)
    shutil.copy(table / live, fresh)
    old = time.time() - 48 * 3600
    for f in (table / live, stale):
        os.utime(f, (old, old))

    assert catalog.vacuum("silver", max_age_seconds=24 * 3600) == [str(stale)]
    assert fresh.exists() and (table / live).exists()
    # version 0's file is still named by the retained entry
    assert [r["id"] for r in catalog.read_version("silver", "t", 0).collect()] == ["a"]
    assert [r["id"] for r in catalog.read("silver", "t").collect()] == ["b"]


def test_runner_maintenance_stage(spark, tmp_path):
    """--maintenance compacts the day's append fragmentation and reports
    reclaimed files; the pipeline result is value-identical."""
    from bc_proj3_spark.io import sources
    from bc_proj3_spark.pipeline import run_pipeline

    landing = str(tmp_path / "landing")
    catalog = Catalog(spark, str(tmp_path / "warehouse"))
    sources.fetch_all("20230401", landing, epoch=1000)
    sources.fetch_all("20230402", landing, epoch=2000)
    run_pipeline(spark, catalog, landing, "20230401")
    before = sorted(
        map(tuple, catalog.read("silver", "nytarchive").drop("load_ts").collect())
    )
    res = run_pipeline(spark, catalog, landing, "20230402", maintenance=True)
    m = res["maintenance"].metrics
    assert m["files_reclaimed"] >= 0 and "paths_vacuumed" in m
    # day-2 dedup-append fragmented nytarchive; maintenance compacted it
    nyt_parts = [f.split("/")[0] for f in _files(catalog, "silver", "nytarchive")]
    assert nyt_parts and len(nyt_parts) == len(set(nyt_parts)), nyt_parts
    after = sorted(
        map(tuple, catalog.read("silver", "nytarchive").drop("load_ts").collect())
    )
    assert {t[:3] for t in after} >= {t[:3] for t in before}  # day-1 rows kept


def test_compaction_noop_below_threshold(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([("a", D1)], ["id", "run_date"]).coalesce(1)
    catalog.overwrite("silver", "t", df, partition_by=["run_date"])
    files_before = _files(catalog, "silver", "t", "run_date=2023-04-01")
    assert files_before
    assert catalog.compact("silver", "t") == {}
    assert _files(catalog, "silver", "t", "run_date=2023-04-01") == files_before
    assert all(h["operation"] != "COMPACT" for h in catalog.history("silver", "t"))


def test_compact_zorder_clusters_files(spark, tmp_path):
    """OPTIMIZE ... ZORDER BY parity: a z-ordered compaction leaves
    every output file covering a narrow range of each clustered column
    (min-max pruning effective), and a COMPACT history entry lands."""
    from pyspark.sql import functions as F

    from bc_proj3_spark.catalog import Catalog
    from bc_proj3_spark.plans.tables import table

    cat = Catalog(spark, warehouse_dir=str(tmp_path / "wh"))
    li = table(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    cat.overwrite("silver", "li_z", li.repartition(8))  # fragmented
    done = cat.compact(
        "silver", "li_z", zorder_by=["l_partkey", "l_suppkey"], zorder_files=8
    )
    assert done[""][0] >= 8 and done[""][1] == 8

    back = cat.read("silver", "li_z")
    spans = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg((F.max("l_partkey") - F.min("l_partkey")).alias("sp"))
        .agg(F.avg("sp").alias("avg_span"))
        .first()
    )
    full = li.agg(
        (F.max("l_partkey") - F.min("l_partkey")).alias("fs")
    ).first()
    assert spans.avg_span < full.fs * 0.6  # files cluster the column
    assert back.count() == li.count()
    assert cat.history("silver", "li_z")[0]["operation"] == "COMPACT"


def test_compact_zorder_rejects_partitioned(spark, tmp_path):
    import pytest as _pytest

    from bc_proj3_spark.catalog import Catalog

    cat = Catalog(spark, warehouse_dir=str(tmp_path / "wh"))
    from pyspark.sql import functions as F

    df = spark.range(20).select(
        F.col("id"), (F.col("id") % 2).alias("p")
    )
    cat.overwrite("silver", "pt", df, partition_by=["p"])
    with _pytest.raises(ValueError, match="unpartitioned"):
        cat.compact("silver", "pt", zorder_by=["id"])
