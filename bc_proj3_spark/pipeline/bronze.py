"""Bronze stages: land the run date's latest batch file as a table.

Each stage replays its reference notebook's shape: discover the run
date's landing files, pick the latest by epoch segment, JSON-scan,
flatten the source's nesting, stamp audit columns, and CTAS-overwrite
the bronze table (bronze_arxiv.py:22-104, bronze_ny_times.py:22-112,
bronze_google_scholar.py:21-110).

Bronze is a full overwrite of the latest batch (not an accumulation) —
idempotent per run_date by construction; history accumulates in silver.

Scale notes: the JSON scan parallelizes over file splits; explode +
struct-star are Generate/Project nodes inside the scan stage (no
shuffle anywhere in bronze). Audit columns are literals, not UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bc_proj3_spark.catalog import Catalog
from bc_proj3_spark.session import apply_runtime_conf


def _audit(df: DataFrame, file_path: str, run_date: str) -> DataFrame:
    """source_file_name / run_date / load_ts stamps (bronze_arxiv.py:70,86-87)."""
    file_name = os.path.basename(file_path).split(".jsonl")[0]
    return (
        df.withColumn("source_file_name", F.lit(file_name))
        .withColumn("run_date", F.lit(run_date))
        .withColumn("load_ts", F.current_timestamp())
    )


def bronze_arxiv(
    spark: SparkSession, catalog: Catalog, file_path: str, run_date: str
) -> int:
    """feed → explode(feed.entry) → entry.* (bronze_arxiv.py:61-89)."""
    raw = spark.read.json(file_path)
    flat = raw.select(F.explode("feed.entry").alias("results")).select("results.*")
    return catalog.overwrite("bronze", "arxiv", _audit(flat, file_path, run_date))


def bronze_nyt(
    spark: SparkSession, catalog: Catalog, file_path: str, run_date: str
) -> int:
    """_airbyte_data.* unnest, multimedia dropped under case-sensitive
    resolution (bronze_ny_times.py:2,61-80 — the reference sets
    caseSensitive cluster-wide). Here it is set on a child session
    (``newSession``: same SparkContext, its own SQL confs) that reads,
    analyzes and writes this table only, so the other sources' stages
    running beside it keep the shared session's resolution (SURVEY.md
    §7.4.6)."""
    nyt = apply_runtime_conf(spark.newSession())
    nyt.conf.set("spark.sql.caseSensitive", "true")
    flat = nyt.read.json(file_path).select("_airbyte_data.*")
    keep = [c for c in flat.columns if c != "multimedia"]
    out = _audit(flat.select(*keep), file_path, run_date)
    return catalog.overwrite("bronze", "nytarchive", out)


def bronze_scholar(
    spark: SparkSession, catalog: Catalog, file_path: str, run_date: str
) -> int:
    """multiLine JSON → _airbyte_data → explode(organic_results) →
    result.* (bronze_google_scholar.py:60-90)."""
    raw = spark.read.json(file_path, multiLine=True)
    flat = raw.select(
        F.explode("_airbyte_data.organic_results").alias("results")
    ).select("results.*")
    return catalog.overwrite("bronze", "googlescholar", _audit(flat, file_path, run_date))
