"""Pipeline validations must survive ``python -O`` (r9 verdict).

The row-count conservation and watermark write-back checks are the
pipeline's core data-integrity gates. As bare ``assert`` statements
they were stripped under ``PYTHONOPTIMIZE=1``, silently disabling
validation in any optimized deployment. They now raise
:class:`bc_proj3_spark.operators.incremental.ValidationError`; this
test runs one silver stage in a ``PYTHONOPTIMIZE=1`` subprocess with an
injected row loss (a projection that drops a row) and pins that the
check still trips.
"""

from __future__ import annotations

import os
import subprocess
import sys

_SCRIPT = r"""
import sys

if sys.flags.optimize < 1:
    raise SystemExit("expected to run under PYTHONOPTIMIZE=1")

import dataclasses

from pyspark.sql import SparkSession

from bc_proj3_spark.catalog import Catalog
from bc_proj3_spark.io import sources
from bc_proj3_spark.operators.incremental import ValidationError
from bc_proj3_spark.pipeline.bronze import bronze_arxiv
from bc_proj3_spark.pipeline.silver import ARXIV, load

tmp = sys.argv[1]
spark = (
    SparkSession.builder.master("local[2]")
    .appName("validation-optimize-pin")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
catalog = Catalog(spark, tmp + "/warehouse")
paths = sources.fetch_all("20230401", tmp + "/landing", epoch=1000)
bronze_arxiv(spark, catalog, paths["arxiv"], "20230401")

# Inject a row loss: a projection that drops one bronze row, so the
# projected count the conservation check compares against comes up
# one short of the bronze count.
first_id = catalog.read("bronze", "arxiv").first()["id"]
lossy = dataclasses.replace(
    ARXIV, project=lambda b: ARXIV.project(b.filter(b["id"] != first_id))
)
try:
    load(spark, catalog, lossy)
except ValidationError as exc:
    if "rows lost" not in str(exc):
        raise SystemExit(f"wrong validation message: {exc}")
    print("VALIDATION_TRIPPED")
    raise SystemExit(0)
raise SystemExit("row loss was NOT detected under -O")
"""


def test_row_conservation_trips_under_python_O(tmp_path):
    env = dict(os.environ, PYTHONOPTIMIZE="1")
    env.pop("PYSPARK_PYTHON", None)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path)],
        capture_output=True,
        text=True,
        env=env,
        cwd="/root/repo",
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "VALIDATION_TRIPPED" in proc.stdout
