"""Result-level bench artifacts (contract: docs/benching.md).

Several registered queries' results are, in production, persisted
tables that downstream stages read (the near-dup pair list the graph
jobs consume, the dedup survivor set the corpus build reads, the
quality-filter decision and the ingest-dedup admitted list the
manifest/streaming ledgers join against). perfbench's query_mix
clears the cache after every query, which would force every consumer
to re-run the full producing funnel; under the
``SPARK_GRAFT_INDEX_SPILL_DIR`` seam the OWNER query publishes its
result write-once as parquet and consumers restore it.

Owner rule (r9 verdict): a registered query never restores its OWN
result — owners always compute, so their bench rows measure the
funnel; only the ``*_artifact`` readers (called by consumers) restore.
Correctness runs never set the env var, so driver-visible plans have
no restore branch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Memoized restores keyed by (applicationId, sf_dir, artifact name) so
#: a consumer that calls a reader repeatedly reuses ONE persisted frame
#: instead of leaking a new MEMORY_AND_DISK persist per call (r9
#: ADVICE). Entries whose cache was evicted re-read the file.
_ARTIFACT_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _artifact_path(sf_dir: str, name: str) -> str | None:
    """Parquet path for a result-level bench artifact, or None when the
    ``SPARK_GRAFT_INDEX_SPILL_DIR`` seam is off (driver correctness
    runs, all tests that don't opt in)."""
    spill = os.environ.get("SPARK_GRAFT_INDEX_SPILL_DIR")
    if not spill:
        return None
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return os.path.join(spill, f"{name}_{tag}")


def _published(sf_dir: str, name: str) -> str | None:
    """Path of the artifact when the seam is on and its owner has
    published it, else None."""
    path = _artifact_path(sf_dir, name)
    if path is None or not os.path.exists(os.path.join(path, "_SUCCESS")):
        return None
    return path


def _artifact_read(spark: SparkSession, path: str) -> DataFrame:
    """A published artifact as a persisted, materialized frame. Not
    memoized: :func:`_artifact_restore` memoizes consumer restores,
    while an index with its own session cache (dedup's shingle index)
    reads through this directly."""
    from pyspark import StorageLevel

    out = spark.read.parquet(path).persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    return out


def _artifact_restore(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame | None:
    """Restore a published artifact as a persisted frame, or None when
    the seam is off / the owner hasn't published yet."""
    path = _published(sf_dir, name)
    if path is None:
        return None
    key = (spark.sparkContext.applicationId, sf_dir, name)
    hit = _ARTIFACT_CACHE.get(key)
    if hit is not None and hit.is_cached:
        return hit
    out = _ARTIFACT_CACHE[key] = _artifact_read(spark, path)
    return out


def _artifact_publish(df: DataFrame, sf_dir: str, name: str) -> bool:
    """Write a computed result as the artifact consumers restore from.

    Write-once: an existing artifact is left in place (a bench min-of-N
    re-run of the owner must not rewrite files a consumer's persisted
    restore may still be backed by). Any write failure degrades to the
    no-artifact path (consumers then recompute via the owner) —
    PySpark writer failures surface as Py4JJavaError/AnalysisException,
    so the catch is broad (r9 ADVICE).

    Returns True when the write job actually ran (r11: owners whose
    result frame is persisted use this to skip the redundant
    materialization count — the write job already filled the cache)."""
    path = _artifact_path(sf_dir, name)
    if path is None or _published(sf_dir, name):
        return False
    try:
        df.write.mode("overwrite").parquet(path)
        return True
    except Exception:  # pragma: no cover - unwritable spill dir
        return False


def publish_owner_result(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Owner-side publish: when the seam is on, persist+materialize the
    computed result so the publish write and the caller's action share
    ONE computation, then publish it write-once. Seam-off this is a
    no-op returning ``df`` unchanged (driver-posture plans untouched).
    Shared by f1/d8 (d4/d6 return frames their builders already
    persist)."""
    if _artifact_path(sf_dir, name) is None:
        return df
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    _artifact_publish(df, sf_dir, name)
    return df
