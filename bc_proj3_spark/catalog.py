"""Layer-namespaced parquet warehouse with a commit log: the engine's table catalog.

Stands in for the reference's ``main.bronze/silver/gold`` Delta catalog
(bronze_arxiv.py:102-104, silver_arxiv.py:114-128, SURVEY.md §2.1
S6-S9/S12-S15): tables live at ``<warehouse>/<layer>/<name>``, and every
write is one commit, the ``_delta_log`` design of *Delta Lake:
High-Performance ACID Table Storage over Cloud Object Stores* (VLDB
2020) built on a local filesystem:

1. the frame is written as parquet into a fresh ``<layer>/tmp-<name>-<id>``
   staging directory, which no reader looks at;
2. each staged file is renamed into ``<table>/`` or
   ``<table>/<pcol>=<value>/`` (Spark scans one ``basePath``, so live
   files cannot stay in per-write directories; part-file names carry a
   per-job UUID, so they never collide);
3. the write commits by hardlinking the entry, written in full in the
   staging directory, to ``<table>/_log/<n>.json``: create-exclusive, so
   a concurrent writer of version n fails, and no reader sees a partial
   entry;
4. the files that left the ``retain_versions`` window with this commit
   are deleted, with the partition directories they leave empty.

An entry is the table's whole state: its live files, its schema (whose
field order is the logical column order), its partition columns, the
operation with its metrics and, on watermarked silver tables, the
watermark, which thus commits with its data. A failure before step 3
leaves the previous entry in force (files it left are garbage for
:meth:`Catalog.vacuum`). A read scans exactly the newest entry's files
with the recorded schema, so no inference job runs; an entry with no
files reads as an empty frame without a job. Every write verb is an
edit of the file list, and a write that changes neither the files, the
schema nor the watermark commits nothing.

Scale note: on a real deployment this is the seam where Delta/Iceberg
slots in; the pipeline code only talks to these verbs.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from collections import Counter
from pathlib import Path
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LAYERS = ("bronze", "silver", "gold")
#: a table's commit log, inside its directory
_LOG = "_log"


def _write_counted(df: DataFrame, path: str, partition_by: list[str]) -> int:
    """Write ``df`` as parquet (the staging write) and return the rows
    written, counted by the WRITE JOB itself via ``df.observe`` — never a
    second read-back scan of what was just written."""
    obs = Observation()
    writer = df.observe(obs, F.expr("count(1) AS rows")).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return int(obs.get["rows"])


def _move(src: Path, dst: Path) -> None:
    """Rename one staged file into its table directory."""
    dst.parent.mkdir(parents=True, exist_ok=True)
    src.rename(dst)


def _publish(entry: Path, log_file: Path) -> None:
    """Commit: link the written entry under its version's name, failing
    with ``FileExistsError`` when that version is already committed."""
    log_file.parent.mkdir(parents=True, exist_ok=True)
    os.link(entry, log_file)


def _delete(table: Path, files) -> None:
    """Unlink ``files`` (relative to ``table``) and remove the partition
    directories they leave empty."""
    for f in files:
        (table / f).unlink(missing_ok=True)
    for d in {(table / f).parent for f in files} - {table}:
        with contextlib.suppress(OSError):  # not empty
            d.rmdir()


def quote_ident(col: str) -> str:
    """``col`` as a backquoted SQL identifier."""
    return "`" + col.replace("`", "``") + "`"


def _check_schema(table: str, entry: dict, df: DataFrame) -> None:
    """Raise if ``df``'s columns or types differ from the schema recorded
    in ``entry`` (nullability and column order are not compared: parquet
    resolves columns by name and reads every column as nullable)."""
    want = {f.name: f.dataType.simpleString() for f in StructType.fromJson(entry["schema"])}
    got = {f.name: f.dataType.simpleString() for f in df.schema}
    if got != want:
        diff = sorted(c for c in want.keys() | got.keys() if want.get(c) != got.get(c))
        raise ValueError(
            f"{table}: frame schema differs from the recorded one: "
            + ", ".join(f"{c} (table {want.get(c)}, frame {got.get(c)})" for c in diff)
        )


def _partition(f: str) -> str:
    """The ``<pcol>=<value>`` directory of a partitioned table's file."""
    return f.split("/", 1)[0]


class Catalog:
    def __init__(
        self, spark: SparkSession, warehouse_dir: str, retain_versions: int = 0
    ):
        """``retain_versions``: number of PREVIOUS log entries whose files
        are kept for time travel (:meth:`read_version`). 0 (default) =
        none: a write deletes the files it replaces once it commits."""
        self.spark = spark
        self.warehouse = Path(warehouse_dir)
        self.retain_versions = retain_versions

    # -- paths and log ----------------------------------------------------

    def path(self, layer: str, name: str) -> Path:
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}; expected one of {LAYERS}")
        return self.warehouse / layer / name

    def _head(self, layer: str, name: str) -> int | None:
        """The newest committed version, None when the table does not exist."""
        try:
            entries = os.listdir(self.path(layer, name) / _LOG)
        except FileNotFoundError:
            return None
        return max((int(e.removesuffix(".json")) for e in entries), default=None)

    def _entry(self, layer: str, name: str, version: int | None = None) -> dict:
        """Log entry ``version`` of a table, by default the newest."""
        if version is None:
            version = self._head(layer, name)
            if version is None:
                raise FileNotFoundError(f"table {layer}.{name} does not exist")
        return json.loads((self.path(layer, name) / _LOG / f"{version}.json").read_text())

    # -- existence / listing ---------------------------------------------

    def exists(self, layer: str, name: str) -> bool:
        return self._head(layer, name) is not None

    def list_tables(self, layer: str) -> list[str]:
        base = self.warehouse / layer
        if not base.is_dir():
            return []
        return sorted(
            p.name
            for p in base.iterdir()
            # 'tmp-' dirs are staged writes and dropped tables being removed
            if not p.name.startswith("tmp-") and self.exists(layer, p.name)
        )

    def watermark(self, layer: str, name: str) -> str | None:
        """The watermark committed with the table's newest entry."""
        return self._entry(layer, name)["watermark"]

    # -- read / write -----------------------------------------------------

    def read(self, layer: str, name: str) -> DataFrame:
        """Read a table's newest entry in its logical column order."""
        return self._scan(self.path(layer, name), self._entry(layer, name))

    def _scan(self, table: Path, entry: dict) -> DataFrame:
        """Parquet scan of an entry's files with its recorded schema (no
        inference job). Hive-style partition columns surface LAST on
        read, so the recorded column order is re-selected."""
        schema = StructType.fromJson(entry["schema"])
        if not entry["files"]:  # read.parquet() needs a path
            return self.spark.createDataFrame([], schema)
        df = (
            self.spark.read.schema(schema)
            .option("basePath", str(table))
            .parquet(*(str(table / f) for f in entry["files"]))
        )
        if schema.fieldNames() != df.columns:
            df = df.selectExpr(*map(quote_ident, schema.fieldNames()))  # fewer JVM calls than select
        return df

    def _commit(
        self, layer: str, name: str, head: dict | None, df: DataFrame | None,
        edit: Callable[[list[str], list[str]], list[str]], schema: dict, partition_by: list[str],
        operation: str, metrics: dict | None, watermark: str | None,
    ) -> int:
        """Stage ``df`` (None: nothing to write), build the new file list
        as ``edit(live files, staged files)`` and commit it as the next
        log entry, unless nothing changed. Returns rows written."""
        table = self.path(layer, name)
        tmp = table.with_name(f"tmp-{name}-{uuid.uuid4().hex[:8]}")
        tmp.mkdir(parents=True)
        try:
            rows = 0 if df is None else _write_counted(df, str(tmp), partition_by)
            # a write of no rows adds no files (an empty entry reads as
            # an empty frame); Spark's empty part file is dropped
            staged = sorted(str(p.relative_to(tmp)) for p in tmp.rglob("*.parquet")) if rows else []
            live = head["files"] if head else []
            files = edit(live, staged)
            state = {
                "files": files,
                "schema": schema,
                "partition_by": partition_by,
                "watermark": watermark if watermark is not None else (head or {}).get("watermark"),
            }
            if head and all(head[k] == v for k, v in state.items()):
                return rows
            version = head["version"] + 1 if head else 0
            entry = {
                "version": version,
                "timestamp": time.time(),
                "operation": operation,
                "operationMetrics": {
                    "numOutputRows": rows, "numAddedFiles": len(staged),
                    "numRemovedFiles": len(set(live) - set(files)), **(metrics or {}),
                },
                **state,
            }
            moved: list[str] = []
            try:
                for f in staged:
                    _move(tmp / f, table / f)
                    moved.append(f)
                (tmp / "entry.json").write_text(json.dumps(entry))
                _publish(tmp / "entry.json", table / _LOG / f"{version}.json")
            except BaseException:
                _delete(table, moved)
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        # the files that left the retained window with this commit
        gone = version - self.retain_versions
        if gone > 0:
            older = self._entry(layer, name, gone - 1)["files"]
            _delete(table, set(older) - set(self._entry(layer, name, gone)["files"]))
        return rows

    def overwrite(
        self, layer: str, name: str, df: DataFrame, partition_by: list[str] | None = None,
        *, operation: str = "OVERWRITE", metrics: dict | None = None, watermark: str | None = None,
    ) -> int:
        """CREATE OR REPLACE TABLE AS SELECT. Returns rows written.

        ``partition_by`` lays the table out hive-style so downstream
        filters on those columns become scan-level partition pruning
        (the partition-pruning seam SURVEY.md §4 calls for). ``df`` may
        read the table it replaces: its files stay until the commit.
        ``operation``/``metrics`` name the entry in :meth:`history`;
        ``watermark`` replaces the table's (None keeps it)."""
        head = self._entry(layer, name) if self.exists(layer, name) else None
        return self._commit(
            layer, name, head, df, lambda _live, staged: staged, df.schema.jsonValue(),
            partition_by or [], operation, metrics, watermark,
        )

    def overwrite_partitions(
        self, layer: str, name: str, df: DataFrame, partition_values: list, *,
        operation: str = "OVERWRITE PARTITIONS", metrics: dict | None = None,
        watermark: str | None = None,
    ) -> int:
        """Dynamic-partition overwrite: replace ONLY the listed
        partitions of an existing partitioned table with ``df``'s
        contents, leaving every other partition's files untouched.

        This is the file-pruning half of Delta's MERGE INTO
        (silver_arxiv.py:130-152): the caller computes which partitions
        a merge touches, and the rewrite cost becomes proportional to
        the TOUCHED data, not the table — the difference between a
        daily upsert that rewrites one day and one that rewrites 100 TB.

        ``df`` must contain only rows whose partition value is in
        ``partition_values`` (guarded below — a row outside the listed
        set would otherwise be silently dropped by the edit). A listed
        value with no rows in ``df`` has its partition DELETED (the
        merge emptied it). With no listed value only a moved
        ``watermark`` commits. Returns rows written.
        """
        head = self._entry(layer, name)
        pby = head["partition_by"]
        if len(pby) != 1:
            raise ValueError(
                f"{layer}.{name}: partition-scoped overwrite needs exactly one "
                f"partition column, table has {pby!r}"
            )
        _check_schema(f"{layer}.{name}", head, df)
        if any(v is None for v in partition_values):
            raise ValueError(
                f"{layer}.{name}: null partition value — use full overwrite"
            )
        wanted = {f"{pby[0]}={v}" for v in partition_values}

        def edit(live: list[str], staged: list[str]) -> list[str]:
            outside = {_partition(f) for f in staged} - wanted
            if outside:
                raise ValueError(
                    f"{layer}.{name}: df contains partitions outside the "
                    f"declared touched set: {sorted(outside)}"
                )
            return [f for f in live if _partition(f) not in wanted] + staged

        return self._commit(
            layer, name, head, df if partition_values else None, edit, head["schema"], pby,
            operation, metrics, watermark,
        )

    def append(
        self, layer: str, name: str, df: DataFrame,
        *, operation: str = "APPEND", metrics: dict | None = None, watermark: str | None = None,
    ) -> int:
        """INSERT INTO, honoring the table's recorded partition layout.
        Returns rows written, observed by the write job. ``df`` must
        match the recorded schema (``ValueError`` otherwise), and the
        table must exist (``FileNotFoundError``; create it with
        :meth:`overwrite`). The caller is responsible for dedup
        semantics (anti-join first, as in silver_nyt_archive.py:102-120)."""
        head = self._entry(layer, name)
        _check_schema(f"{layer}.{name}", head, df)
        return self._commit(
            layer, name, head, df, lambda live, staged: live + staged, head["schema"],
            head["partition_by"], operation, metrics, watermark,
        )

    def delete_where(self, layer: str, name: str, condition) -> int:
        """DELETE FROM ``layer.name`` WHERE ``condition`` — the Delta
        DML verb the reference's GDPR/compliance path would need
        (notebooks use DROP TABLE only; row-level delete is the engine
        add that completes the MERGE/DELETE/HISTORY DML trio).

        Partition-pruned like the merge: on a partitioned table only
        the partitions that actually CONTAIN matching rows are
        rewritten — the touched-value list is one bounded aggregate
        over the matching rows (distinct partition values ≤ partition
        count), and untouched partitions' files stay in the file list.
        A partition whose rows all match is deleted outright.
        Unpartitioned tables fall back to a full rewrite.

        Returns the number of rows deleted. The DELETE entry records the
        predicate and counts; the pre-delete entry stays travelable
        within ``retain_versions``. A delete matching nothing commits
        nothing.
        """
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if not isinstance(cond, Column):
            raise TypeError(f"condition must be a Column or SQL string, got {type(condition)!r}")
        pby = self._entry(layer, name)["partition_by"]
        current = self.read(layer, name)
        kept = current.filter(~F.coalesce(cond, F.lit(False)))
        matched = current.filter(F.coalesce(cond, F.lit(False)))
        metrics = {"predicate": str(condition)}
        if len(pby) == 1:
            pcol = pby[0]
            touched_rows = (
                matched.groupBy(pcol).agg(F.count(F.lit(1)).alias("n")).collect()
            )
            deleted = int(sum(r["n"] for r in touched_rows))
            if any(r[pcol] is None for r in touched_rows):
                raise ValueError(
                    f"{layer}.{name}: matching rows in a null partition — "
                    "partition-scoped delete cannot address them; rewrite "
                    "via overwrite() instead"
                )
            values = [r[pcol] for r in touched_rows]
            if deleted:
                self.overwrite_partitions(
                    layer, name, kept.filter(F.col(pcol).isin(values)), values,
                    operation="DELETE",
                    metrics={**metrics, "rows_deleted": deleted,
                             "partitions_rewritten": len(values)},
                )
            return deleted
        # unpartitioned (or multi-partition-col) table: full rewrite
        deleted = matched.count()
        if deleted:
            self.overwrite(
                layer, name, kept, partition_by=pby or None, operation="DELETE",
                metrics={**metrics, "rows_deleted": deleted, "partitions_rewritten": -1},
            )
        return deleted

    # -- time travel and history ------------------------------------------

    def versions(self, layer: str, name: str) -> list[int]:
        """Earlier versions available for :meth:`read_version` (the
        ``retain_versions`` entries before the newest), oldest first."""
        head = self._head(layer, name)
        if head is None:
            return []
        return list(range(max(0, head - self.retain_versions), head))

    def read_version(self, layer: str, name: str, version: int = -1) -> DataFrame:
        """Read a retained earlier entry (``VERSION AS OF``): an id from
        :meth:`versions`, or -1 for the newest of them (the state just
        before the latest write)."""
        vs = self.versions(layer, name)
        if not vs:
            raise FileNotFoundError(f"{layer}.{name}: no retained versions")
        v = vs[-1] if version == -1 else version
        if v not in vs:
            raise FileNotFoundError(
                f"{layer}.{name}: version {version} not retained (have {vs})"
            )
        return self._scan(self.path(layer, name), self._entry(layer, name, v))

    def history(self, layer: str, name: str) -> list[dict]:
        """The log entries newest-first (`DESCRIBE HISTORY ... ORDER BY
        version DESC` shape: version, timestamp, operation,
        operationMetrics, plus the state each entry committed) — the
        operation metrics the reference reads after every merge
        (silver_arxiv.py:175-184, SURVEY.md §2.1 S15)."""
        head = self._head(layer, name)
        if head is None:
            return []
        return [self._entry(layer, name, v) for v in range(head, -1, -1)]

    # -- maintenance ------------------------------------------------------

    def compact(
        self,
        layer: str,
        name: str,
        min_files: int = 2,
        zorder_by: list[str] | None = None,
        zorder_files: int = 1,
    ) -> dict:
        """OPTIMIZE-style small-file compaction (the reference gets it
        from Databricks): every incremental append lands one more small
        file per partition, and a year of daily runs would turn every
        scan into a metadata + seek storm.

        Partitioned tables: each partition holding >= ``min_files``
        data files is rewritten into one file (the replacement frame is
        repartitioned BY the partition column, so each value lands in
        exactly one task → one output file); clean partitions are not
        touched, reusing the overwrite_partitions edit. Unpartitioned
        tables: the whole table is rewritten into a single file when it
        has >= ``min_files``.

        ``zorder_by`` (unpartitioned tables): ``OPTIMIZE ... ZORDER BY``
        parity — the rewrite clusters rows by the interleaved Z-address
        of the named columns (operators/layout.py) into ``zorder_files``
        files, so later filters on ANY clustered column prune files and
        row groups by parquet min-max stats. The clustering sort is the
        compaction job itself — no extra pass.

        Returns {partition_dir_or_'': (files_before, files_after)} for
        the rewritten units; the rewrite commits as a COMPACT entry
        whose numRemovedFiles/numAddedFiles are the totals (Delta's
        OPTIMIZE shows up in DESCRIBE HISTORY the same way).
        """
        pby = self._entry(layer, name)["partition_by"]
        if zorder_by and pby:
            raise ValueError(
                "zorder_by applies to unpartitioned tables; a partitioned "
                "table z-orders within partitions via its own rewrite"
            )

        def files_per_unit() -> Counter:
            files = self._entry(layer, name)["files"]
            return Counter(_partition(f) if pby else "" for f in files)

        dirty = {u: n for u, n in files_per_unit().items() if n >= min_files}
        if not dirty:
            return {}
        df = self.read(layer, name)
        if not pby:
            if zorder_by:
                from bc_proj3_spark.operators.layout import zorder_layout

                df = zorder_layout(df, zorder_by, zorder_files)
            else:
                df = df.repartition(1)
            self.overwrite(layer, name, df, operation="COMPACT")
        else:
            pcol = pby[0]
            values = [d.split("=", 1)[1] for d in dirty]
            df = df.filter(F.col(pcol).cast("string").isin(values)).repartition(F.col(pcol))
            self.overwrite_partitions(layer, name, df, values, operation="COMPACT")
        after = files_per_unit()
        return {u: (n, after[u]) for u, n in dirty.items()}

    def vacuum(self, layer: str, max_age_seconds: float = 24 * 3600.0) -> list[str]:
        """Delta VACUUM: remove what no retained entry names and nothing
        can still commit — staging directories, and table files a failed
        write left before its commit — once older than
        ``max_age_seconds``. The age guard keeps a CONCURRENT writer's
        staged or moved files safe (default 24 h, same spirit as Delta's
        retention check). Returns removed paths."""
        removed: list[str] = []
        base = self.warehouse / layer
        if not base.is_dir():
            return removed
        cutoff = time.time() - max_age_seconds
        for p in sorted(base.iterdir()):
            if p.name.startswith("tmp-"):
                if p.stat().st_mtime < cutoff:
                    shutil.rmtree(p)
                    removed.append(str(p))
                continue
            head = self._head(layer, p.name)
            if head is None:
                continue
            named = set().union(*(
                self._entry(layer, p.name, v)["files"] for v in [*self.versions(layer, p.name), head]
            ))
            stale = sorted(
                str(f.relative_to(p)) for f in p.rglob("*")
                if f.is_file() and f.relative_to(p).parts[0] != _LOG
                and str(f.relative_to(p)) not in named and f.stat().st_mtime < cutoff
            )
            _delete(p, stale)
            removed += [str(p / f) for f in stale]
        return removed

    def drop(self, layer: str, name: str) -> None:
        """DROP TABLE IF EXISTS, log and history with it. The table
        directory is renamed away first, so the table disappears in one
        step; a crash while removing it leaves a staging directory for
        :meth:`vacuum`."""
        p = self.path(layer, name)
        if p.exists():
            gone = p.with_name(f"tmp-{name}-{uuid.uuid4().hex[:8]}")
            p.rename(gone)
            shutil.rmtree(gone)
