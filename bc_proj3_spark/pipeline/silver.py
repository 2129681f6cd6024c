"""Silver stage: typed projections + incremental loads, one loader.

:func:`load` runs each silver table from its :class:`SilverSpec`: the
typed projection of the bronze batch (sha2 surrogate key first), the
match key, and one of three strategies mirroring the reference:

- **merge** — arxiv (silver_arxiv.py): watermark on updated_dt (re-read
  overlap via >=), MERGE upsert on article id with
  update-if-newer-version; watermark = the batch maximum;
- **dedup-insert** — nytarchive (silver_nyt_archive.py): append only
  surrogate keys the target lacks (anti join), no watermark;
- **watermark-append** — googlescholar (silver_google_scholar.py):
  derived publish_dt (native days_ago parse), append rows with
  publish_dt strictly greater than the watermark and a surrogate key
  the target lacks; watermark = max over the whole target.

A table's first load is a CTAS overwrite. Each load commits its rows
and its new watermark as one catalog log entry, so a failure at any
step leaves both as they were. Row-count conservation (pre
== post of the typed projection, silver_arxiv.py:64,161-166) and the
watermark maximum are observed by the first job that reads the
projection, before anything is written: the merge's metrics job when
arxiv merges, else a scan-only job. Insert counts come from the write's
own observation, merge counts from the merge's metrics job.

Documented deviations from the reference (SURVEY.md §7.4):
- version is cast to int so '10' sorts after '9' (the reference
  compares strings, :117-151);
- days_ago is a native regexp (the reference UDF crashes on digit-less
  snippets and has an always-true condition, :107-117);
- scholar's strict-> watermark drops same-day re-derived rows — kept
  verbatim for parity, and pinned by a test;
- scholar's append also anti-joins on ggl_sk, as the NYT dedup does,
  although the strict filter already excludes every stored key: the
  watermark commits in the same log entry as the rows it covers;
- scholar's whole-target maximum is max(stored watermark, batch
  maximum), not a target scan: ggl_sk covers publish_dt, so every batch
  row past the watermark is in the target after the append, and the
  stored watermark is the target maximum of the previous run.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bc_proj3_spark.catalog import Catalog
from bc_proj3_spark.operators import incremental as inc

_DAYS_AGO_RE = r"^\s*(\d+)\s+days? ago"

MERGE, DEDUP_INSERT, WATERMARK_APPEND = "merge", "dedup-insert", "watermark-append"


def days_ago(snippet: Column) -> Column:
    """Native rewrite of the days_ago UDF (silver_google_scholar.py:107-117):
    leading 'N day(s) ago' → N, else null."""
    return F.when(
        snippet.rlike(_DAYS_AGO_RE),
        F.regexp_extract(snippet, _DAYS_AGO_RE, 1).cast("int"),
    )


# ---------------------------------------------------------------------------
# typed projections (bronze → keyed silver rows)
#
# Written as SQL expressions: one selectExpr costs a handful of
# driver-to-JVM calls, where the Column API spends several per function.
# ---------------------------------------------------------------------------

#: bronze's YYYYMMDD audit string → date (silver_arxiv.py:89-94)
_RUN_DATE = "to_date(run_date, 'yyyyMMdd')"
_AUDIT = (
    "CAST(source_file_name AS STRING) AS source_file_name",
    f"{_RUN_DATE} AS run_date",
    "CAST(load_ts AS TIMESTAMP) AS load_ts",
)


def _strings(*cols: str) -> list[str]:
    return [f"CAST({c} AS STRING) AS {c}" for c in cols]


def _keyed(proj: DataFrame, key: str, *parts: str) -> DataFrame:
    """Prepend the sha2-256 surrogate key over concat_ws'd ``parts``
    (silver_arxiv.py:117). concat_ws skips nulls — key semantics depend
    on it (SURVEY.md F5)."""
    return proj.selectExpr(f"sha2(concat_ws('||', {', '.join(parts)}), 256) AS {key}", "*")


#: the bronze arXiv fields _arxiv reads; an empty feed lands as these
ARXIV_ENTRY_FIELDS = ("id", "updated", "title", "summary")


def _arxiv(bronze: DataFrame) -> DataFrame:
    tail = "split(split(id, '/')[4], 'v')"
    proj = bronze.selectExpr(
        f"CAST({tail}[0] AS STRING) AS id",
        f"CAST({tail}[1] AS INT) AS version",
        "CAST(id AS STRING) AS link",
        *_strings("summary", "title"),
        "CAST(substring(updated, 1, 10) AS DATE) AS updated_dt",
        *_AUDIT,
    )
    return _keyed(proj, "arx_sk", "id", "version", "updated_dt")


def _nyt(bronze: DataFrame) -> DataFrame:
    proj = bronze.selectExpr(
        "CAST(_id AS STRING) AS id",
        *_strings("abstract", "lead_paragraph", "snippet"),
        "CAST(substring(pub_date, 1, 10) AS DATE) AS publish_dt",
        *_AUDIT,
    )
    return _keyed(proj, "nyt_sk", "id", "publish_dt")


def _scholar(bronze: DataFrame) -> DataFrame:
    # days_ago stays a Column: its regex needs no SQL string escaping
    proj = bronze.select("*", days_ago(F.col("snippet")).alias("__days_ago")).selectExpr(
        *_strings("link", "result_id", "snippet", "title"),
        f"coalesce(date_sub({_RUN_DATE}, __days_ago), {_RUN_DATE}) AS publish_dt",
        *_AUDIT,
    )
    return _keyed(proj, "ggl_sk", "result_id", "publish_dt")


# ---------------------------------------------------------------------------
# specs + the one loader
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class SilverSpec:
    """How one bronze table loads into silver."""

    table: str
    #: bronze frame → typed silver rows, surrogate key first
    project: Callable[[DataFrame], DataFrame]
    #: column the strategy matches target rows on
    key: str
    strategy: str
    watermark_col: str | None = None
    #: merge only: SQL predicate over tgt./src. choosing updates
    update_when: str | None = None


ARXIV = SilverSpec(
    "arxiv", _arxiv, key="id", strategy=MERGE, watermark_col="updated_dt",
    update_when="src.version > tgt.version",
)
NYT = SilverSpec("nytarchive", _nyt, key="nyt_sk", strategy=DEDUP_INSERT)
SCHOLAR = SilverSpec(
    "googlescholar", _scholar, key="ggl_sk", strategy=WATERMARK_APPEND,
    watermark_col="publish_dt",
)


def load(
    spark: SparkSession, catalog: Catalog, spec: SilverSpec, fresh: bool = False
) -> dict:
    """Load the bronze batch of ``spec.table`` into silver. Returns
    {"inserted", "updated", "rows"} (rows = bronze rows read)."""
    table, wm_col = spec.table, spec.watermark_col
    if fresh:
        catalog.drop("silver", table)
    watermark = inc.resolve_watermark(catalog, table) if wm_col else None

    bronze = catalog.read("bronze", table)
    # row conservation and the watermark maximum are observed on the
    # projection by the first job that reads it, before anything is
    # written (later jobs recompute them; an Observation keeps the first)
    pre_obs, post_obs = Observation(), Observation()
    aggs = ["count(1) AS post"] + ([f"max({wm_col}) AS max"] if wm_col else [])
    keyed = spec.project(bronze.observe(pre_obs, F.expr("count(1) AS pre"))).observe(
        post_obs, *map(F.expr, aggs)
    )

    def conserved() -> tuple[int, str | None]:
        """(rows read, the watermark this load commits; None keeps it)."""
        pre, post = int(pre_obs.get["pre"]), int(post_obs.get["post"])
        if pre != post:
            raise inc.ValidationError(
                f"silver.{table}: rows lost in transformation ({pre}->{post})"
            )
        if not wm_col or post_obs.get["max"] is None:
            return pre, None
        new_wm = str(post_obs.get["max"])
        if spec.strategy == WATERMARK_APPEND and watermark is not None:
            # whole-target maximum (silver_google_scholar.py:215)
            new_wm = max(new_wm, watermark)
        return pre, new_wm

    updated = 0
    exists = catalog.exists("silver", table)
    if exists and spec.strategy == MERGE:  # the merge's metrics job reads the batch first
        res = inc.merge_upsert(
            catalog.read("silver", table),
            keyed.filter(F.col(wm_col) >= F.lit(watermark)),
            key=spec.key,
            update_when=F.expr(spec.update_when),
            partition_col="run_date",
        )
        try:
            rows, new_wm = conserved()
            commit = dict(
                operation="MERGE", watermark=new_wm,
                metrics={"numTargetRowsInserted": res.inserted,
                         "numTargetRowsUpdated": res.updated},
            )
            if res.scoped_df is not None:
                # rewrite ONLY the run_date partitions the batch touched
                # (Delta-style pruning; untouched partitions' files stay)
                catalog.overwrite_partitions(
                    "silver", table, res.scoped_df, res.touched_partitions, **commit
                )
            else:  # null run_date in the touched set — full rewrite
                catalog.overwrite("silver", table, res.df, partition_by=["run_date"], **commit)
        finally:
            res.cleanup()  # release merge branches even on write failure
        inserted, updated = res.inserted, res.updated
    else:
        # one scan-only job (a noop sink, no shuffle) carries both observations
        keyed.write.format("noop").mode("overwrite").save()
        rows, new_wm = conserved()
        if not exists:
            # an empty first batch of a watermarked table creates nothing,
            # so the next batch is a first load too
            inserted = 0 if wm_col and new_wm is None else catalog.overwrite(
                "silver", table, keyed, partition_by=["run_date"],
                operation="CREATE", watermark=new_wm,
            )
        else:
            src = keyed
            if spec.strategy == WATERMARK_APPEND:
                # strict > : same-day rows at the watermark are dropped — the
                # reference's documented semantics (silver_google_scholar.py:162)
                src = src.filter(F.col(wm_col) > F.lit(watermark))
            res = inc.dedup_insert(catalog.read("silver", table), src, key=spec.key)
            inserted = catalog.append(
                "silver", table, res.df, operation="INSERT", watermark=new_wm
            )
    return {"inserted": inserted, "updated": updated, "rows": rows}
