"""Pipeline runner: thread run_date through bronze → silver → gold.

The library form of the reference's control plane (SURVEY.md §2.12).
The Airflow DAG runs its three sources side by side and fans in only
before the Databricks job (``[scholar, arxiv, nyt_update >> nyt_sync]
>> databricks``, cleantech.py:76-79). A day here has the same shape on
one SparkContext:

- **fan-out**: each source's chain — landing pick and bronze, then its
  silver load — runs on its own thread, the three chains at once;
- **words**: once every chain is done, ``gold_words`` builds the three
  per-source words tables, again one thread per source;
- **fan-in**: ``gold_scoring`` scores the union of the words tables;
- ``maintenance`` (when asked) runs after gold, alone.

Spark schedules the chains' jobs side by side, so one chain's driver
work (planning, py4j calls, file renames) overlaps another's tasks.
Every stage's Spark jobs carry the caller's job group.

The templated run date (D3) is an explicit parameter; the no-files
notebook exit (D4) becomes a SKIPPED stage result; precondition
violations (D5) raise; is_fresh_load (D6) is the ``fresh`` flag.

On a failure in one chain the other chains still run to their end, and
each of their writes commits whole, table by table (a write stages its
files and then swaps them in).
The first failure in source order (arXiv, NYT, Scholar) is then
raised, and no gold stage runs. Re-running the day is safe, because
every stage is idempotent (below).

Skip semantics match the reference's behavior: a bronze stage with no
landing file for the run date leaves the *previous* bronze batch in
place, and silver still runs over it — harmless because every silver
strategy is idempotent (merge / keyed dedup / keyed strict-> watermark), which
is the pipeline's core re-runnability contract (README.md:28,
SURVEY.md §7.4.7) and is pinned by tests/test_pipeline.py.
"""

from __future__ import annotations

import functools
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import SparkSession

from bc_proj3_spark.catalog import Catalog
from bc_proj3_spark.io import landing
from bc_proj3_spark.pipeline import bronze as bz
from bc_proj3_spark.pipeline import gold as gd
from bc_proj3_spark.pipeline import silver as sv
from bc_proj3_spark.session import run_concurrently

SKIPPED = "SKIPPED"
LOADED = "LOADED"


@dataclass
class StageResult:
    name: str
    status: str
    rows: int = 0
    metrics: dict = field(default_factory=dict)
    #: wall-clock start (epoch seconds) and duration of the stage; not
    #: compared, so equal loads give equal results
    started: float = field(default=0.0, compare=False)
    seconds: float = field(default=0.0, compare=False)


_BRONZE = (
    # stage name, landing subdir, date separator, bronze fn
    ("bronze_arxiv", "arxiv", "-", bz.bronze_arxiv),
    ("bronze_nyt", "nytarchive", "_", bz.bronze_nyt),
    ("bronze_scholar", "googlescholar", "_", bz.bronze_scholar),
)

_SILVER = tuple(
    # stage name, silver table, loader
    (name, spec.table, functools.partial(sv.load, spec=spec))
    for name, spec in (
        ("silver_arxiv", sv.ARXIV), ("silver_nyt", sv.NYT), ("silver_scholar", sv.SCHOLAR)
    )
)


def _timed(name: str, run: Callable[[], tuple[str, int, dict]]) -> StageResult:
    """Run one stage and stamp its start and wall time."""
    started, t0 = time.time(), time.perf_counter()
    status, rows, metrics = run()
    return StageResult(name, status, rows, metrics, started, time.perf_counter() - t0)


def run_pipeline(
    spark: SparkSession,
    catalog: Catalog,
    landing_dir: str,
    run_date: str,
    fresh: bool = False,
    maintenance: bool = False,
) -> dict[str, StageResult]:
    """One daily run. Returns per-stage results keyed by stage name:
    bronze ×3, silver ×3, gold_words, gold_scoring, then maintenance.

    ``maintenance``: after the load, compact silver tables fragmented by
    the day's incremental appends and vacuum orphaned staging dirs —
    the OPTIMIZE/VACUUM step a production daily DAG schedules alongside
    the load (the reference gets it from Databricks table maintenance).
    Off by default: tests and ad-hoc runs shouldn't churn files."""

    def chain(bronze: tuple, silver: tuple) -> tuple[StageResult, StageResult]:
        b_name, subdir, sep, b_fn = bronze
        s_name, table, s_fn = silver

        def load_bronze():
            try:
                batch = landing.select_batch_file(
                    run_date, os.path.join(landing_dir, subdir), sep
                )
            except landing.NoFilesForRunDate:
                return SKIPPED, 0, {}
            return LOADED, b_fn(spark, catalog, batch, run_date), {}

        def load_silver():
            if not catalog.exists("bronze", table):
                return SKIPPED, 0, {}
            metrics = s_fn(spark, catalog, fresh=fresh)
            return LOADED, metrics.pop("rows"), metrics

        return _timed(b_name, load_bronze), _timed(s_name, load_silver)

    chains = run_concurrently(
        spark, [functools.partial(chain, b, s) for b, s in zip(_BRONZE, _SILVER)]
    )
    bronze, silver = zip(*chains)
    results = {r.name: r for r in (*bronze, *silver)}

    silver_ready = all(catalog.exists("silver", t) for _, t, _ in _SILVER)

    def words():
        if not silver_ready:
            return SKIPPED, 0, {}
        counts = gd.gold_words(spark, catalog, fresh=fresh)
        return LOADED, sum(counts.values()), counts

    def scoring():
        if not silver_ready:
            return SKIPPED, 0, {}
        return LOADED, gd.gold_scoring(spark, catalog), {}

    results["gold_words"] = _timed("gold_words", words)
    results["gold_scoring"] = _timed("gold_scoring", scoring)

    if maintenance:
        def maintain():
            compacted: dict[str, int] = {}
            for _, table, _fn in _SILVER:
                if catalog.exists("silver", table):
                    done = catalog.compact("silver", table)
                    if done:
                        compacted[table] = sum(b - a for b, a in done.values())
            vacuumed = sum(len(catalog.vacuum(layer)) for layer in ("bronze", "silver", "gold"))
            return LOADED, 0, {"files_reclaimed": sum(compacted.values()),
                               "tmp_dirs_vacuumed": vacuumed, **compacted}

        results["maintenance"] = _timed("maintenance", maintain)

    return results


def main(argv: list[str] | None = None) -> int:
    """CLI: ``python -m bc_proj3_spark.pipeline.runner --run-date 20230401
    [--fresh] [--landing DIR] [--warehouse DIR]`` — the engine's
    replacement for the reference's Airflow-triggered Databricks job
    (cleantech.py:66-73): one process, explicit run_date, exit code 0
    iff no stage errored (SKIPPED is a normal outcome)."""
    import argparse

    from bc_proj3_spark.catalog import Catalog
    from bc_proj3_spark.session import get_spark

    ap = argparse.ArgumentParser(description="Run the medallion pipeline once")
    ap.add_argument("--run-date", required=True, help="YYYYMMDD")
    ap.add_argument("--landing", default="./landing")
    ap.add_argument("--warehouse", default="./warehouse")
    ap.add_argument("--fresh", action="store_true", help="reset silver/gold first")
    ap.add_argument("--fetch", action="store_true",
                    help="also land synthetic batches first (offline sources)")
    ap.add_argument("--maintenance", action="store_true",
                    help="compact fragmented silver partitions + vacuum tmp dirs")
    args = ap.parse_args(argv)

    spark = get_spark(app_name=f"pipeline-{args.run_date}")
    catalog = Catalog(spark, args.warehouse)
    if args.fetch:
        from bc_proj3_spark.io import sources

        sources.fetch_all(args.run_date, args.landing, epoch=int(args.run_date))
    results = run_pipeline(
        spark, catalog, args.landing, args.run_date,
        fresh=args.fresh, maintenance=args.maintenance,
    )
    t0 = min(r.started for r in results.values())
    for r in results.values():
        print(f"{r.name:16s} {r.status:8s} start=+{r.started - t0:.2f}s "
              f"wall={r.seconds:.2f}s rows={r.rows} {r.metrics or ''}")
    return 0


if __name__ == "__main__":  # pragma: no cover - thin CLI shim
    raise SystemExit(main())
