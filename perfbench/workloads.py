"""The benchmark's workloads.

Each workload is a closed loop with one client: the single driver
process sends the next operation only after the previous one returned.
A workload has three phases:

- ``prepare`` builds the inputs from the seed and warms the JVM on the
  same code paths (untimed; it ends the set-up time);
- ``step`` runs one round of timed operations and returns their wall
  times; each output check runs right after its operation, untimed;
- ``finish`` runs end-of-run checks and reports workload figures.

Failed operations and wrong outputs go to ``Context.failures`` by name.
"""

from __future__ import annotations

import os
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import gen
import oracle

from bc_proj3_spark import registry
from bc_proj3_spark.catalog import Catalog
from bc_proj3_spark.io import sources
from bc_proj3_spark.pipeline import runner


@dataclass
class Context:
    spark: object
    seed: int
    tmp: str
    tracer: object | None
    #: operation -> reasons it failed (an exception or a wrong output)
    failures: dict[str, list[str]] = field(default_factory=dict)
    #: wall time of each timed operation, in order
    latencies: list[float] = field(default_factory=list)
    #: name of each timed operation, in the same order
    ops: list[str] = field(default_factory=list)
    #: workload figures for the report: name -> (value, unit)
    figures: dict[str, tuple[float, str]] = field(default_factory=dict)

    def fail(self, op: str, reason: str) -> None:
        self.failures.setdefault(op, []).append(reason)

    def span(self, name: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name)


#: PERFBENCH_TINY=1 shrinks the daily batches for the smoke tests.
TINY = os.environ.get("PERFBENCH_TINY") == "1"


def _error() -> str:
    """Last line of the exception being handled."""
    return traceback.format_exc(limit=3).strip().splitlines()[-1]


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tree_inodes(path: str) -> dict[int, int]:
    """Size of every file under ``path`` keyed by inode, so hardlinked
    files (time-travel snapshots of live files) count once."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            out[st.st_ino] = st.st_size
    return out


def tree_bytes(path: str) -> int:
    return sum(tree_inodes(path).values())


# ---------------------------------------------------------------------------
# daily_pipeline
# ---------------------------------------------------------------------------


class DailyPipeline:
    """Consecutive daily runs of ``pipeline.runner.run_pipeline``.

    Day 0 is the fresh load and doubles as the JVM warm-up, so it is not
    timed. Every seventh day (0, 7, 14, ...) runs with
    ``maintenance=True``."""

    name = "daily_pipeline"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        sizes = dict(n_arxiv=200, n_nyt=100, n_scholar=40) if TINY else {}
        self.feed = gen.LandingFeed(ctx.seed, **sizes)
        self.warehouse = os.path.join(ctx.tmp, "warehouse")
        self.landing = os.path.join(ctx.tmp, "landing")
        self.catalog = Catalog(ctx.spark, self.warehouse)
        self.timed_rows = 0
        self._inodes: dict[int, int] = {}

    def _land(self, batch: gen.DayBatch) -> int:
        """Write the day's landing files through the program's fetchers
        with the seeded payloads injected as transports."""
        epoch = 1_700_000_000 + len(self.feed.days)
        paths = [
            sources.fetch_arxiv(batch.run_date, self.landing, epoch,
                                transport=lambda _d: batch.arxiv),
            sources.fetch_nyt(batch.run_date, self.landing, epoch,
                              transport=lambda _d: batch.nyt),
            sources.fetch_scholar(batch.run_date, self.landing, epoch,
                                  transport=lambda _d: batch.scholar),
        ]
        return sum(os.path.getsize(p) for p in paths)

    def _run_day(self, timed: bool) -> float:
        ctx = self.ctx
        i = len(self.feed.days)
        batch = self.feed.next_day()
        landed = self._land(batch)
        op = f"day{i}:{batch.run_date}"
        t0 = time.perf_counter()
        try:
            with ctx.span("op") as span:
                res = runner.run_pipeline(
                    ctx.spark, self.catalog, self.landing, batch.run_date,
                    fresh=(i == 0), maintenance=(i % 7 == 0),
                )
        except Exception:
            ctx.fail(op, _error())
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        for reason in self._check_day(batch, res):
            ctx.fail(op, reason)
        if timed:
            self.timed_rows += sum(
                res[s].rows for s in ("bronze_arxiv", "bronze_nyt", "bronze_scholar")
            )
            if span is not None:
                self._record_day(span, batch, res, landed)
        return dt

    def _check_day(self, batch: gen.DayBatch, res: dict) -> list[str]:
        """Stage results against what the generator knows (no Spark)."""
        feed = self.feed
        want = {
            "bronze_arxiv": (len(batch.arxiv["feed"]["entry"]), None),
            "bronze_nyt": (len(batch.nyt["docs"]), None),
            "bronze_scholar": (len(batch.scholar["organic_results"]), None),
            "silver_arxiv": (len(batch.arxiv["feed"]["entry"]),
                             {"inserted": batch.arxiv_new, "updated": batch.arxiv_updated}),
            "silver_nyt": (len(batch.nyt["docs"]), {"inserted": batch.nyt_new}),
            "silver_scholar": (len(batch.scholar["organic_results"]),
                               {"inserted": batch.scholar_new}),
            "gold_words": (len(feed.arxiv_versions) + len(feed.nyt_keys)
                           + feed.scholar_rows, None),
        }
        bad = []
        for stage, (rows, metrics) in want.items():
            r = res.get(stage)
            if r is None or r.status != runner.LOADED:
                bad.append(f"{stage} not loaded")
                continue
            if r.rows != rows:
                bad.append(f"{stage} rows {r.rows} != expected {rows}")
            for k, v in (metrics or {}).items():
                if r.metrics.get(k) != v:
                    bad.append(f"{stage} {k} {r.metrics.get(k)} != expected {v}")
        if res.get("gold_scoring") is None or res["gold_scoring"].rows <= 0:
            bad.append("gold_scoring wrote no rows")
        return bad

    def _record_day(self, span, batch: gen.DayBatch, res: dict, landed: int) -> None:
        """Per-day counts for the traced run's ratio metrics."""
        now = tree_inodes(self.warehouse)
        new = {ino: size for ino, size in now.items() if ino not in self._inodes}
        self._inodes = now
        silver_new = sum(res[s].metrics.get("inserted", 0) + res[s].metrics.get("updated", 0)
                         for s in ("silver_arxiv", "silver_nyt", "silver_scholar"))
        gold_rows = res["gold_words"].rows + res["gold_scoring"].rows
        prior = len(self.feed.arxiv_versions) - batch.arxiv_new
        span.attrs.update(
            landed_bytes=landed,
            files_written=len(new),
            bytes_written=sum(new.values()),
            bytes_live=tree_bytes(self.warehouse),
            gold_rows_per_new_row=gold_rows / max(silver_new, 1),
            # the merge reads the silver target plus the batch
            merge_changed_per_read=(batch.arxiv_new + batch.arxiv_updated)
            / (prior + len(batch.arxiv["feed"]["entry"])),
        )

    def prepare(self) -> None:
        self._run_day(timed=False)
        self._inodes = tree_inodes(self.warehouse)

    def step(self) -> list[float]:
        self.ctx.ops.append(f"day{len(self.feed.days)}")
        return [self._run_day(timed=True)]

    def finish(self) -> None:
        ctx, cat, feed = self.ctx, self.catalog, self.feed
        last = feed.days[-1]
        op = f"day{len(feed.days) - 1}:{last.run_date}"
        try:
            got = {r["id"]: r["version"]
                   for r in cat.read("silver", "arxiv").select("id", "version").collect()}
            if got != feed.arxiv_versions:
                diff = len(set(got.items()) ^ set(feed.arxiv_versions.items()))
                ctx.fail(op, f"silver.arxiv: {diff} (id, version) pairs differ from "
                         "the highest generated version per id")
            counts = {
                "silver.nytarchive": (cat.read("silver", "nytarchive").count(), len(feed.nyt_keys)),
                "silver.googlescholar": (cat.read("silver", "googlescholar").count(),
                                         feed.scholar_rows),
                "bronze.arxiv": (cat.read("bronze", "arxiv").count(),
                                 len(last.arxiv["feed"]["entry"])),
                "bronze.nytarchive": (cat.read("bronze", "nytarchive").count(),
                                      len(last.nyt["docs"])),
                "bronze.googlescholar": (cat.read("bronze", "googlescholar").count(),
                                         len(last.scholar["organic_results"])),
            }
        except Exception:
            ctx.fail(op, _error())
            return
        for table, (n, want) in counts.items():
            if n != want:
                ctx.fail(op, f"{table}: {n} rows != expected {want}")
        timed = sum(ctx.latencies)
        ctx.figures["day_s.p50"] = (median(ctx.latencies), "s")
        ctx.figures["landed_rows_per_s"] = (self.timed_rows / timed, "rows/s")
        ctx.figures["storage_bytes_per_landed_byte"] = (
            tree_bytes(self.warehouse) / tree_bytes(self.landing), "ratio")


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


class QueryMix:
    """Rounds of a fixed sample of registry queries. Each query is a
    builder call plus a write to the ``noop`` sink, then (untimed) a
    check against its DuckDB oracle. Each round starts with an empty
    ``SPARK_GRAFT_INDEX_SPILL_DIR``, so artifact owners publish within
    the round as persisted tables would in production."""

    name = "query_mix"
    #: 6,000 lineitem rows: these queries are bound by planning, eager
    #: driver-side jobs and small shuffles, not by data volume, and one
    #: round must fit a run's share of the benchmark's time budget
    sf = 0.001
    #: loads the scan, join and aggregate code before the timed round
    warmup = ("q1_pricing_summary",)

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.tmp, "tables")
        self.specs = registry.all_queries()
        self.oracle: oracle.Oracle | None = None
        self.rounds = 0
        #: artifacts published per round
        self.published: list[int] = []

    def prepare(self) -> None:
        paths = gen.write_tables(self.sf_dir, self.ctx.seed, self.sf)
        self.oracle = oracle.Oracle(paths, os.cpu_count() or 1,
                                    os.path.join(self.ctx.tmp, "duckdb"))
        for name in self.warmup:
            self._run(name, check=False)

    def _run(self, name: str, check: bool) -> float:
        ctx, spec = self.ctx, self.specs[name]
        op = f"{name}#{self.rounds}"
        module = spec.builder.__module__.removeprefix("bc_proj3_spark.")
        t0 = time.perf_counter()
        try:
            with ctx.span("op"):
                with ctx.span(f"{module}.builder"):
                    df = spec.builder(ctx.spark, self.sf_dir)
                with ctx.span(f"{module}.run"):
                    # cached by the timed write, so the check below reads
                    # the very rows it produced instead of re-running
                    df = df.persist()
                    df.write.format("noop").mode("overwrite").save()
        except Exception:
            df, reason = None, _error()
        dt = time.perf_counter() - t0
        if check and df is not None:
            try:
                reason = self.oracle.check(df, spec.oracle)
            except Exception:
                reason = _error()
        if df is None or (check and reason):
            ctx.fail(op, reason)
        # cached sub-results must not carry over into the next query
        ctx.spark.catalog.clearCache()
        return dt

    def step(self) -> list[float]:
        spill = os.path.join(self.ctx.tmp, "spill", f"round{self.rounds}")
        os.makedirs(spill)
        os.environ["SPARK_GRAFT_INDEX_SPILL_DIR"] = spill
        self.ctx.ops += QUERIES
        lat = [self._run(name, check=True) for name in QUERIES]
        self.published.append(sum(
            os.path.exists(os.path.join(spill, d, "_SUCCESS")) for d in os.listdir(spill)))
        self.rounds += 1
        return lat

    def finish(self) -> None:
        ctx = self.ctx
        ctx.figures["query_s.p50"] = (median(ctx.latencies), "s")
        ctx.figures["queries_per_s"] = (len(ctx.latencies) / sum(ctx.latencies), "1/s")
        self.oracle.close()


#: The fixed query sample: for each builder module with its own layer
#: metric, the query at the lower quartile of the module's builder+noop
#: times, measured at sf0.01 on a 4-core host, so each module is
#: represented by a light but not trivial query. The seed generates
#: the tables, not the sample or its order: with query times that differ
#: tenfold, a seeded sample of this size moves the median query time by
#: 12-30 % from seed to seed on its own, and a seeded order moves the
#: JVM's first-use costs (class loading, code generation, Python worker
#: start) from query to query.
QUERIES = (
    # TPC-H and events pool (174 queries)
    "w2_spend_deciles",              # plans.tpch
    "e2_sessionization",             # plans.events
    "a2_value_percentiles",          # plans.aggfuncs
    "sql3_exists_decorrelation",     # plans.sqlapi
    "sv3_struct_audit",              # plans.silverops
    "st10_stream_sliding_windows",   # streaming.incremental
    "g4_rich_club",                  # operators.graph
    "bmp2_bitmap_distinct_rollup",   # operators.sketch
    "dq8_l_diversity",               # operators.quality
    "cdc2_scd2_history",             # operators.cdc
    "prof4_column_entropy",          # operators.profile
    # documents and embeddings pool (145 queries)
    "d3_jaccard_pairs",              # operators.dedup; publishes the shingle index
    "s10_pq_codes",                  # operators.similarity
    "t3_token_histogram",            # operators.textstats
)

WORKLOADS = {w.name: w for w in (DailyPipeline, QueryMix)}


def make(name: str, ctx: Context):
    return WORKLOADS[name](ctx)
