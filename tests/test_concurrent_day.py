"""The day's three source chains run side by side, then fan in.

- three days through ``run_pipeline`` (arXiv version bumps, an NYT batch
  that repeats the day before, a day whose Scholar landing file is
  missing) give the same tables and stage results as the stage
  functions called one after another;
- a chain that fails is raised after the other chains have finished,
  gold does not run, the failing table and its watermark keep their
  rows, and no pool thread outlives the call;
- the stages record when they started and how long they took: the
  three bronze stages overlap, each silver stage starts after its
  bronze, and gold starts after every silver;
- the NYT bronze reads case-sensitively without changing the shared
  session's conf, and keeps its columns and rows;
- ``run_concurrently`` raises the first failure in task order (noting
  the later ones), and a local property one task sets is not seen by
  the others.
"""

from __future__ import annotations

import dataclasses
import functools
import os
import threading

import pytest
from pyspark.errors import AnalysisException

from bc_proj3_spark.catalog import LAYERS, Catalog
from bc_proj3_spark.io import landing as landing_io
from bc_proj3_spark.io import sources
from bc_proj3_spark.operators import incremental as inc
from bc_proj3_spark.pipeline import gold, run_pipeline, runner
from bc_proj3_spark.pipeline import silver as sv
from bc_proj3_spark.pipeline.runner import LOADED, SKIPPED, StageResult

RUN1, RUN2, RUN3 = "20230401", "20230402", "20230403"

CASE = "spark.sql.caseSensitive"

#: a stage's start is wall-clock time and its length a perf_counter
#: interval; allow for the two clocks drifting apart within a day
CLOCK_SLACK_S = 0.005


def _rows(df):
    """Row multiset without the load_ts audit column (non-deterministic)."""
    return sorted(map(tuple, df.drop("load_ts").collect()), key=repr)


def _tables(catalog: Catalog) -> dict:
    return {
        (layer, t): _rows(catalog.read(layer, t))
        for layer in LAYERS
        for t in catalog.list_tables(layer)
    }


@pytest.fixture()
def three_days(tmp_path):
    """Day 1 and day 2 from the fixture transports (day 2 bumps arXiv
    versions); day 3 repeats day 2's NYT articles and has no Scholar
    file."""
    path = str(tmp_path / "landing")
    sources.fetch_all(RUN1, path, epoch=1000)
    sources.fetch_all(RUN2, path, epoch=2000)
    sources.fetch_arxiv(RUN3, path, epoch=3000)
    sources.fetch_nyt(RUN3, path, epoch=3000, transport=lambda _d: sources.nyt_transport(RUN2))
    return path


def _sequential_day(spark, catalog, landing, run_date, fresh):
    """The day's stages called one after another: each bronze, each
    silver, then gold (its words tables one by one too)."""
    res = {}
    for name, subdir, sep, fn in runner._BRONZE:
        try:
            batch = landing_io.select_batch_file(run_date, os.path.join(landing, subdir), sep)
        except landing_io.NoFilesForRunDate:
            res[name] = StageResult(name, SKIPPED)
            continue
        res[name] = StageResult(name, LOADED, rows=fn(spark, catalog, batch, run_date))
    for name, table, fn in runner._SILVER:
        if not catalog.exists("bronze", table):
            res[name] = StageResult(name, SKIPPED)
            continue
        metrics = fn(spark, catalog, fresh=fresh)
        res[name] = StageResult(name, LOADED, rows=metrics.pop("rows"), metrics=metrics)
    counts = gold.gold_words(spark, catalog, fresh=fresh)
    res["gold_words"] = StageResult("gold_words", LOADED, sum(counts.values()), counts)
    res["gold_scoring"] = StageResult("gold_scoring", LOADED, gold.gold_scoring(spark, catalog))
    return res


def test_concurrent_days_equal_the_stages_run_one_by_one(
    spark, tmp_path, three_days, monkeypatch
):
    ran = Catalog(spark, str(tmp_path / "concurrent"))
    ref = Catalog(spark, str(tmp_path / "sequential"))
    for i, day in enumerate((RUN1, RUN2, RUN3)):
        got = run_pipeline(spark, ran, three_days, day, fresh=(i == 0))
        with monkeypatch.context() as m:
            m.setattr(gold, "run_concurrently", lambda _spark, tasks: [t() for t in tasks])
            want = _sequential_day(spark, ref, three_days, day, fresh=(i == 0))
        assert list(got) == list(want), day
        assert got == want, day  # status, rows and metrics
        assert _tables(ran) == _tables(ref), day

    # the days exercised what they were built for
    assert got["bronze_scholar"].status == SKIPPED
    assert got["silver_scholar"] == StageResult(
        "silver_scholar", LOADED, 4, {"inserted": 0, "updated": 0}
    )
    assert got["silver_nyt"].metrics["inserted"] == 0  # day 2's articles again
    tables = _tables(ran)
    assert ("silver", inc.watermark_name("arxiv")) in tables
    assert ("silver", inc.watermark_name("googlescholar")) in tables
    assert ("gold", "scored_articles") in tables


def test_a_failing_chain_raises_after_the_others_finish(spark, tmp_path, monkeypatch):
    landing = str(tmp_path / "landing")
    sources.fetch_all(RUN1, landing, epoch=1000)
    sources.fetch_all(RUN2, landing, epoch=2000)
    catalog = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, catalog, landing, RUN1)
    before = _tables(catalog)

    # arXiv's projection drops a row of day 2's batch: its silver load
    # raises ValidationError before writing
    dropped = sources.arxiv_transport(RUN2)["feed"]["entry"][0]["id"]
    lossy = dataclasses.replace(
        sv.ARXIV, project=lambda b: sv.ARXIV.project(b.filter(b["id"] != dropped))
    )
    name, table, _fn = runner._SILVER[0]
    monkeypatch.setattr(
        runner, "_SILVER", ((name, table, functools.partial(sv.load, spec=lossy)),)
        + runner._SILVER[1:],
    )
    gold_calls = []
    monkeypatch.setattr(gold, "gold_words", lambda *a, **k: gold_calls.append(a))

    with pytest.raises(inc.ValidationError, match="rows lost"):
        run_pipeline(spark, catalog, landing, RUN2)

    after = _tables(catalog)
    assert gold_calls == []
    for key in (("silver", "arxiv"), ("silver", inc.watermark_name("arxiv"))):
        assert after[key] == before[key], key
    for layer, t in before:
        if layer == "gold":
            assert after[(layer, t)] == before[(layer, t)], t
    # the NYT and Scholar chains ran to their end
    assert len(after[("silver", "nytarchive")]) == 10
    assert len(after[("silver", "googlescholar")]) > len(before[("silver", "googlescholar")])
    assert after[("bronze", "arxiv")] != before[("bronze", "arxiv")]
    assert not [t.name for t in threading.enumerate() if t.name.startswith("spark-task")]


def test_stage_wall_times_show_the_fan_out_and_fan_in(spark, tmp_path):
    landing = str(tmp_path / "landing")
    sources.fetch_all(RUN1, landing, epoch=1000)
    res = run_pipeline(spark, Catalog(spark, str(tmp_path / "wh")), landing, RUN1)
    assert all(r.status == LOADED and r.started > 0 and r.seconds > 0 for r in res.values())

    def end(r):
        return r.started + r.seconds

    bronze = [res[n] for n, *_ in runner._BRONZE]
    silver = [res[n] for n, *_ in runner._SILVER]
    # every bronze stage starts before any of them ends
    assert max(r.started for r in bronze) < min(end(r) for r in bronze)
    for b, s in zip(bronze, silver):
        assert s.started >= end(b) - CLOCK_SLACK_S, (b, s)
    assert res["gold_words"].started >= max(end(s) for s in silver) - CLOCK_SLACK_S
    assert res["gold_scoring"].started >= end(res["gold_words"]) - CLOCK_SLACK_S


def test_nyt_bronze_reads_case_sensitively_without_touching_the_shared_conf(
    spark, tmp_path, monkeypatch
):
    landing = str(tmp_path / "landing")
    files = sources.fetch_all(RUN1, landing, epoch=1000)
    shared = spark.conf.get(CASE)
    assert shared == "false"
    # the landing file's multimedia holds both url and Url: the shared
    # session cannot resolve it, the NYT bronze must
    with pytest.raises(AnalysisException, match="COLUMN_ALREADY_EXISTS"):
        spark.read.json(files["nytarchive"]).select("_airbyte_data.*").columns

    seen = []
    overwrite = Catalog.overwrite

    def spy(self, layer, name, df, partition_by=None):
        seen.append((name, spark.conf.get(CASE)))
        return overwrite(self, layer, name, df, partition_by)

    monkeypatch.setattr(Catalog, "overwrite", spy)
    catalog = Catalog(spark, str(tmp_path / "wh"))
    res = run_pipeline(spark, catalog, landing, RUN1)
    monkeypatch.undo()

    assert res["bronze_nyt"] == StageResult("bronze_nyt", LOADED, 5)
    assert "nytarchive" in {n for n, _ in seen}
    assert {v for _, v in seen} == {shared}  # during every write of the day
    assert spark.conf.get(CASE) == shared  # and after

    nyt = catalog.read("bronze", "nytarchive")
    assert nyt.columns == [
        "_id", "abstract", "lead_paragraph", "pub_date", "snippet",
        "source_file_name", "run_date", "load_ts",
    ]
    file_name = os.path.basename(files["nytarchive"]).split(".jsonl")[0]
    want = sorted(
        (d["_id"], d["abstract"], d["lead_paragraph"], d["pub_date"], d["snippet"],
         file_name, RUN1)
        for d in sources.nyt_transport(RUN1)["docs"]
    )
    assert _rows(nyt) == want


def test_run_concurrently_raises_the_first_failure_in_task_order(spark):
    from bc_proj3_spark.session import run_concurrently

    finished = threading.Event()

    def late_failure():
        finished.wait(30)
        raise KeyError("first task")

    def early_failure():
        raise ValueError("second task")

    def slow_success():
        threading.Event().wait(0.2)
        finished.set()
        return "done"

    with pytest.raises(KeyError, match="first task") as raised:
        run_concurrently(spark, [late_failure, early_failure, slow_success])
    assert finished.is_set()
    assert raised.value.__notes__ == [
        "a concurrent task also failed: ValueError('second task')"
    ]
    assert run_concurrently(spark, [lambda: 1, lambda: 2]) == [1, 2]


def test_run_concurrently_gives_each_task_its_own_local_properties(spark):
    from bc_proj3_spark.session import run_concurrently

    sc, key = spark.sparkContext, "test.concurrent.owner"
    both_set = threading.Barrier(2)

    def task(owner):
        def run():
            sc.setLocalProperty(key, owner)
            both_set.wait(30)
            return sc.getLocalProperty(key)

        return run

    sc.setLocalProperty(key, "caller")
    try:
        assert run_concurrently(spark, [task("a"), task("b")]) == ["a", "b"]
        assert run_concurrently(spark, [lambda: sc.getLocalProperty(key)]) == ["caller"]
        assert sc.getLocalProperty(key) == "caller"
    finally:
        sc.setLocalProperty(key, None)
