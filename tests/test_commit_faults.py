"""A failure at any step of a table write, then a re-run of the day,
gives the tables of a clean run.

Every catalog write goes through four steps: the staging write, the
move of each staged file into the table, the log commit, and the
deletion of the files the commit replaced. Each test raises once at one
step, for every write of one stage of an incremental day (arXiv version
bumps, an NYT batch that repeats the day before, a Scholar append),
re-runs the day, and compares every bronze, silver and gold table
(rows without ``load_ts``) and each watermark with a clean run. The
three writes of a stage run on their own threads and do not depend on
each other, so one run faults all three.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from bc_proj3_spark import catalog as catalog_module
from bc_proj3_spark.catalog import LAYERS, Catalog
from bc_proj3_spark.io import sources
from bc_proj3_spark.operators import incremental as inc
from bc_proj3_spark.pipeline import run_pipeline

RUN1, RUN2 = "20230401", "20230402"

#: the day's writes, one stage at a time
STAGES = {
    "bronze": [("bronze", t) for t in ("arxiv", "nytarchive", "googlescholar")],
    "silver": [("silver", t) for t in ("arxiv", "nytarchive", "googlescholar")],
    "gold_words": [
        ("gold", f"{t}_words") for t in ("arxiv", "nytarchive", "googlescholar")
    ],
    "gold_scoring": [("gold", "scored_articles")],
}


def _table(path: Path) -> tuple[str, str]:
    """(layer, table directory name) of a path inside a table directory."""
    while path.parent.name not in LAYERS:
        path = path.parent
    return path.parent.name, path.name


def _staged_table(path: str) -> tuple[str, str]:
    """(layer, table) of a ``<layer>/tmp-<table>-<id>`` staging dir."""
    layer, staging = _table(Path(path) / "part")
    return layer, staging.removeprefix("tmp-").rsplit("-", 1)[0]


#: step -> (catalog function it patches, the (layer, table) of a call)
STEPS = {
    "staging_write": ("_write_counted", lambda _df, path, _pby: _staged_table(path)),
    "file_move": ("_move", lambda _src, dst: _table(dst)),
    "log_commit": ("_publish", lambda _entry, log_file: _table(log_file)),
    "post_commit_delete": ("_delete", lambda table, _files: _table(table / "part")),
}


class InjectedFault(RuntimeError):
    pass


def _state(catalog: Catalog) -> dict:
    """Every table's rows without load_ts, and the silver watermarks."""
    out = {
        (layer, t): sorted(map(tuple, catalog.read(layer, t).drop("load_ts").collect()), key=repr)
        for layer in LAYERS
        for t in catalog.list_tables(layer)
    }
    for t in ("arxiv", "googlescholar"):
        out[("watermark", t)] = inc.resolve_watermark(catalog, t)
    return out


@pytest.fixture(scope="module")
def day(spark, tmp_path_factory):
    """(landing dir, warehouse after day 1, the clean run's state after day 2)."""
    base = tmp_path_factory.mktemp("commit_faults")
    landing = str(base / "landing")
    sources.fetch_all(RUN1, landing, epoch=1000)
    sources.fetch_arxiv(RUN2, landing, epoch=2000)  # version bumps
    sources.fetch_nyt(RUN2, landing, epoch=2000, transport=lambda _d: sources.nyt_transport(RUN1))
    sources.fetch_scholar(RUN2, landing, epoch=2000)
    day1 = Catalog(spark, str(base / "day1"))
    run_pipeline(spark, day1, landing, RUN1)
    clean = Catalog(spark, str(base / "clean"))
    shutil.copytree(day1.warehouse, clean.warehouse)
    res = run_pipeline(spark, clean, landing, RUN2)
    # the day exercises what it was built for
    assert res["silver_arxiv"].metrics["updated"] > 0
    assert res["silver_nyt"].metrics["inserted"] == 0
    assert res["silver_scholar"].metrics["inserted"] > 0
    return landing, day1.warehouse, _state(clean)


@pytest.mark.parametrize("step", STEPS)
def test_rerun_after_a_fault_equals_a_clean_run(spark, tmp_path, monkeypatch, day, step):
    landing, day1, clean = day
    fn_name, table_of = STEPS[step]
    real = getattr(catalog_module, fn_name)

    for stage, targets in STAGES.items():
        # day 2 starts from day 1's tables: a re-run of a finished day 2
        # would find nothing to write in silver
        catalog = Catalog(spark, str(tmp_path / stage))
        shutil.copytree(day1, catalog.warehouse)
        fired: set[tuple[str, str]] = set()

        def faulty(*args, targets=targets, fired=fired):
            table = table_of(*args)
            if table in targets and table not in fired:
                fired.add(table)
                raise InjectedFault(f"{step} of {table}")
            return real(*args)

        with monkeypatch.context() as m:
            m.setattr(catalog_module, fn_name, faulty)
            with pytest.raises(InjectedFault):
                run_pipeline(spark, catalog, landing, RUN2)
        # the NYT repeat inserts nothing: its write stages no file and
        # commits nothing
        skipped = set() if step == "staging_write" else {("silver", "nytarchive")}
        assert fired == set(targets) - skipped, (stage, fired)

        run_pipeline(spark, catalog, landing, RUN2)
        assert _state(catalog) == clean, (step, stage)

        # what the failed write left is garbage that vacuum removes:
        # then every table holds exactly the files its newest entry names
        for layer in LAYERS:
            catalog.vacuum(layer, max_age_seconds=0.0)
            for t in catalog.list_tables(layer):
                table = catalog.path(layer, t)
                on_disk = {
                    str(f.relative_to(table)) for f in table.rglob("*")
                    if f.is_file() and f.relative_to(table).parts[0] != "_log"
                }
                assert on_disk == set(catalog.history(layer, t)[0]["files"]), (layer, t)
