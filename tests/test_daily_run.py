"""The daily run: the one silver loader, the schema-carrying catalog,
gold scoring and the day's Spark job budget.

- a daily run launches exactly its Spark job budget (the jobs of its
  concurrent chains carry the caller's job group), and reading a table
  (its schema is recorded in its log entry) launches no job, whether
  the entry names a few files, more than Spark's listing-job threshold,
  or none; nor does a merge that is not asked for a partition plan;
- a failure while the log entry is written leaves the previous table
  readable, with its old rows and schema;
- the checks are kept: a projection that drops a row raises before
  anything is written, and an append whose schema differs from the
  recorded one raises;
- re-running a day whose Scholar silver commit crashed gives the same
  silver tables and watermarks as a clean run;
- the gold text cleaning equals the reference regex chain, the stopword
  removal (array_except) equals the per-token filter it replaced, and
  gold scoring keeps exactly the rows a Filter keeps, dropping an
  article with no scorable word instead of failing.
"""

from __future__ import annotations

import dataclasses
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bc_proj3_spark import catalog as catalog_module
from bc_proj3_spark.catalog import Catalog
from bc_proj3_spark.io import sources
from bc_proj3_spark.operators import incremental as inc
from bc_proj3_spark.pipeline import bronze as bz
from bc_proj3_spark.pipeline import gold, run_pipeline
from bc_proj3_spark.pipeline import silver as sv

RUN1, RUN2 = "20230401", "20230402"

#: Spark jobs of one incremental day on the fetch_all fixtures: bronze 6
#: (a JSON scan and a write per source), silver 11 (arXiv 5, NYT 3,
#: Scholar 3; the watermarks commit in the silver writes' log entries),
#: gold 4 (one write per table). The count repeats exactly; fewer means
#: jobs escaped the caller's job group.
DAY_JOB_BUDGET = 21

SILVER = ("arxiv", "nytarchive", "googlescholar")


def _jobs(spark, fn):
    """(result of ``fn()``, Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    """Row multiset without the load_ts audit column (non-deterministic)."""
    return sorted(map(tuple, df.drop("load_ts").collect()), key=repr)


@pytest.fixture()
def landing(tmp_path):
    path = str(tmp_path / "landing")
    sources.fetch_all(RUN1, path, epoch=1000)
    sources.fetch_all(RUN2, path, epoch=2000)
    return path


def test_incremental_day_stays_inside_job_budget(spark, tmp_path, landing):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, catalog, landing, RUN1)
    res, jobs = _jobs(spark, lambda: run_pipeline(spark, catalog, landing, RUN2))
    assert all(r.status == "LOADED" for r in res.values()), res
    assert jobs == DAY_JOB_BUDGET, f"{jobs} Spark jobs, budget {DAY_JOB_BUDGET}"


def test_read_with_recorded_schema_launches_no_job(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [("a", 1, "2023-04-01"), ("b", 2, "2023-04-02")], ["id", "n", "day"]
    ).withColumn("day", F.to_date("day"))
    catalog.overwrite("silver", "t", df, partition_by=["day"])
    (entry,) = catalog.history("silver", "t")
    assert StructType.fromJson(entry["schema"]).simpleString() == (
        "struct<id:string,n:bigint,day:date>"
    )
    assert [p.name for p in catalog.path("silver", "t").parent.iterdir()] == ["t"]

    back, jobs = _jobs(spark, lambda: catalog.read("silver", "t"))
    assert jobs == 0
    assert back.schema.simpleString() == "struct<id:string,n:bigint,day:date>"
    want = sorted(map(tuple, df.collect()))
    assert sorted(map(tuple, back.collect())) == want

    # 40 partitions of one file each: past the 32 paths above which
    # Spark lists a file list with a job
    wide = spark.range(80).selectExpr("id", "id % 40 AS p")
    catalog.overwrite("silver", "wide", wide.repartition(40, "p"), partition_by=["p"])
    assert len(catalog.history("silver", "wide")[0]["files"]) == 40
    back, jobs = _jobs(spark, lambda: catalog.read("silver", "wide"))
    assert jobs == 0
    assert sorted(r["id"] for r in back.collect()) == list(range(80))

    # a commit of no rows is a table, read as an empty frame without a job
    catalog.overwrite("silver", "empty", df.filter("n < 0"), partition_by=["day"])
    assert catalog.exists("silver", "empty")
    back, jobs = _jobs(spark, lambda: catalog.read("silver", "empty"))
    assert jobs == 0
    assert back.schema.simpleString() == "struct<id:string,n:bigint,day:date>"
    assert back.collect() == []


def test_failure_while_recording_schema_keeps_previous_table(spark, tmp_path, monkeypatch):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    old = spark.createDataFrame([("a", 1), ("b", 2)], ["id", "n"])
    catalog.overwrite("silver", "t", old)
    new = spark.createDataFrame([("c", 3, "x")], ["id", "n", "note"])

    def fail(self, *args, **kwargs):
        raise OSError("injected failure while recording the schema")

    monkeypatch.setattr(Path, "write_text", fail)
    with pytest.raises(OSError, match="injected failure"):
        catalog.overwrite("silver", "t", new)
    monkeypatch.undo()

    back = catalog.read("silver", "t")
    assert back.schema.simpleString() == "struct<id:string,n:bigint>"
    assert sorted(map(tuple, back.collect())) == [("a", 1), ("b", 2)]
    assert catalog.list_tables("silver") == ["t"]
    assert [p.name for p in catalog.path("silver", "t").parent.iterdir()] == ["t"]


def test_append_to_a_missing_table_raises(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    with pytest.raises(FileNotFoundError, match="silver.t"):
        catalog.append("silver", "t", spark.createDataFrame([("a", 1)], ["id", "n"]))
    assert not catalog.path("silver", "t").exists()


def test_merge_without_partition_plan_launches_no_job(spark):
    tgt = spark.createDataFrame([("a", 1), ("b", 1)], ["id", "version"])
    src = spark.createDataFrame([("b", 2), ("c", 1)], ["id", "version"])
    res, jobs = _jobs(
        spark,
        lambda: inc.merge_upsert(tgt, src, key="id", update_when=F.expr("src.version > tgt.version")),
    )
    assert jobs == 0
    assert (res.inserted, res.updated, res.touched_partitions) == (-1, -1, None)
    assert sorted(map(tuple, res.df.collect())) == [("a", 1), ("b", 2), ("c", 1)]
    res.cleanup()


def test_append_with_a_different_schema_raises(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    catalog.overwrite("silver", "t", spark.createDataFrame([("a", 1)], ["id", "n"]))
    extra = spark.createDataFrame([("b", 2, "x")], ["id", "n", "note"])
    with pytest.raises(ValueError, match="note"):
        catalog.append("silver", "t", extra)
    retyped = spark.createDataFrame([("b", "2")], ["id", "n"])
    with pytest.raises(ValueError, match=r"n \(table bigint, frame string\)"):
        catalog.append("silver", "t", retyped)
    # nothing was written; a matching frame appends and reports its rows
    assert catalog.read("silver", "t").count() == 1
    assert catalog.append("silver", "t", spark.createDataFrame([("c", 3)], ["id", "n"])) == 1
    assert sorted(r["id"] for r in catalog.read("silver", "t").collect()) == ["a", "c"]


@pytest.mark.parametrize(
    "spec, bronze_fn, key",
    [(sv.SCHOLAR, bz.bronze_scholar, "result_id"), (sv.ARXIV, bz.bronze_arxiv, "id")],
    ids=["append", "merge"],
)
def test_row_loss_raises_before_writing_and_keeps_watermark(
    spark, tmp_path, spec, bronze_fn, key
):
    landing = str(tmp_path / "landing")
    sources.fetch_all(RUN1, landing, epoch=1000)
    day2 = sources.fetch_all(RUN2, landing, epoch=2000)
    catalog = Catalog(spark, str(tmp_path / "wh"))
    run_pipeline(spark, catalog, landing, RUN1)
    table = spec.table
    wm_before = inc.resolve_watermark(catalog, table)
    rows_before = _rows(catalog.read("silver", table))

    bronze_fn(spark, catalog, day2[table], RUN2)
    first = catalog.read("bronze", table).first()[key]
    lossy = dataclasses.replace(
        spec, project=lambda b: spec.project(b.filter(b[key] != first))
    )
    with pytest.raises(inc.ValidationError, match="rows lost"):
        sv.load(spark, catalog, lossy)
    assert inc.resolve_watermark(catalog, table) == wm_before
    assert _rows(catalog.read("silver", table)) == rows_before


def test_scholar_rerun_after_watermark_crash_equals_clean_run(
    spark, tmp_path, landing, monkeypatch
):
    clean = Catalog(spark, str(tmp_path / "clean"))
    run_pipeline(spark, clean, landing, RUN1)
    run_pipeline(spark, clean, landing, RUN2)

    catalog = Catalog(spark, str(tmp_path / "crashed"))
    run_pipeline(spark, catalog, landing, RUN1)
    publish = catalog_module._publish

    def crash_on_scholar_commit(entry, log_file):
        # the Scholar silver commit carries the rows and the watermark
        if log_file.parts[-4:-2] == ("silver", "googlescholar"):
            raise RuntimeError("injected crash at the Scholar silver commit")
        publish(entry, log_file)

    monkeypatch.setattr(catalog_module, "_publish", crash_on_scholar_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, catalog, landing, RUN2)
    monkeypatch.undo()
    run_pipeline(spark, catalog, landing, RUN2)

    for t in SILVER:
        assert _rows(catalog.read("silver", t)) == _rows(clean.read("silver", t)), t
    for t in ("arxiv", "googlescholar"):
        assert inc.resolve_watermark(catalog, t) == inc.resolve_watermark(clean, t), t
    ggl = catalog.read("silver", "googlescholar")
    assert ggl.select("ggl_sk").distinct().count() == ggl.count()


def test_stopword_array_except_equals_per_token_filter(spark):
    texts = [
        ("Batteries battery and the batteries of THE solar solar cells",),
        ("the a an of to in is it",),
        ("clean energy, clean energy! https://x.org/y renewable renewables",),
        ("RT lithium ion ions ion lithium-ion glasses glass",),
        ("",),
        (None,),
    ]
    df = spark.createDataFrame(texts, "words string")
    stop = F.array(*[F.lit(s) for s in gold._stopwords()])
    tokens = F.split(gold.clean_text(F.col("words")), r"\s+")
    old = F.array_distinct(
        gold.lemmatize(F.filter(tokens, lambda t: ~F.array_contains(stop, t)))
    )
    got = df.select(old.alias("old"), gold.unique_lemmas(F.col("words")).alias("new"))
    rows = got.collect()
    assert all(r["old"] == r["new"] for r in rows), rows
    assert rows[0]["new"] == ["battery", "solar", "cell"]


def test_clean_text_equals_the_reference_chain(spark):
    texts = [
        ("RT Solar-PV: 42% (cheaper)! see https://x.org/a?b=1 now",),
        ("Caf\u00e9 na\u00efve \u00dfeta \u0663\u0664 \u00b2 \u2163 \u212a \u0130 end",),
        ("tabs\tand\nnewlines\r\x0b\x0c_under_score [brackets] {braces}",),
        ("rt rt http://a.b/c https://d.e ftp://f.g \u00a0nbsp\u2003em",),
        ("",),
        (None,),
    ]
    df = spark.createDataFrame(texts, "words string")
    c = F.lower(F.col("words"))
    c = F.regexp_replace(c, r"^rt ", "")
    c = F.regexp_replace(c, r"(https?://)\S+", "")
    ref = F.regexp_replace(c, r"[^a-zA-Z0-9\s]", "")
    rows = df.select(ref.alias("ref"), gold.clean_text(F.col("words")).alias("got")).collect()
    assert all(r["ref"] == r["got"] for r in rows), rows
    assert rows[0]["got"] == "solarpv 42 cheaper see  now"


def test_gold_scoring_keeps_the_rows_a_filter_keeps(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    # every text keeps a token (an all-stopword text divides by zero
    # words in the Filter plan compared against)
    texts = {
        "nyt": ["solar batteries and clean energy", "nothing to see here"],
        "ggl": ["lithium ion battery technology", "the cats of the hills"],
        "arx": ["photovoltaic photovoltaic innovation", "a quiet day"],
    }
    for (table, _sk, _cols, _date), src in zip(gold._WORD_SOURCES.values(), texts):
        rows = [(src, f"{src}{i}", t, None) for i, t in enumerate(texts[src])]
        df = spark.createDataFrame(
            rows, "source string, source_sk string, words string, publish_dt date"
        )
        catalog.overwrite("gold", f"{table}_words", df)
    gold.gold_scoring(spark, catalog)
    got = sorted(map(tuple, catalog.read("gold", "scored_articles").collect()), key=repr)

    want = (
        gold.combined_pre_nlp(spark, catalog)
        .withColumn("vector_unique", gold.unique_lemmas(F.col("words")))
        .withColumn("article_raw_score", gold.score_tokens(F.col("vector_unique")))
        .withColumn("unique_words", F.size("vector_unique"))
        .withColumn(
            "article_score",
            F.lit(1.0) * F.col("article_raw_score") / F.col("unique_words"),
        )
        .filter(F.col("article_score") > 0)
        .select(*catalog.read("gold", "scored_articles").columns)
    )
    assert got == sorted(map(tuple, want.collect()), key=repr)
    assert {r[1] for r in got} == {"nyt0", "ggl0", "arx0"}


def test_gold_scoring_drops_articles_without_scorable_words(spark, tmp_path):
    catalog = Catalog(spark, str(tmp_path / "wh"))
    # empty, NULL and stopword-only texts have no word left to divide
    # by; they are dropped like any article scoring 0, next to one that
    # scores
    texts = {
        "nyt": ["", "the and of"],
        "ggl": [None, "solar battery technology"],
        "arx": ["to be or not to be"],
    }
    for (table, _sk, _cols, _date), src in zip(gold._WORD_SOURCES.values(), texts):
        rows = [(src, f"{src}{i}", t, None) for i, t in enumerate(texts[src])]
        df = spark.createDataFrame(
            rows, "source string, source_sk string, words string, publish_dt date"
        )
        catalog.overwrite("gold", f"{table}_words", df)
    assert gold.gold_scoring(spark, catalog) == 1
    (row,) = catalog.read("gold", "scored_articles").collect()
    assert (row["source_sk"], row["unique_words"]) == ("ggl1", 3)
    assert row["article_score"] == row["article_raw_score"] / 3
