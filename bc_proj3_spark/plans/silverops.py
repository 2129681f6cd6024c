"""Silver-layer scalar shapes as oracle-checked queries.

The reference's silver notebooks are typed-projection pipelines built
from a small set of scalar shapes: split-parse of ids, substring date
slicing, sha2 surrogate keys, "N days ago" parsing with
coalesce/date-arithmetic fallback, and struct field access
(SURVEY.md §2.8 F3-F10/F17, §2.10 U1). Each query here exercises one
family natively — no Python UDFs — against the TPC-H-ish testdata
(inputs are constructed in-query where the testdata lacks the source
shape, e.g. scholar snippets; construction is replicated verbatim in
the oracle so the parse logic is what's verified).

Scale: all three queries are pure scan-side projections (zero
shuffles) — they codegen into the scan stage at any data size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bc_proj3_spark.pipeline.silver import _DAYS_AGO_RE, days_ago
from bc_proj3_spark.plans.tables import table
from bc_proj3_spark.registry import register

RUN_DATE = "1998-06-01"  # the run_date widget of the reference, as a param


# ---------------------------------------------------------------------------
# sv1 — scholar publish-date derivation: days_ago → date_sub → coalesce
# ---------------------------------------------------------------------------

_SV1_SNIPPET_SQL = """
CASE CAST(doc_id % 3 AS INTEGER)
  WHEN 0 THEN CAST(doc_id % 30 AS VARCHAR) || ' days ago - ' || text
  WHEN 1 THEN '1 day ago ' || text
  ELSE text
END
"""

_SV1_ORACLE = f"""
WITH src AS (SELECT doc_id, {_SV1_SNIPPET_SQL} AS snippet FROM documents)
SELECT
  doc_id,
  CASE WHEN regexp_matches(snippet, '{_DAYS_AGO_RE}')
       THEN CAST(regexp_extract(snippet, '{_DAYS_AGO_RE}', 1) AS INTEGER)
  END AS days_ago,
  COALESCE(
    DATE '{RUN_DATE}' - CASE WHEN regexp_matches(snippet, '{_DAYS_AGO_RE}')
         THEN CAST(regexp_extract(snippet, '{_DAYS_AGO_RE}', 1) AS INTEGER) END,
    DATE '{RUN_DATE}') AS publish_dt
FROM src
"""


@register("sv1_scholar_date_derivation", _SV1_ORACLE)
def sv1_scholar_date_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native rewrite of the reference's ``days_ago`` Python UDF
    (silver_google_scholar.py:107-117) and its publish-date fallback
    (:141): regexp-extract the day count when the snippet matches,
    else null; publish_dt = coalesce(run_date - days, run_date).

    The rewrite also fixes the UDF's latent bugs (SURVEY.md §7.4.1):
    the always-truthy ``'day ago' or ...`` condition and the
    ``int('')`` crash on digit-less snippets both become a clean null →
    run_date fallback. Snippets are constructed in-query (the testdata
    has no scholar feed); the identical construction lives in the
    oracle, so the parse is what is being verified. The parse is the
    silver pipeline's own :func:`~bc_proj3_spark.pipeline.silver.days_ago`
    and regex, so the oracle checks the code the daily run executes."""
    docs = table(spark, sf_dir, "documents")
    snippet = (
        F.when(
            (F.col("doc_id") % 3).cast("int") == 0,
            F.concat(
                (F.col("doc_id") % 30).cast("string"),
                F.lit(" days ago - "),
                F.col("text"),
            ),
        )
        .when(
            (F.col("doc_id") % 3).cast("int") == 1,
            F.concat(F.lit("1 day ago "), F.col("text")),
        )
        .otherwise(F.col("text"))
    )
    days = days_ago(snippet)
    run_date = F.lit(RUN_DATE).cast("date")
    return docs.select(
        "doc_id",
        days.alias("days_ago"),
        F.coalesce(F.date_sub(run_date, days), run_date).alias("publish_dt"),
    )


# ---------------------------------------------------------------------------
# sv2 — arxiv-style id/version parse + surrogate key
# ---------------------------------------------------------------------------

_SV2_ORACLE = f"""
WITH src AS (
  SELECT o_orderkey,
         'https://example.org/abs/' || CAST(o_orderkey AS VARCHAR)
           || 'v' || CAST(1 + o_orderkey % 7 AS VARCHAR) AS id_url,
         CAST(o_orderdate AS VARCHAR) AS odate_str
  FROM orders
)
SELECT
  o_orderkey,
  string_split(string_split(id_url, '/')[5], 'v')[1] AS article_id,
  CAST(string_split(string_split(id_url, '/')[5], 'v')[2] AS INTEGER) AS version,
  CAST(left(odate_str, 10) AS DATE) AS order_dt,
  substr(odate_str, 6, 2) AS order_month,
  sha256(concat_ws('||', string_split(string_split(id_url, '/')[5], 'v')[1],
                   left(odate_str, 10))) AS sk
FROM src
"""


@register("sv2_arxiv_id_parse", _SV2_ORACLE)
def sv2_arxiv_id_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arxiv silver projection shapes (silver_arxiv.py:82-97):
    nested split + index to parse id/version out of a URL, left/substr
    date slicing, and a sha2-256 surrogate key over concat_ws'd parts
    (:117). version is cast to int — the documented deviation from the
    reference's string-typed version compare ('10' < '9' lexicographic,
    SURVEY.md §7.4.2)."""
    orders = table(spark, sf_dir, "orders")
    id_url = F.concat(
        F.lit("https://example.org/abs/"),
        F.col("o_orderkey").cast("string"),
        F.lit("v"),
        (F.lit(1) + F.col("o_orderkey") % 7).cast("string"),
    )
    odate_str = F.col("o_orderdate").cast("string")
    tail = F.split(id_url, "/").getItem(4)  # 0-based; DuckDB [5] is 1-based
    article_id = F.split(tail, "v").getItem(0)
    version = F.split(tail, "v").getItem(1).cast("int")
    order_dt = F.substring(odate_str, 1, 10).cast("date")
    return orders.select(
        "o_orderkey",
        article_id.alias("article_id"),
        version.alias("version"),
        order_dt.alias("order_dt"),
        F.substring(odate_str, 6, 2).alias("order_month"),
        F.sha2(
            F.concat_ws("||", article_id, F.substring(odate_str, 1, 10)), 256
        ).alias("sk"),
    )


# ---------------------------------------------------------------------------
# sv3 — struct build/access + audit columns + typed casts
# ---------------------------------------------------------------------------

_SV3_ORACLE = f"""
WITH enriched AS (
  SELECT c_custkey,
         {{'name': c_name, 'bal': CAST(c_acctbal AS DOUBLE),
           'nation': CAST(c_nationkey AS INTEGER)}} AS meta
  FROM customer
)
SELECT
  c_custkey,
  meta.name AS cust_name,
  meta.bal AS acct_bal,
  meta.nation AS nation_id,
  CASE WHEN meta.bal < 0 THEN 'delinquent' ELSE 'ok' END AS bal_status,
  DATE '{RUN_DATE}' AS run_date
FROM enriched
"""


@register("sv3_struct_audit", _SV3_ORACLE)
def sv3_struct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct build → field access (the `_airbyte_data.*` /
    operationMetrics access shape, SURVEY.md §2.8 F2/F17) plus the
    bronze audit-column pattern (run_date literal, bronze_arxiv.py:86;
    load_ts is current_timestamp() in the reference and is excluded
    here as non-deterministic, SURVEY.md §7.4.3)."""
    cust = table(spark, sf_dir, "customer")
    meta = F.struct(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("double").alias("bal"),
        F.col("c_nationkey").cast("int").alias("nation"),
    )
    enriched = cust.select("c_custkey", meta.alias("meta"))
    return enriched.select(
        "c_custkey",
        F.col("meta.name").alias("cust_name"),
        F.col("meta.bal").alias("acct_bal"),
        F.col("meta.nation").alias("nation_id"),
        F.when(F.col("meta.bal") < 0, F.lit("delinquent"))
        .otherwise(F.lit("ok"))
        .alias("bal_status"),
        F.lit(RUN_DATE).cast("date").alias("run_date"),
    )
