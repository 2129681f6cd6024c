"""d9_dedup_report on an empty ``documents`` table: the keep rate has no
denominator, and the report must be the oracle's row (keep_rate NULL),
not a driver-side ``ZeroDivisionError``."""

from __future__ import annotations

import duckdb


def test_d9_dedup_report_on_empty_documents(spark, tmp_path):
    from bc_proj3_spark.registry import all_queries
    from tests.conftest import SF_DIR
    from tests.test_driver_parity import strict_digest

    tmp = str(tmp_path)
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(0).write.parquet(
        f"{tmp}/documents.parquet"
    )
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp}/documents.parquet/*.parquet')"
        )
        spec = all_queries()["d9_dedup_report"]
        df = spec.builder(spark, tmp)
        rows = [tuple(r) for r in df.collect()]
        res = con.execute(spec.oracle)
        ocols = [d[0] for d in res.description]
        orows = [tuple(r) for r in res.fetchall()]
    finally:
        con.close()
        spark.catalog.clearCache()
    assert rows == orows == [(0, 0, 0, 0, None)]
    assert strict_digest(list(df.columns), rows) == strict_digest(ocols, orows)
