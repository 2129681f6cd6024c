"""Event-stream analytics over the ``events`` table.

The reference's "streaming" is a batch high-water-mark cursor
(SURVEY.md §2.11); this module supplies the real event-time operators a
user of the engine needs at scale — tumbling-window rollups, gap-based
sessionization, and as-of (point-in-time) joins — in their batch form.
``bc_proj3_spark.streaming`` carries the Structured Streaming variants.

Determinism: window orderings always carry a unique tiebreaker
(event_id); time arithmetic is done in exact integer microseconds
(``unix_micros`` / ``epoch_us``) so both engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bc_proj3_spark.functions.numeric import dec_sum, sql_dec_sum
from bc_proj3_spark.plans.tables import local_rows_df, table
from bc_proj3_spark.registry import register

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min in microseconds

# ---------------------------------------------------------------------------
# e1 — tumbling hourly rollup per event type
# ---------------------------------------------------------------------------

_E1_ORACLE = f"""
SELECT
  date_trunc('hour', ts) AS window_start,
  event_type,
  COUNT(*) AS n_events,
  {sql_dec_sum("value", "total_value")}
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


@register("e1_hourly_rollup", _E1_ORACLE)
def e1_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch form of a streaming
    windowed agg; map-side partial aggregation keeps the shuffle small)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value", "total_value"))
    )


# ---------------------------------------------------------------------------
# e2 — gap-based sessionization (30-minute inactivity gap)
# ---------------------------------------------------------------------------

# Shared session-definition CTE block (single source of truth for e2's
# aggregate AND e8's interval join — the q16/_SQL_SHINGLES_TMPL rule:
# never splice two hand-kept copies of the same predicate).
_SQL_SESSIONS_CTE = f"""flagged AS (
  SELECT
    user_id, ts, event_id, value,
    CASE
      WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL THEN 1
      WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_US} THEN 1
      ELSE 0
    END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *,
    SUM(is_new) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS session_seq
  FROM flagged
)"""

_E2_ORACLE = f"""
WITH {_SQL_SESSIONS_CTE}
SELECT
  user_id,
  CAST(session_seq AS INTEGER) AS session_seq,
  COUNT(*) AS n_events,
  {sql_dec_sum("value", "session_value")},
  MIN(ts) AS session_start,
  MAX(ts) AS session_end
FROM sessions
GROUP BY user_id, session_seq
"""


@register("e2_sessionization", _E2_ORACLE)
def e2_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via lag + running sum (the classic two-window
    rewrite; at scale this shuffles once on user_id and both windows
    reuse that partitioning)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > SESSION_GAP_US), F.lit(1)).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        sessions.groupBy("user_id", F.col("session_seq").cast("int").alias("session_seq"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", "session_value"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


# ---------------------------------------------------------------------------
# e8 — interval join: concurrent cross-user activity per session
# ---------------------------------------------------------------------------

#: Time-bucket width for the interval-join equi-key. Granularity trades
#: session fan-out (a session spanning k buckets explodes to k rows)
#: against join fan-in (all events in a bucket meet all sessions
#: overlapping it). Sessions are inactivity-gap-bounded, so 1-hour
#: buckets keep the fan-out to a handful of rows per session.
OVERLAP_BUCKET_US = 3_600 * 1_000_000

_E8_ORACLE = f"""
WITH {_SQL_SESSIONS_CTE},
sess AS (
  SELECT user_id, session_seq, MIN(ts) AS s_start, MAX(ts) AS s_end
  FROM sessions GROUP BY user_id, session_seq
)
SELECT
  s.user_id,
  CAST(s.session_seq AS INTEGER) AS session_seq,
  CAST(COUNT(e.event_id) AS BIGINT) AS concurrent_events
FROM sess s
LEFT JOIN events e
  ON e.ts >= s.s_start AND e.ts <= s.s_end AND e.user_id <> s.user_id
GROUP BY s.user_id, s.session_seq
"""


@register("e8_session_overlap", _E8_ORACLE)
def e8_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session count of OTHER users' events inside the session span
    — a big x big time-interval join with no shared key.

    The naive plan (inequality-only join) is a nested-loop cross
    product: sessions x events compared pairwise — unrunnable at scale.
    The scalable rewrite discretizes time: each event maps to its one
    OVERLAP_BUCKET_US bucket, each session EXPLODES to the buckets it
    overlaps (``sequence`` — a handful of rows for gap-bounded
    sessions), and the join becomes an EQUI-join on the bucket with the
    exact range predicate applied as a post-filter. Every matching pair
    meets exactly once (the event's single bucket lies in the session's
    covered range exactly once), so no distinct is needed. The shuffle
    key is the time bucket; a flash-crowd hot bucket is exactly the
    shape AQE's skew-join splitting handles. The oracle states the same
    semantics as the plain inequality join (DuckDB runs it as an
    IEJoin).
    """
    sess = (
        e2_sessionization(spark, sf_dir)
        .select("user_id", "session_seq", "session_start", "session_end")
    )
    def bkt(us: Column) -> Column:
        # exact INTEGER bucket index: `floor(us / B)` via `/` would go
        # through double division, where a boundary microsecond value
        # (~1.7e15) can floor into the adjacent bucket. us - us % B is
        # exactly divisible, so the final division is exact.
        return ((us - (us % OVERLAP_BUCKET_US)) / OVERLAP_BUCKET_US).cast("bigint")

    sess_b = sess.select(
        F.col("user_id").alias("s_user"),
        "session_seq",
        "session_start",
        "session_end",
        F.explode(
            F.sequence(
                bkt(F.unix_micros(F.col("session_start"))),
                bkt(F.unix_micros(F.col("session_end"))),
            )
        ).alias("bkt"),
    )
    ev = table(spark, sf_dir, "events").select(
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
        bkt(F.unix_micros(F.col("ts"))).alias("bkt"),
    )
    # LEFT join from the exploded sessions keeps zero-overlap sessions
    # (they still group to a 0 count via count-of-non-null) — no second
    # join back to the session list needed.
    return (
        sess_b.join(
            ev,
            (sess_b["bkt"] == ev["bkt"])
            & (ev["e_ts"] >= sess_b["session_start"])
            & (ev["e_ts"] <= sess_b["session_end"])
            & (ev["e_user"] != sess_b["s_user"]),
            "left",
        )
        .groupBy(
            F.col("s_user").alias("user_id"),
            F.col("session_seq").cast("int").alias("session_seq"),
        )
        .agg(F.count(ev["e_ts"]).cast("bigint").alias("concurrent_events"))
    )


# ---------------------------------------------------------------------------
# e3 — as-of join: attribute each purchase to the latest prior signup
# ---------------------------------------------------------------------------

_E3_ORACLE = """
SELECT
  p.user_id AS user_id,
  p.event_id AS purchase_event_id,
  p.ts AS purchase_ts,
  s.ts AS signup_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND p.ts >= s.ts
"""


@register("e3_asof_attribution", _E3_ORACLE)
def e3_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (an operator Spark lacks natively, SURVEY.md §2.3 note):
    implemented as the union-and-carry-forward rewrite — one shuffle on
    user_id, a running ``last(..., ignorenulls)`` window, then filter back
    to the probe side. Scales linearly (no range-join explosion)."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "signup")
    )
    # Tie-break at equal ts: DuckDB's ASOF uses p.ts >= s.ts, so a signup
    # sharing a timestamp with a purchase must still be visible to it —
    # sort signups before purchases at the same instant (ADVICE.md r1).
    type_rank = F.when(F.col("event_type") == "signup", F.lit(0)).otherwise(F.lit(1))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", type_rank, "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    signup_ts = F.last(
        F.when(F.col("event_type") == "signup", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("signup_ts", signup_ts)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
            "signup_ts",
        )
    )


# ---------------------------------------------------------------------------
# e4 — per-user value trend via applyInPandas (grouped-map custom operator)
# ---------------------------------------------------------------------------

_E4_ORACLE = """
SELECT
  user_id,
  COUNT(*) AS n_events,
  ROUND(regr_slope(value, epoch(ts)), 6) + 0.0 AS slope6
FROM events
GROUP BY user_id
HAVING COUNT(*) >= 2
"""


def _slope_batch(pdf):
    """Closed-form OLS slope on centered x — numerically identical shape
    to the covariance/variance form regr_slope uses (naive ΣxΣy on raw
    epoch seconds would cancel catastrophically at x ≈ 1.7e9)."""
    import pandas as pd

    x = pdf["x"]
    y = pdf["value"]
    dx = x - x.mean()
    slope = (dx * (y - y.mean())).sum() / (dx * dx).sum()
    return pd.DataFrame(
        {
            "user_id": [int(pdf["user_id"].iloc[0])],
            "n_events": [len(pdf)],
            "slope6": [round(float(slope), 6) + 0.0],
        }
    )


def _e4b_buckets(spark: SparkSession) -> int:
    """Grouped-map fan-in for e4b: applyInPandas crosses the Python
    boundary once PER GROUP, so grouping directly by user_id ships
    thousands of few-row Arrow batches (guide §4: tiny batches are the
    anti-pattern). Grouping by a hash BUCKET of the user key instead
    sends ~this many large batches and the per-user math runs as a
    pandas groupby INSIDE the worker — same per-user row subsets, same
    Series arithmetic, identical floats. Buckets cap Python CALL
    overhead, not state: one bucket's rows (~n_events/buckets) are
    concatenated into a single pandas frame in one worker, so the
    bucket count bounds per-worker memory and MUST scale with input
    size (r10 verdict item 2 — a constant 32 is a worker-memory cliff
    at 100 TB). The count is the session's shuffle width — itself
    cluster-sized — at one bucket per shuffle slot, so a bucket holds the
    row volume a shuffle partition already must hold (and the local
    default reproduces r10's measured-best 32).
    Result-invariant by construction: the bucket id never appears in
    the output and every user's rows land in exactly one bucket
    whatever the count.
    """
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _slope_bucket(pdf):
    """Per-user slopes for one hash bucket: pandas groupby + the SAME
    _slope_batch per group (identical pairwise Series sums → identical
    IEEE results as the one-group-per-call shape)."""
    import pandas as pd

    if len(pdf) == 0:
        return pd.DataFrame(
            {"user_id": [], "n_events": [], "slope6": []}
        ).astype({"user_id": "int64", "n_events": "int64", "slope6": "float64"})
    return pd.concat(
        [_slope_batch(g) for _, g in pdf.groupby("user_id", sort=False)],
        ignore_index=True,
    )


@register("e4_user_value_trend", _E4_ORACLE)
def e4_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of event values over time via the built-in
    ``regr_slope`` aggregate — pure whole-stage-codegen, one shuffle on
    user_id, no Python workers. Spark's implementation accumulates
    centered co-moments, so epoch-second x values (~1.7e9) don't
    cancel catastrophically; rounded to 6 dp to pin the cross-engine
    comparison against DuckDB's regr_slope.

    The same statistic computed through the grouped-map Arrow path is
    registered separately as ``e4b_trend_arrow`` — kept as the engine's
    custom-operator demo, value-verified against the same oracle."""
    ev = table(spark, sf_dir, "events")
    g = ev.select(
        "user_id",
        (F.unix_micros("ts").cast("double") / F.lit(1e6)).alias("x"),
        "value",
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # + 0.0 canonicalizes IEEE -0.0 (a tiny negative slope that
            # rounds to zero) to +0.0 — both engines and the Arrow twin
            # apply the same normalization so value-hashes agree
            (F.round(F.regr_slope("value", "x"), 6) + F.lit(0.0)).alias("slope6"),
        )
        .filter(F.col("n_events") >= 2)
    )


@register("e4b_trend_arrow", _E4_ORACLE)
def e4b_trend_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e4's statistic through grouped-map ``applyInPandas`` — the
    engine's custom-operator path for per-group algorithms Spark lacks
    built-ins for. One shuffle on user_id, Arrow batches per group,
    numpy/pandas math inside. The oracle cross-checks with DuckDB's
    regr_slope, so the UDF's math is value-verified (rounded to 6 dp —
    the two formulations agree to ~1e-13 relative; the round pins the
    comparison). Kept alongside the codegen e4 deliberately: it proves
    the Arrow plumbing against an independent implementation; the
    built-in is the production path."""
    ev = table(spark, sf_dir, "events")
    g = ev.select(
        "user_id",
        (F.unix_micros("ts").cast("double") / F.lit(1e6)).alias("x"),
        "value",
        F.pmod(F.xxhash64("user_id"), F.lit(_e4b_buckets(spark))).alias("bkt"),
    )
    out = g.groupBy("bkt").applyInPandas(
        _slope_bucket, schema="user_id long, n_events long, slope6 double"
    )
    return out.filter(F.col("n_events") >= 2)


# ---------------------------------------------------------------------------
# e5 — day-over-day retention (distinct activity + next-day self join)
# ---------------------------------------------------------------------------

_E5_ORACLE = """
WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events)
SELECT
  CAST(a.d AS DATE) AS day,
  COUNT(*) AS n_active,
  CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_retained,
  CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*) AS retention_rate
FROM ud a
LEFT JOIN ud b ON a.user_id = b.user_id AND b.d = a.d + INTERVAL 1 DAY
GROUP BY a.d
"""


@register("e5_daily_retention", _E5_ORACLE)
def e5_daily_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: of the users active on day d, how many
    return on d+1. distinct (user, day) first — the self-join then runs
    on the MUCH smaller activity table (users x days, not raw events),
    shuffling once on user_id. The left join keeps churned-everyone
    days visible with rate 0."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    nxt = ud.select(
        F.col("user_id").alias("n_user"),
        (F.col("d") - F.expr("INTERVAL 1 DAY")).alias("n_prev"),
    )
    joined = ud.join(
        nxt,
        (F.col("user_id") == F.col("n_user")) & (F.col("d") == F.col("n_prev")),
        "left_outer",
    )
    return (
        joined.groupBy(F.col("d").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(
                F.when(F.col("n_user").isNotNull(), 1).otherwise(0)
            ).alias("n_retained"),
        )
        .select(
            "day",
            "n_active",
            "n_retained",
            (F.col("n_retained").cast("double") / F.col("n_active")).alias(
                "retention_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# e6 — JSON property extraction (semi-structured column handling)
# ---------------------------------------------------------------------------

_E6_ORACLE = """
SELECT
  event_type,
  COUNT(*) AS n_with_k,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
GROUP BY event_type
"""


@register("e6_json_props", _E6_ORACLE)
def e6_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured handling: parse the JSON ``props`` string with a
    declared schema (``from_json`` — schema-on-read like the bronze
    layer's JSON scans, SURVEY.md §1.3) and aggregate the extracted
    field. from_json with an explicit schema beats get_json_object per
    field: one parse, typed struct, codegen-friendly."""
    ev = table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "p", F.from_json("props", "k BIGINT")
    ).filter(F.col("p.k").isNotNull())
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_with_k"),
        F.sum("p.k").alias("sum_k"),
        F.max("p.k").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# e7 — ordered funnel: view → click → purchase
# ---------------------------------------------------------------------------

_E7_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT
  (SELECT COUNT(*) FROM v) AS n_view,
  (SELECT COUNT(*) FROM c) AS n_view_click,
  (SELECT COUNT(*) FROM p) AS n_view_click_purchase
"""


@register("e7_funnel", _E7_ORACLE)
def e7_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users whose first view precedes a
    click precedes a purchase (strict event-time order, first-touch
    per stage). Each stage is a groupBy-min plus one equi-join back to
    events on user_id — N stages cost N small shuffles on the same
    key, not a window over the whole event stream. Stage counts are
    combined via broadcast 1-row aggregates (no driver collect)."""
    ev = table(spark, sf_dir, "events")

    def first_after(prev: DataFrame, etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev.withColumnRenamed("t", "_prev_t"), "user_id")
            .filter(F.col("ts") > F.col("_prev_t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    c = first_after(v, "click")
    p = first_after(c, "purchase")

    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_view_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
    return nv.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(np_))


# ---------------------------------------------------------------------------
# e9 — rolling 7-day active users (windowed COUNT DISTINCT rewrite)
# ---------------------------------------------------------------------------

_E9_ORACLE = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
),
days AS (SELECT DISTINCT d FROM du),
contrib AS (
  SELECT du.user_id,
         unnest(generate_series(du.d, du.d + INTERVAL 6 DAY, INTERVAL 1 DAY))::DATE AS target
  FROM du
),
wau AS (
  SELECT target AS day, COUNT(DISTINCT user_id) AS wau
  FROM contrib JOIN days ON target = days.d
  GROUP BY target
),
dau AS (SELECT d AS day, COUNT(*) AS dau FROM du GROUP BY d)
SELECT day, dau, wau FROM dau JOIN wau USING (day)
"""


@register("e9_rolling_active_users", _E9_ORACLE)
def e9_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily and rolling-7-day active users per calendar day — the
    product-analytics staple whose naive form, COUNT(DISTINCT) over a
    sliding RANGE window, Spark (and every engine) refuses or executes
    as a quadratic re-scan. The scalable rewrite: dedupe to
    (day, user) once, then EXPLODE each pair to the ≤7 window-end days
    it supports (sequence + explode — pure codegen, fan-out exactly 7)
    and count distinct users per target day. One distinct shuffle + one
    aggregate shuffle, both map-side combinable; no self-join, no range
    join, no window re-scan. Target days are clipped to observed days
    (broadcast semi-join) so both engines bound the calendar
    identically."""
    ev = table(spark, sf_dir, "events")
    du = ev.select(F.col("ts").cast("date").alias("d"), "user_id").distinct()
    days = du.select("d").distinct()
    contrib = du.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("day"),
    )
    wau = (
        contrib.join(
            F.broadcast(days.withColumnRenamed("d", "day")), "day", "left_semi"
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = du.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    return dau.join(wau, "day")


# ---------------------------------------------------------------------------
# e10 — funnel conversion-latency percentiles (view → first purchase)
# ---------------------------------------------------------------------------

_E10_ORACLE = """
WITH fv AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
fp AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'purchase' AND e.ts > fv.t_view
  GROUP BY e.user_id
)
SELECT COUNT(*) AS n_converted,
       quantile_cont(delta_s, 0.5) AS p50_seconds,
       quantile_cont(delta_s, 0.9) AS p90_seconds
FROM (
  SELECT date_diff('second', fv.t_view, fp.t_purchase) AS delta_s
  FROM fv JOIN fp USING (user_id)
) d
"""


@register("e10_conversion_latency", _E10_ORACLE)
def e10_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long conversion takes: per converting user, seconds from
    first view to first subsequent purchase; p50/p90 across users (the
    product-analytics companion to e7's conversion COUNTS). Two
    map-side-combinable min-aggregates shuffled on user_id feed one
    exact interpolated percentile over the (small) per-user latency
    set — the fact table is scanned once per funnel stage, never
    self-joined row-to-row. Exact percentile matches DuckDB's
    quantile_cont bit-for-bit on integer-second inputs (a2's pattern);
    at corpus scale swap in approx_percentile's t-digest."""
    ev = table(spark, sf_dir, "events")
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    deltas = fv.join(fp, "user_id").select(
        (
            F.unix_timestamp("t_purchase") - F.unix_timestamp("t_view")
        ).alias("delta_s")
    )
    return deltas.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile(delta_s, 0.5)").alias("p50_seconds"),
        F.expr("percentile(delta_s, 0.9)").alias("p90_seconds"),
    )


# ---------------------------------------------------------------------------
# e11 — event-type transition matrix (per-user next-event Markov counts)
# ---------------------------------------------------------------------------

_E11_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n_transitions
FROM seq
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""


@register("e11_transition_matrix", _E11_ORACLE)
def e11_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user next-event transition counts — the Markov matrix under
    session modeling and next-action prediction features. One window
    pass (lead over the per-user timeline, event_id tiebreak for a
    total order shared with the oracle) then a count aggregate; the
    shuffle is the window's user_id exchange, which the aggregate
    reuses nothing of — at scale, pre-bucketing events by user_id
    makes this exchange-free."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


# ---------------------------------------------------------------------------
# e12 — rolling-window z-score anomaly detection per user
# ---------------------------------------------------------------------------

#: trailing-window geometry: stats over the 10 events BEFORE the
#: current one (the current row never sees itself), minimum history
#: before flagging, and the anomaly threshold.
ROLL_FRAME = 10
ROLL_MIN_N = 5
ROLL_Z = 2.0

_E12_ORACLE = f"""
WITH w AS (
  SELECT event_id, user_id, ts, value,
         COUNT(*) OVER f AS n,
         CAST(SUM(CAST(value AS DECIMAL(28,10))) OVER f AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(28,10)) * CAST(value AS DECIMAL(28,10)))
              OVER f AS DOUBLE) AS s2
  FROM events
  WINDOW f AS (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN {ROLL_FRAME} PRECEDING AND 1 PRECEDING
  )
),
s AS (
  SELECT event_id, user_id, value, n,
         s1 / n AS roll_mean,
         SQRT((s2 - s1 * s1 / n) / (n - 1)) AS roll_sd
  FROM w
  WHERE n >= {ROLL_MIN_N}
)
SELECT event_id, user_id, value,
       ROUND(roll_mean, 6) AS roll_mean,
       ROUND((value - roll_mean) / roll_sd, 6) AS zscore
FROM s
WHERE roll_sd > 0 AND ABS((value - roll_mean) / roll_sd) > {ROLL_Z}
"""


@register("e12_rolling_anomaly", _E12_ORACLE)
def e12_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value deviates more than ROLL_Z standard deviations
    from the user's own TRAILING window — the streaming-shaped anomaly
    signal (o5 is the global-baseline batch twin; this one adapts to
    per-user drift, the form a metrics/abuse pipeline actually runs).

    The frame excludes the current row (an outlier must not dilute the
    baseline it is judged against) and requires ROLL_MIN_N prior events.
    Variance comes from exact-decimal Σx/Σx² window sums — decimal
    window aggregation is order-independent once the frame is fixed, and
    the frame is fixed by the (ts, event_id) total order. One shuffle on
    user_id serves both window aggregates and the projection.

    100 TB shape: trailing-window state is O(frame) per user; the
    streaming twin is applyInPandasWithState with a ring buffer (st2's
    machinery). Batch cost is one exchange + one sort — no self-join."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    f = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ROLL_FRAME, -1)
    )
    dec = F.col("value").cast("decimal(28,10)")
    w = ev.select(
        "event_id",
        "user_id",
        "value",
        F.count(F.lit(1)).over(f).alias("n"),
        F.sum(dec).over(f).cast("double").alias("s1"),
        F.sum(dec * dec).over(f).cast("double").alias("s2"),
    ).filter(F.col("n") >= ROLL_MIN_N)
    roll_mean = F.col("s1") / F.col("n")
    roll_sd = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
    )
    z = (F.col("value") - roll_mean) / roll_sd
    return (
        w.filter((roll_sd > 0) & (F.abs(z) > ROLL_Z))
        .select(
            "event_id",
            "user_id",
            "value",
            F.round(roll_mean, 6).alias("roll_mean"),
            F.round(z, 6).alias("zscore"),
        )
    )


# ---------------------------------------------------------------------------
# ts1 — calendar-spine gap filling + carry-forward resampling
# ---------------------------------------------------------------------------

_TS1_ORACLE = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         COUNT(*) AS n_events,
         {sql_dec_sum("value", "day_value")}
  FROM events
  GROUP BY user_id, CAST(ts AS DATE)
),
bounds AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
),
spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
)
SELECT s.user_id, s.day,
       COALESCE(d.n_events, 0) AS n_events,
       COALESCE(d.day_value, 0.0) AS day_value,
       last_value(d.day_value IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS carried_value
FROM spine s
LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
"""


@register("ts1_gap_fill", _TS1_ORACLE)
def ts1_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular daily time series per user from irregular events: build
    each user's calendar spine (min..max active day), left-join the
    daily aggregate onto it, zero-fill the counts, and carry the last
    observed value across gap days (forward fill) — the resampling +
    interpolation step every time-series feature pipeline needs before
    a model sees the data (and the inverse of e3's as-of lookup).

    Plan: one groupBy builds the daily aggregate; the spine is
    sequence()+explode from the per-user bounds (rows ∝ user-days, no
    cross join against a global calendar); one more shuffle joins
    spine↔daily on (user, day) and the same partitioning feeds the
    forward-fill window. Carried values use last(ignorenulls) over the
    date-ordered frame — deterministic because (user, day) is unique."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum("value", "day_value"),
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
        ).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    return joined.select(
        "user_id",
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("day_value", F.lit(0.0)).alias("day_value"),
        F.last("day_value", ignorenulls=True).over(w).alias("carried_value"),
    )


# ---------------------------------------------------------------------------
# w3 — time-based RANGE frame: trailing 1-hour activity per event
# ---------------------------------------------------------------------------

_W3_HOUR_US = 3_600_000_000

_W3_ORACLE = f"""
SELECT event_id, user_id,
       COUNT(*) OVER f AS n_last_hour,
       CAST(SUM(CAST(value AS DECIMAL(28,10))) OVER f AS DOUBLE)
         AS value_last_hour
FROM events
WINDOW f AS (
  PARTITION BY user_id ORDER BY epoch_us(ts)
  RANGE BETWEEN {_W3_HOUR_US} PRECEDING AND CURRENT ROW
)
"""


@register("w3_trailing_hour_range", _W3_ORACLE)
def w3_trailing_hour_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: how much the same user did in the trailing hour —
    a VALUE-based (RANGE) window frame over event time, the sliding
    velocity/rate-limit signal. Unlike a ROWS frame, the frame edge is
    a time distance, so frames differ per row and peers (equal
    timestamps) always enter together — which also makes the result
    order-insensitive and hash-stable without a unique-key tiebreak.

    Both engines order by the integer microsecond epoch with an
    identical numeric range ({_W3_HOUR_US} µs), sidestepping
    interval-frame dialect differences; sums are decimal-exact. One
    exchange on user_id; at 100 TB this is the windowed form of e9's
    explode rewrite, preferable when frame ÷ event-density is large."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    f = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-_W3_HOUR_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(f).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(28,10)"))
        .over(f)
        .cast("double")
        .alias("value_last_hour"),
    )


# ---------------------------------------------------------------------------
# ts2 — exponentially weighted moving average (dyadic-exact)
# ---------------------------------------------------------------------------

_TS2_ALPHA = 0.5  # dyadic: 0.5**k is EXACT in IEEE double for all k
_TS2_K = 12  # trailing observed days in the kernel; 0.5**11 ~ 5e-4


def _ts2_terms(val: str) -> tuple[str, str]:
    """(numerator, denominator) SQL text, k=0..K-1, left-assoc — the
    SAME addition order the Spark expression tree uses, so both engines
    run bit-identical IEEE sums (every 0.5**k product is an exact
    scaling; only the additions round, identically)."""
    num, den = [], []
    for k in range(_TS2_K):
        w = repr(_TS2_ALPHA**k)
        x = val if k == 0 else f"LAG({val}, {k}) OVER ewm"
        num.append(f"COALESCE({x} * {w}, 0.0)")
        den.append(f"CASE WHEN {x} IS NOT NULL THEN {w} ELSE 0.0 END")
    return " + ".join(num), " + ".join(den)


_TS2_ORACLE = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         {sql_dec_sum("value", "day_value")}
  FROM events
  GROUP BY user_id, CAST(ts AS DATE)
)
SELECT user_id, day, day_value,
       ROUND(({_ts2_terms("day_value")[0]})
             / ({_ts2_terms("day_value")[1]}), 6) AS ewma
FROM daily
WINDOW ewm AS (PARTITION BY user_id ORDER BY day)
"""


@register("ts2_ewma", _TS2_ORACLE)
def ts2_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of daily event value — the smoothing every
    monitoring/trend pipeline runs, made cross-engine bit-exact by
    construction instead of tolerance: the kernel is a FINITE trailing
    window of {K} observed days with a dyadic decay (alpha = 0.5, so
    every weight 0.5**k is an exact double and weight*x is an exact
    scaling), expressed as an explicit left-associated sum of LAG terms
    — Spark's expression tree and the oracle's SQL text add in the SAME
    order, so the only float roundings are identical on both sides.
    The recursive form (ewma = a*x + (1-a)*prev) is NOT expressible as
    a Spark window function (no recursive aggregates); the truncated
    kernel is the standard rewrite and differs by < 0.5**{K} of the
    oldest mass, which normalizing by the present-weight sum absorbs
    for series shorter than the kernel.

    Plan: one exchange on user_id — the daily groupBy repartitions, and
    the {K}-lag window reuses that partitioning with one sort. All {K}
    lags share ONE window frame (Spark collapses equal window specs),
    so this costs a single pass regardless of kernel width."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(dec_sum("value", "day_value"))
    w = Window.partitionBy("user_id").orderBy("day")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(_TS2_K):
        x = F.col("day_value") if k == 0 else F.lag("day_value", k).over(w)
        wt = F.lit(_TS2_ALPHA**k)
        num = num + F.coalesce(x * wt, F.lit(0.0))
        den = den + F.when(x.isNotNull(), wt).otherwise(F.lit(0.0))
    return daily.select(
        "user_id", "day", "day_value", F.round(num / den, 6).alias("ewma")
    )


# ---------------------------------------------------------------------------
# e13 — time-constrained funnel: click within 24h, purchase within 72h
# ---------------------------------------------------------------------------

#: stage deadlines sized to the synthetic event density (~1 event per
#: user-day): 24h to click, 72h to purchase keeps a meaningful
#: converting population at every SF while still EXPIRING most slow
#: paths (sf0.01: 150 viewers -> 60 clickers -> 45 purchasers).
_E13_CLICK_US = 24 * 3_600_000_000
_E13_PURCHASE_US = 72 * 3_600_000_000

_E13_ORACLE = f"""
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND epoch_us(e.ts) > v.t AND epoch_us(e.ts) <= v.t + {_E13_CLICK_US}
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND epoch_us(e.ts) > c.t AND epoch_us(e.ts) <= c.t + {_E13_PURCHASE_US}
  GROUP BY e.user_id
)
SELECT v.user_id,
       (c.t - v.t) // 1000000 AS sec_view_to_click,
       (p.t - c.t) // 1000000 AS sec_click_to_purchase
FROM v JOIN c USING (user_id) JOIN p USING (user_id)
"""


@register("e13_constrained_funnel", _E13_ORACLE)
def e13_constrained_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch funnel with per-stage TIMEOUTS: first view, first
    click within 24 HOURS of it, first purchase within 72 HOURS of the
    click — e7's ordered funnel plus the deadline semantics real
    attribution uses (a purchase a week after the click doesn't convert
    the campaign). Emits per-converting-user stage latencies, the input
    to e10-style percentile reporting. Latencies are FLOOR-divided to
    whole seconds on both sides (a bare double->bigint cast ROUNDS in
    DuckDB but TRUNCATES in Spark — the dq3 lesson, again).

    Same scale shape as e7 — each stage is a groupBy-min plus one
    equi-join back on user_id, N stages = N shuffles on one key, never
    a window over the full stream. All time math runs on integer
    microseconds (both engines), so the stage deadline is a pure long
    comparison; integer seconds out via floor division."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))

    def stage(prev: DataFrame, etype: str, deadline_us: int) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev.withColumnRenamed("t", "_prev_t"), "user_id")
            .filter((us > F.col("_prev_t")) & (us <= F.col("_prev_t") + deadline_us))
            .groupBy("user_id")
            .agg(F.min(us).alias("t"))
        )

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("t"))
    )
    c = stage(v, "click", _E13_CLICK_US)
    p = stage(c, "purchase", _E13_PURCHASE_US)
    return (
        v.withColumnRenamed("t", "tv")
        .join(c.withColumnRenamed("t", "tc"), "user_id")
        .join(p.withColumnRenamed("t", "tp"), "user_id")
        .select(
            "user_id",
            F.floor((F.col("tc") - F.col("tv")) / 1_000_000)
            .cast("bigint")
            .alias("sec_view_to_click"),
            F.floor((F.col("tp") - F.col("tc")) / 1_000_000)
            .cast("bigint")
            .alias("sec_click_to_purchase"),
        )
    )


# ---------------------------------------------------------------------------
# e14 — VariantType semi-structured path (schema-on-read without schema)
# ---------------------------------------------------------------------------

_E14_ORACLE = """
WITH k AS (
  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv
  FROM events
  WHERE json_extract_string(props, '$.k') IS NOT NULL
)
SELECT kv % 10 AS k_digit,
       COUNT(*) AS n,
       CAST(SUM(kv) AS BIGINT) AS sum_k
FROM k GROUP BY kv % 10
"""


@register("e14_variant_props", _E14_ORACLE)
def e14_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark 4 VARIANT path for semi-structured data: parse the
    JSON ``props`` string ONCE into an open VariantType value
    (``parse_json`` — binary-encoded, no declared schema, unlike e6's
    from_json struct) and extract typed fields by path at use sites
    (``variant_get('$.k', 'bigint')``). This is the schema-flexible
    ingest posture for event streams whose property bags drift: new
    keys need no schema migration, and the binary variant encoding
    reads fields without re-parsing text per access — the open-format
    answer to JSON columns at 100 TB (shredding into parquet subcolumns
    is the follow-on optimization). Aggregates the extracted ints into
    a last-digit histogram; all arithmetic integer-exact."""
    ev = table(spark, sf_dir, "events")
    kv = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select(kv.alias("kv"))
        .filter(F.col("kv").isNotNull())
        .groupBy((F.col("kv") % 10).alias("k_digit"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("kv").cast("bigint").alias("sum_k"),
        )
    )


# ---------------------------------------------------------------------------
# ts3 — OHLC bars: 15-minute downsample of the event value stream
# ---------------------------------------------------------------------------

_TS3_ORACLE = """
WITH b AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket, ts, event_id, value
  FROM events
),
wf AS (
  SELECT bucket, value,
    first_value(value) OVER (
      PARTITION BY bucket ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
    last_value(value) OVER (
      PARTITION BY bucket ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
  FROM b
)
SELECT bucket,
       MAX(o) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(c) AS close,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS volume
FROM wf GROUP BY bucket
"""


@register("ts3_ohlc_bars", _TS3_ORACLE)
def ts3_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the raw event stream to 15-minute OHLC bars — the
    canonical time-series reduction (metrics rollup, market bars, IoT
    compaction). Bucket = epoch-floored 900 s (integer µs division, so
    both engines bucket identically; DuckDB's time_bucket origin
    2000-01-01 is 900-divisible against the Unix epoch). Open/close
    need an ORDER within the bucket, which max/min aggregates can't
    express — first/last window values over (ts, event_id) with an
    unbounded frame, then one group-by per bucket. Window and aggregate
    share the same bucket hash partitioning, so the whole reduction is
    ONE exchange; at 100 TB this is the shape that turns a raw stream
    into a table 3 orders of magnitude smaller without a second
    shuffle."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    bucket = F.expr("timestamp_seconds((unix_micros(ts) div 900000000) * 900)")
    w = (
        Window.partitionBy("bucket")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        ev.select(bucket.alias("bucket"), "ts", "event_id", "value")
        .withColumn("o", F.first("value").over(w))
        .withColumn("c", F.last("value").over(w))
        .groupBy("bucket")
        .agg(
            F.max("o").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max("c").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("volume"),
        )
    )


# ---------------------------------------------------------------------------
# ts4 — time-weighted average over irregular samples (TWAP)
# ---------------------------------------------------------------------------

_TS4_ORACLE = """
WITH seq AS (
  SELECT user_id, CAST(ts AS DATE) AS day, value,
         epoch_us(ts) AS t_us,
         lead(epoch_us(ts)) OVER (
           PARTITION BY user_id, CAST(ts AS DATE)
           ORDER BY ts, event_id
         ) AS next_us
  FROM events
),
seg AS (
  SELECT user_id, day,
         CAST(ROUND(value * (next_us - t_us), 3) AS DECIMAL(38,6)) AS vw,
         next_us - t_us AS w_us
  FROM seq WHERE next_us IS NOT NULL
)
SELECT user_id, day,
       COUNT(*) AS n_segments,
       CAST(SUM(w_us) AS BIGINT) AS span_us,
       ROUND(CAST(SUM(vw) AS DOUBLE) / SUM(w_us), 9) AS twap
FROM seg
GROUP BY user_id, day
"""


@register("ts4_twap", _TS4_ORACLE)
def ts4_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-WEIGHTED average of an irregularly-sampled signal — the
    metric plain AVG gets wrong whenever sampling density correlates
    with the value (a sensor that reports more often when busy): hold
    each observation until the next one (last-observation-carried-
    forward) and integrate, per user-day. Each segment's weight is its
    exact integer-µs duration; the value×duration product is ONE
    double op rounded then summed in DECIMAL (the repo's
    association-order-proof convention), so both engines integrate
    identically. One (user, day) shuffle serves the ordering window
    and the aggregate — single exchange, the ts3 property. Days with
    one lone observation have no segments and drop, matching the
    oracle's inner WHERE."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    w = Window.partitionBy("user_id", "day").orderBy("t_us", "event_id")
    seq = ev.select(
        "user_id",
        day.alias("day"),
        "value",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
    ).withColumn("next_us", F.lead("t_us").over(w))
    seg = seq.filter(F.col("next_us").isNotNull()).select(
        "user_id",
        "day",
        F.round(F.col("value") * (F.col("next_us") - F.col("t_us")), 3)
        .cast("decimal(38,6)")
        .alias("vw"),
        (F.col("next_us") - F.col("t_us")).alias("w_us"),
    )
    return seg.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("w_us").alias("span_us"),
        F.round(
            F.sum("vw").cast("double") / F.sum("w_us"), 9
        ).alias("twap"),
    )


# ---------------------------------------------------------------------------
# e15 — threshold-crossing detector (rising edges, not levels)
# ---------------------------------------------------------------------------

CROSS_THRESHOLD = 300.0

_E15_ORACLE = f"""
WITH seq AS (
  SELECT user_id, ts, event_id, value,
         lag(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev_value
  FROM events
)
SELECT user_id,
       COUNT(*) AS n_crossings,
       MIN(ts) AS first_crossing,
       MAX(ts) AS last_crossing
FROM seq
WHERE prev_value IS NOT NULL
  AND prev_value <= {CROSS_THRESHOLD}
  AND value > {CROSS_THRESHOLD}
GROUP BY user_id
"""


@register("e15_threshold_crossings", _E15_ORACLE)
def e15_threshold_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rising-EDGE detection: count the moments each user's value
    series crosses above the threshold, not the samples sitting above
    it — the distinction that separates an alerting system from a
    filter (a series hovering at 350 alerts once, not a thousand
    times; o5/e12 flag levels, this flags transitions). One lag window
    over the (user, time) order, then a filter on the
    (prev ≤ T < curr) conjunction and a per-user roll-up — the window
    and the aggregate share the user-key exchange. First/last crossing
    timestamps bound the episode for the responder."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_value", F.lag("value").over(w))
    crossings = seq.filter(
        F.col("prev_value").isNotNull()
        & (F.col("prev_value") <= CROSS_THRESHOLD)
        & (F.col("value") > CROSS_THRESHOLD)
    )
    return crossings.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_crossings"),
        F.min("ts").alias("first_crossing"),
        F.max("ts").alias("last_crossing"),
    )


# ---------------------------------------------------------------------------
# e16 — behavioral regularity: bot-like inter-event timing
# ---------------------------------------------------------------------------

BOT_MIN_EVENTS = 20

_E16_ORACLE = f"""
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS gap_us
  FROM events
),
mom AS (
  SELECT user_id,
         COUNT(*) AS n_gaps,
         SUM(CAST(gap_us AS DECIMAL(28,0))) AS s1,
         SUM(CAST(gap_us AS DECIMAL(38,0)) * gap_us) AS s2
  FROM gaps WHERE gap_us IS NOT NULL
  GROUP BY user_id
  HAVING COUNT(*) >= {BOT_MIN_EVENTS}
)
SELECT user_id, n_gaps,
       CAST(s1 AS DOUBLE) / n_gaps / 1000000 AS mean_gap_s,
       ROUND(
         SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_gaps)
              / n_gaps) / (CAST(s1 AS DOUBLE) / n_gaps), 9)
         AS gap_cv
FROM mom
"""


@register("e16_bot_regularity", _E16_ORACLE)
def e16_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-regularity screen: the coefficient of variation of
    each user's inter-event gaps — humans are bursty (CV near or above
    1), schedulers and scrapers are metronomic (CV near 0), which makes
    this the first-pass bot filter in traffic analytics and a data-
    curation signal (machine-generated event streams poison behavioral
    models). Gaps are exact integer µs; both moment sums accumulate in
    DECIMAL (gap² ≈ 10^19 overflows BIGINT — the reason s2 is
    DECIMAL(38)), so the one double std/mean division is bit-identical
    across engines. Window and both aggregates ride one user-key
    exchange."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = table(spark, sf_dir, "events")
    gaps = ev.select(
        "user_id",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    mom = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum(F.col("gap_us").cast("decimal(28,0)")).alias("s1"),
            F.sum(
                F.col("gap_us").cast("decimal(38,0)") * F.col("gap_us")
            ).alias("s2"),
        )
        .filter(F.col("n_gaps") >= BOT_MIN_EVENTS)
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    n = F.col("n_gaps")
    mean = s1d / n
    return mom.select(
        "user_id",
        "n_gaps",
        (mean / F.lit(1_000_000)).alias("mean_gap_s"),
        F.round(F.sqrt((s2d - s1d * s1d / n) / n) / mean, 9).alias("gap_cv"),
    )


# ---------------------------------------------------------------------------
# e17 — linear multi-touch attribution (credit split across views)
# ---------------------------------------------------------------------------

ATTR_WINDOW_US = 3_600 * 1_000_000  # views within 1h before the purchase

_E17_ORACLE = f"""
WITH purchases AS (
  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us, value
  FROM events WHERE event_type = 'purchase'
),
views AS (
  SELECT event_id AS v_id, user_id, epoch_us(ts) AS v_us
  FROM events WHERE event_type = 'view'
),
touched AS (
  SELECT p.p_id, p.user_id, p.value, v.v_id
  FROM purchases p JOIN views v
    ON v.user_id = p.user_id
   AND v.v_us < p.p_us
   AND v.v_us >= p.p_us - {ATTR_WINDOW_US}
),
credits AS (
  SELECT user_id, v_id,
         CAST(ROUND(value / (COUNT(*) OVER (PARTITION BY p_id)), 9)
              AS DECIMAL(28,10)) AS credit
  FROM touched
)
SELECT user_id,
       COUNT(*) AS n_credited_views,
       ROUND(CAST(SUM(credit) AS DOUBLE), 6) AS attributed_value
FROM credits
GROUP BY user_id
"""


@register("e17_linear_attribution", _E17_ORACLE)
def e17_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution: each purchase's value is split
    equally across every view in the preceding hour, then rolled up
    per user — the adtech counterpart to e3's winner-takes-all last
    touch (last-touch over-credits the final ad; linear is the
    standard first corrective). The touch join is an equi-join on
    user_id with the time window as a residual predicate (per-user
    event counts bound the fan-out — the cdc5/e8 discipline: never a
    time-range cross join); the per-purchase touch count is a window
    over the purchase key sharing that exchange. Each credit is ONE
    rounded double division, decimal-summed, so equal splits
    reassemble bit-identically in both engines."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.unix_micros("ts").alias("p_us"),
        "value",
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"),
        F.col("user_id").alias("v_user"),
        F.unix_micros("ts").alias("v_us"),
    )
    touched = purchases.join(
        views,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("v_us") < F.col("p_us"))
        & (F.col("v_us") >= F.col("p_us") - ATTR_WINDOW_US),
    )
    w = Window.partitionBy("p_id")
    credits = touched.select(
        "user_id",
        "v_id",
        F.round(F.col("value") / F.count(F.lit(1)).over(w), 9)
        .cast("decimal(28,10)")
        .alias("credit"),
    )
    return credits.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_credited_views"),
        F.round(F.sum("credit").cast("double"), 6).alias("attributed_value"),
    )


# ---------------------------------------------------------------------------
# ret1 — weekly cohort retention triangle
# ---------------------------------------------------------------------------

_RET1_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         (epoch_us(MIN(ts)) // 604800000000) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id,
         (epoch_us(e.ts) // 604800000000) AS act_week
  FROM events e
),
joined AS (
  SELECT f.cohort_week,
         CAST(a.act_week - f.cohort_week AS INTEGER) AS weeks_since,
         a.user_id
  FROM firsts f JOIN activity a ON a.user_id = f.user_id
),
sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM firsts
  GROUP BY cohort_week
)
SELECT j.cohort_week, j.weeks_since,
       COUNT(DISTINCT j.user_id) AS n_active,
       s.cohort_size,
       ROUND(CAST(COUNT(DISTINCT j.user_id) AS DOUBLE) / s.cohort_size, 9)
         AS retention
FROM joined j JOIN sizes s ON s.cohort_week = j.cohort_week
GROUP BY j.cohort_week, j.weeks_since, s.cohort_size
"""


@register("ret1_cohort_retention", _RET1_ORACLE)
def ret1_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekly cohort retention TRIANGLE — cohort week × weeks-since
    -first-seen, fraction of the cohort still active — the canonical
    product-analytics artifact (e5 answers "came back next day?"; this
    materializes the whole decay surface every growth team reads).
    Weeks are epoch-floored integer µs (604800e6 per week — same floor
    division both engines). Three aggregates, all user- or
    cohort-keyed: first-seen per user, distinct (user, week) activity,
    and the triangle roll-up; output is O(weeks²) rows at any event
    volume."""
    ev = table(spark, sf_dir, "events")
    week = lambda c: F.expr(f"unix_micros({c}) div 604800000000")
    firsts = ev.groupBy("user_id").agg(
        F.expr("unix_micros(min(ts)) div 604800000000").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", week("ts").alias("act_week")
    ).distinct()
    joined = firsts.join(activity, "user_id").select(
        "cohort_week",
        (F.col("act_week") - F.col("cohort_week")).cast("int").alias(
            "weeks_since"
        ),
        "user_id",
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        joined.groupBy("cohort_week", "weeks_since")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "weeks_since",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), 9
            ).alias("retention"),
        )
    )


# ---------------------------------------------------------------------------
# e18 — top session paths (ordered event-type journeys)
# ---------------------------------------------------------------------------

PATH_TOP_K = 25

_E18_ORACLE = f"""
WITH {_SQL_SESSIONS_CTE},
paths AS (
  SELECT s.user_id, s.session_seq,
         string_agg(e.event_type, '>' ORDER BY s.ts, s.event_id) AS path
  FROM sessions s JOIN events e ON e.event_id = s.event_id
  GROUP BY s.user_id, s.session_seq
)
SELECT path, COUNT(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT {PATH_TOP_K}
"""


@register("e18_session_paths", _E18_ORACLE)
def e18_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: each session's ordered event-type sequence
    collapsed to a path string ('view>click>purchase'), counted across
    the corpus — the path-analysis staple behind funnel DISCOVERY
    (e7/e13 check a path you already hypothesized; this surfaces which
    paths exist). Ordering inside the aggregation is total
    ((ts, event_id)), so both engines build identical strings; paths
    reuse e2's session CTE verbatim. Sessions are gap-bounded, so path
    strings are short; the top-k is TakeOrdered. One user-key exchange
    for sessionization + path build, one path-key exchange for the
    count."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > SESSION_GAP_US), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ordered = sessions.withColumn(
        "evs",
        F.collect_list("event_type").over(
            Window.partitionBy("user_id", "session_seq")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )
    paths = (
        ordered.groupBy("user_id", "session_seq")
        .agg(F.array_join(F.max("evs"), ">").alias("path"))
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(PATH_TOP_K)
    )


# ---------------------------------------------------------------------------
# e19 — CUSUM changepoint statistic over daily event volumes
# ---------------------------------------------------------------------------

_E19_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
tot AS (
  SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS s,
         COUNT(*) AS n_days
  FROM daily GROUP BY event_type
),
dev AS (
  SELECT d.event_type, d.day, d.n_events,
         d.n_events * t.n_days - t.s AS delta, t.n_days
  FROM daily d JOIN tot t USING (event_type)
),
run AS (
  SELECT event_type, day, n_events, n_days,
         SUM(delta) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS UNBOUNDED PRECEDING) AS r
  FROM dev
),
base AS (
  SELECT event_type, day, n_events, n_days, r,
         MIN(r) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS UNBOUNDED PRECEDING) AS m
  FROM run
)
SELECT event_type, day, n_events,
       ROUND(CAST(r - least(m, 0) AS DOUBLE) / n_days, 6) AS cusum
FROM base
"""


@register("e19_cusum_changepoint", _E19_ORACLE)
def e19_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint statistic over daily event volume per type —
    the sequential-detection primitive behind "did traffic shift and
    WHEN": S_t = max(0, S_{t-1} + (x_t − μ)) spikes when volume runs
    persistently above its mean. The recursion is rewritten in closed
    form as S_t = R_t − min(0, min_{j≤t} R_j) where R is the running
    sum of deviations — two stacked windows (cumulative sum, then
    cumulative min), no iterative loop, no state. Deviations are kept
    EXACT by scaling to integer units of 1/n_days (x_t·N − Σx —
    integer algebra, no per-row float mean subtraction), so the window
    sums are exact BIGINTs in any engine; the statistic is divided
    back and ROUND-wrapped only at the end.

    Shape: one scan, one (type, day) aggregate — output is days × types
    sized — then ONE window exchange keyed by type carries everything:
    the per-type totals are unordered whole-partition windows stacked
    on the same exchange as the running sum/min (a groupBy+join-back
    would aggregate the daily table twice — Spark does not reuse the
    shared subplan across a self-join)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w_tot = Window.partitionBy("event_type")
    dev = daily.select(
        "event_type",
        "day",
        "n_events",
        F.count(F.lit(1)).over(w_tot).alias("n_days"),
        (
            F.col("n_events") * F.count(F.lit(1)).over(w_tot)
            - F.sum("n_events").over(w_tot)
        ).alias("delta"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = dev.withColumn("r", F.sum("delta").over(w)).withColumn(
        "m", F.min(F.col("r")).over(w)
    )
    return base.select(
        "event_type",
        "day",
        "n_events",
        F.round(
            (F.col("r") - F.least(F.col("m"), F.lit(0))).cast("double")
            / F.col("n_days"),
            6,
        ).alias("cusum"),
    )


# ---------------------------------------------------------------------------
# ts5 — weekday-profile seasonal decomposition of daily event volume
# ---------------------------------------------------------------------------

#: day-of-week as (epoch_days % 7) — identical integer arithmetic in
#: both engines (Spark dayofweek() is 1=Sun..7, DuckDB dayofweek() is
#: 0=Sun..6: a dialect seam avoided entirely). 0 = Thursday.
_TS5_DOW_SPARK = "pmod(datediff(to_date(ts), DATE '1970-01-01'), 7)"
_TS5_DOW_SQL = (
    "((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7) + 7) % 7"
)

_TS5_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         {_TS5_DOW_SQL} AS dow,
         COUNT(*) AS n_events
  FROM events
  GROUP BY event_type, CAST(ts AS DATE), {_TS5_DOW_SQL}
),
w AS (
  SELECT event_type, day, dow, n_events,
         SUM(n_events) OVER (PARTITION BY event_type) AS s,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(n_events) OVER (PARTITION BY event_type, dow) AS sd,
         COUNT(*) OVER (PARTITION BY event_type, dow) AS nd
  FROM daily
)
SELECT event_type, day, CAST(dow AS INT) AS dow,
       CAST(n_events AS BIGINT) AS n_events,
       ROUND(CAST(sd * n - s * nd AS DOUBLE) / (n * nd), 6) AS seasonal,
       ROUND(CAST(n_events * nd - sd AS DOUBLE) / nd, 6) AS residual
FROM w
"""


@register("ts5_seasonal_decompose", _TS5_ORACLE)
def ts5_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-profile decomposition of daily event volume per type:
    seasonal_d = mean(volume on weekday d) − overall mean, and
    residual_t = volume_t − weekday mean — the classical additive
    seasonal split that separates "Mondays are always slow" from "this
    Monday was anomalous". e12/e19 flag WHEN something deviates; ts5
    produces the seasonal baseline they deviate FROM (and the residual
    is the right input to feed them: de-seasonalized, a weekly rhythm
    no longer trips the detector every Saturday).

    Exactness: both components are kept in integer arithmetic over the
    common denominator (seasonal·n·n_d = S_d·n − S·n_d; residual·n_d =
    x_t·n_d − S_d — exact BIGINTs in any engine), divided back and
    ROUND-wrapped only at the output (e19's protocol). Day-of-week is
    epoch-days mod 7 on both engines (no dialect seam).

    Scale shape: one scan → one (type, day) aggregate, map-side
    combinable, output days × types sized; then two window exchanges
    over that tiny table (whole-partition totals by type and by
    (type, dow) need different hash keys — both are bounded by the
    date-span × type domain, never by corpus rows)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        F.expr(_TS5_DOW_SPARK).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w_t = Window.partitionBy("event_type")
    w_td = Window.partitionBy("event_type", "dow")
    w = daily.select(
        "event_type",
        "day",
        "dow",
        "n_events",
        F.sum("n_events").over(w_t).alias("s"),
        F.count(F.lit(1)).over(w_t).alias("n"),
        F.sum("n_events").over(w_td).alias("sd"),
        F.count(F.lit(1)).over(w_td).alias("nd"),
    )
    return w.select(
        "event_type",
        "day",
        F.col("dow").cast("int").alias("dow"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(
            (F.col("sd") * F.col("n") - F.col("s") * F.col("nd")).cast("double")
            / (F.col("n") * F.col("nd")),
            6,
        ).alias("seasonal"),
        F.round(
            (F.col("n_events") * F.col("nd") - F.col("sd")).cast("double")
            / F.col("nd"),
            6,
        ).alias("residual"),
    )


# ---------------------------------------------------------------------------
# ts6 — autocorrelation function of daily event volume
# ---------------------------------------------------------------------------

#: ACF lags evaluated (1..MAX_ACF_LAG days on the observed daily series)
MAX_ACF_LAG = 7

_TS6_LEADS_SQL = ",\n         ".join(
    f"LEAD(n_events, {lag}) OVER w AS x{lag}" for lag in range(1, MAX_ACF_LAG + 1)
)
_TS6_STACK_SQL = "\n  UNION ALL\n".join(
    f"  SELECT event_type, n, s, n_events AS x, {lag} AS lag, x{lag} AS xl"
    f" FROM leads"
    for lag in range(1, MAX_ACF_LAG + 1)
)

_TS6_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
st AS (
  SELECT event_type, day, n_events,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(n_events) OVER (PARTITION BY event_type) AS s
  FROM daily
),
leads AS (
  SELECT event_type, n, s, n_events,
         {_TS6_LEADS_SQL}
  FROM st WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
stack AS (
{_TS6_STACK_SQL}
),
agg AS (
  SELECT event_type, lag,
         SUM(CASE WHEN xl IS NOT NULL THEN 1 ELSE 0 END) AS n_pairs,
         SUM(CASE WHEN xl IS NOT NULL
                  THEN CAST(n * x - s AS HUGEINT) * (n * xl - s)
                  ELSE CAST(0 AS HUGEINT) END) AS num,
         SUM(CAST(n * x - s AS HUGEINT) * (n * x - s)) AS den
  FROM stack GROUP BY event_type, lag
)
SELECT event_type, CAST(lag AS INT) AS lag,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS acf
FROM agg
"""


@register("ts6_autocorrelation", _TS6_ORACLE)
def ts6_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the observed daily event-volume series per
    type at lags 1..7: THE diagnostic behind ts5 — a spike at lag 7
    confirms the weekly rhythm ts5 models; a fat lag-1 says volume is
    trending and e12's rolling window needs widening. Computed on the
    observed-day series (the lag is "next observed day", matching how
    ts2/e12 consume the series; gap-filling first is ts1's job).

    Exactness: the centered products are kept on the n^2-scaled
    integer lattice — (n*x_t - S) * (n*x_{{t+l}} - S) is an exact
    integer for every pair, accumulated in DECIMAL(38,0) / HUGEINT so
    nothing overflows or rounds; acf is ONE IEEE division of the two
    exact moments, identical on both engines (EXACT_DOUBLE_OK — no
    ROUND-tie seam). The denominator is the full-series sum of squares
    (the classical ACF normalization), constant across lags.

    Scale shape: one corpus scan -> (type, day) combiner-absorbed
    aggregate (output = date-span x type domain); per-type totals and
    the 7 leads are window functions over that tiny table (two
    exchanges on the type key); the lag stack is built MAP-SIDE with
    array+posexplode — one plan branch, not 7 re-reads (the sp11
    lesson); the final groupBy is over (type, lag) <= 7*|types| rows."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w_t = Window.partitionBy("event_type")
    w_ord = Window.partitionBy("event_type").orderBy("day")
    leads = daily.select(
        "event_type",
        F.count(F.lit(1)).over(w_t).alias("n"),
        F.sum("n_events").over(w_t).alias("s"),
        F.col("n_events").alias("x"),
        *[
            F.lead("n_events", lag).over(w_ord).alias(f"x{lag}")
            for lag in range(1, MAX_ACF_LAG + 1)
        ],
    )
    stack = leads.select(
        "event_type",
        "n",
        "s",
        "x",
        F.posexplode(
            F.array(*[F.col(f"x{lag}") for lag in range(1, MAX_ACF_LAG + 1)])
        ).alias("lag0", "xl"),
    ).select(
        "event_type",
        "n",
        "s",
        "x",
        (F.col("lag0") + 1).alias("lag"),
        "xl",
    )
    cx = (F.col("n") * F.col("x") - F.col("s")).cast("decimal(38,0)")
    cxl = (F.col("n") * F.col("xl") - F.col("s")).cast("decimal(38,0)")
    agg = stack.groupBy("event_type", "lag").agg(
        F.sum(F.when(F.col("xl").isNotNull(), 1).otherwise(0)).alias("n_pairs"),
        F.sum(
            F.when(F.col("xl").isNotNull(), cx * cxl).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("num"),
        F.sum(cx * cx).alias("den"),
    )
    return agg.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        (F.col("num").cast("double") / F.col("den").cast("double")).alias(
            "acf"
        ),
    )


# ---------------------------------------------------------------------------
# ts7 — OLS trend of daily event volume
# ---------------------------------------------------------------------------

_TS7_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
x AS (
  SELECT event_type,
         CAST(day - MIN(day) OVER (PARTITION BY event_type) AS HUGEINT) AS xi,
         CAST(n_events AS HUGEINT) AS yi
  FROM daily
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(xi) AS sx, SUM(yi) AS sy,
         SUM(xi * xi) AS sxx, SUM(xi * yi) AS sxy, SUM(yi * yi) AS syy
  FROM x GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_per_day,
       CAST(sy * sxx - sx * sxy AS DOUBLE)
         / CAST(n * sxx - sx * sx AS DOUBLE) AS intercept,
       CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) AS DOUBLE)
         / CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE) AS r2
FROM m
"""


@register("ts7_trend_slope", _TS7_ORACLE)
def ts7_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares trend of the observed daily event-volume
    series per type: slope (events/day), intercept (fitted volume at
    the series start), and r-squared. The companion ts6's lag-1 ACF
    can't distinguish "trending" from "sticky" — the fitted slope (and
    how much of the variance it explains) is the number a capacity
    planner or drift monitor actually wants before extrapolating
    ingest volume.

    Exactness: x is the day offset from the per-type series start
    (small integers), y the daily count; all five OLS moments are
    exact DECIMAL(38,0)/HUGEINT sums, and slope/intercept/r2 are each
    ONE IEEE division of two exactly-computed integers — identical on
    both engines (EXACT_DOUBLE_OK; the r2 numerator/denominator are
    products of exact integers, still well inside 38 digits since the
    centered moments are bounded by (day span)^2 x volume^2).

    Scale shape: one corpus scan collapses to the (type, day)
    aggregate (combiner-absorbed; output = date span x type domain);
    the series-start MIN is one window over that tiny table; the five
    moments collapse in a second combiner-absorbed groupBy bounded by
    the type domain. Corpus size only affects the first aggregate's
    map side."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w_t = Window.partitionBy("event_type")
    x = daily.select(
        "event_type",
        F.datediff(F.col("day"), F.min("day").over(w_t))
        .cast("decimal(38,0)")
        .alias("xi"),
        F.col("n_events").cast("decimal(38,0)").alias("yi"),
    )
    m = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("xi").alias("sx"),
        F.sum("yi").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).alias("sxx"),
        F.sum(F.col("xi") * F.col("yi")).alias("sxy"),
        F.sum(F.col("yi") * F.col("yi")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        (num.cast("double") / den.cast("double")).alias("slope_per_day"),
        (
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast(
                "double"
            )
            / den.cast("double")
        ).alias("intercept"),
        ((num * num).cast("double") / (den * deny).cast("double")).alias(
            "r2"
        ),
    )


# ---------------------------------------------------------------------------
# ts8 — burstiness (Fano factor) of daily event volume
# ---------------------------------------------------------------------------

_TS8_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(n_events AS HUGEINT)) AS s,
         SUM(CAST(n_events AS HUGEINT) * n_events) AS sxx
  FROM daily GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       CAST(s AS BIGINT) AS n_events,
       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_daily,
       CAST(n * sxx - s * s AS DOUBLE) / CAST(n * s AS DOUBLE) AS fano
FROM m
"""


@register("ts8_dispersion", _TS8_ORACLE)
def ts8_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (Fano factor, population variance / mean) of
    the daily event-volume series per type: the one-number burstiness
    diagnostic — a Poisson arrival process sits at 1.0, a bursty /
    campaign-driven stream far above it, a rate-limited one below. It
    decides whether e12's z-score window or e19's CUSUM threshold can
    assume near-Poisson noise, and which event families need
    per-day (not per-second) capacity headroom.

    Exactness: fano = (n*Sxx - S^2) / (n*S) on exact DECIMAL(38,0) /
    HUGEINT moments — population variance over the mean collapses to
    ONE IEEE division of two exact integers (EXACT_DOUBLE_OK), and the
    mean is one exact-integer division alongside.

    Scale shape: identical to ts6/ts7 — one combiner-absorbed corpus
    aggregate to the (type, day) table, then one type-bounded moment
    aggregate; no windows at all."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    y = F.col("n_events").cast("decimal(38,0)")
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(y).alias("s"),
        F.sum(y * y).alias("sxx"),
    )
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("s").cast("bigint").alias("n_events"),
        (F.col("s").cast("double") / F.col("n").cast("double")).alias(
            "mean_daily"
        ),
        (
            (F.col("n") * F.col("sxx") - F.col("s") * F.col("s")).cast(
                "double"
            )
            / (F.col("n") * F.col("s")).cast("double")
        ).alias("fano"),
    )


# ---------------------------------------------------------------------------
# e21 — peak session concurrency (sweep line over session intervals)
# ---------------------------------------------------------------------------

#: sweep-line time-bucket width: one hour in microseconds. Bucket count
#: is bounded by the calendar span of the corpus, never its row count.
SWEEP_BUCKET_US = 3_600_000_000

_E21_ORACLE = f"""
WITH {_SQL_SESSIONS_CTE},
iv AS (
  SELECT user_id, session_seq,
         MIN(epoch_us(ts)) AS s, MAX(epoch_us(ts)) AS e
  FROM sessions GROUP BY user_id, session_seq
),
pts AS (
  SELECT s AS t, 1 AS d FROM iv
  UNION ALL
  SELECT e + 1, -1 FROM iv
),
net AS (SELECT t, SUM(d) AS nd FROM pts GROUP BY t),
cum AS (SELECT t, SUM(nd) OVER (ORDER BY t) AS c FROM net),
best AS (SELECT c, t FROM cum ORDER BY c DESC, t LIMIT 1),
n AS (SELECT COUNT(*) AS ns FROM iv)
SELECT CAST(ns AS BIGINT) AS n_sessions,
       CAST(c AS BIGINT) AS peak_concurrent,
       CAST(t AS BIGINT) AS first_peak_us
FROM best, n
"""


@register("e21_peak_concurrency", _E21_ORACLE)
def e21_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of simultaneously open sessions (e2's gap contract)
    and the first microsecond it is reached: the classic sweep-line
    interval problem, and the capacity number behind "how many
    concurrent users must the serving tier hold". Each session
    contributes +1 at its first event and -1 one microsecond after its
    last (closed intervals), the deltas collapse per distinct
    timestamp, and the running sum of the sweep is the concurrency
    curve; its max is the answer.

    Exactness: everything is exact integer microseconds and integer
    deltas; the (peak, first-time) pair is picked by the total order
    (concurrency DESC, time ASC) on both engines — no floats anywhere.

    Scale shape: sessionization shuffles once on user_id (e2's plan);
    the interval table is persisted (it feeds both the sweep and the
    count — corpus-sized two-pass input, repo discipline). The running
    sweep NEVER uses a global single-partition window: per-hour-bucket
    totals get a tiny exclusive running-total window (bucket count is
    calendar-bounded), broadcast back as offsets, and the per-time
    cumulative window is PARTITIONED BY bucket (stat3's two-level
    prefix sum). The peak row compiles to TakeOrderedAndProject
    (never a global sort); the two 1-row frames cross in (BNLJ-gated)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(
        F.unix_micros(F.col("ts"))
    ).over(w)
    sessions = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > SESSION_GAP_US), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn(
        "session_seq",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    iv = (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.min(F.unix_micros(F.col("ts"))).alias("s"),
            F.max(F.unix_micros(F.col("ts"))).alias("e"),
        )
        .persist()
    )
    pts = iv.select(F.col("s").alias("t"), F.lit(1).alias("d")).union(
        iv.select((F.col("e") + 1).alias("t"), F.lit(-1).alias("d"))
    )
    # net feeds both the bucket-offset aggregate and the cumulative
    # pass: persist it (distinct-times-sized) so the corpus-wide delta
    # aggregation runs once (r7 FileScan/IMTS audit)
    net = (
        pts.groupBy("t")
        .agg(F.sum("d").alias("nd"))
        .withColumn("bkt", F.expr(f"t DIV {SWEEP_BUCKET_US}"))
        .persist()
    )
    w_bkt = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        net.groupBy("bkt")
        .agg(F.sum("nd").alias("tot"))
        .select(
            "bkt",
            F.coalesce(F.sum("tot").over(w_bkt), F.lit(0)).alias("off"),
        )
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = net.join(F.broadcast(offsets), "bkt").select(
        "t", (F.col("off") + F.sum("nd").over(w_in)).alias("c")
    )
    best = cum.orderBy(F.desc("c"), F.asc("t")).limit(1)
    n = iv.agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
    return n.crossJoin(best).select(
        "n_sessions",
        F.col("c").cast("bigint").alias("peak_concurrent"),
        F.col("t").cast("bigint").alias("first_peak_us"),
    )


# ---------------------------------------------------------------------------
# ts9 — lagged cross-correlation between two event-type volume series
# ---------------------------------------------------------------------------

#: the hypothesized leading / lagging series
XCORR_LEAD = "view"
XCORR_LAG_TYPE = "purchase"

#: lags evaluated: does today's lead-series volume predict the lagging
#: series 0..MAX_XCORR_LAG days later?
MAX_XCORR_LAG = 6

_TS9_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
  FROM events
  WHERE event_type IN ('{XCORR_LEAD}', '{XCORR_LAG_TYPE}')
  GROUP BY event_type, CAST(ts AS DATE)
),
a AS (SELECT day, n_events AS x FROM daily WHERE event_type = '{XCORR_LEAD}'),
b AS (SELECT day, n_events AS y FROM daily
      WHERE event_type = '{XCORR_LAG_TYPE}'),
pairs AS (
  SELECT l.lag, CAST(a.x AS HUGEINT) AS x, CAST(b.y AS HUGEINT) AS y
  FROM a
  CROSS JOIN (SELECT UNNEST(range(0, {MAX_XCORR_LAG + 1})) AS lag) l
  JOIN b ON b.day = a.day + CAST(l.lag AS INT)
),
m AS (
  SELECT lag, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag,
       CAST(n AS BIGINT) AS n_pairs,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / SQRT(CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE))
         AS xcorr
FROM m
WHERE n >= 2 AND n * sxx > sx * sx AND n * syy > sy * sy
"""


@register("ts9_cross_correlation", _TS9_ORACLE)
def ts9_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged Pearson cross-correlation between the daily volume of a
    hypothesized LEADING event type (views) and a LAGGING one
    (purchases) at lags 0..6 days: the lag with the peak says how far
    ahead browsing volume predicts buying volume — the cheap
    lead-indicator screen to run before building any forecasting
    feature on top of e3's attribution joins. Pairs are formed on
    observed days only (x_t, y_{{t+l}}); degenerate lags (under two
    pairs or zero variance) are dropped identically on both engines.

    Exactness: the five moments per lag are exact DECIMAL(38,0)/
    HUGEINT sums; xcorr is the deterministic IEEE chain num / sqrt(den)
    where num and den are exactly-computed integers converted once —
    IEEE sqrt and division are correctly rounded on both engines, so
    the doubles are bit-identical (EXACT_DOUBLE_OK; no unordered
    double accumulation anywhere).

    Scale shape: one type-filtered corpus scan collapses to the
    (type, day) aggregate (predicate pushed to the scan); the lag
    dimension fans out MAP-SIDE on the tiny lead-series table (one
    plan branch, ts6's lesson) into ONE equi-join on calendar day
    (date-span-bounded sides); the moment aggregate is bounded by the
    lag count."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin(XCORR_LEAD, XCORR_LAG_TYPE))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .persist()
    )
    a = daily.filter(F.col("event_type") == XCORR_LEAD).select(
        "day", F.col("n_events").alias("x")
    )
    b = daily.filter(F.col("event_type") == XCORR_LAG_TYPE).select(
        F.col("day").alias("bday"), F.col("n_events").alias("y")
    )
    fanned = a.select(
        "day",
        "x",
        F.explode(
            F.sequence(F.lit(0), F.lit(MAX_XCORR_LAG))
        ).alias("lag"),
    ).withColumn("tday", F.date_add(F.col("day"), F.col("lag")))
    pairs = fanned.join(b, fanned["tday"] == b["bday"]).select(
        "lag",
        F.col("x").cast("decimal(38,0)").alias("x"),
        F.col("y").cast("decimal(38,0)").alias("y"),
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        m.filter((F.col("n") >= 2) & (denx > 0) & (deny > 0))
        .select(
            F.col("lag").cast("int").alias("lag"),
            F.col("n").cast("bigint").alias("n_pairs"),
            (
                num.cast("double") / F.sqrt((denx * deny).cast("double"))
            ).alias("xcorr"),
        )
    )


# ---------------------------------------------------------------------------
# e22 — ingest coverage gaps: missing hours per event type
# ---------------------------------------------------------------------------

_E22_ORACLE = """
WITH idx AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h
  FROM events GROUP BY event_type, epoch_us(ts) // 3600000000
),
bounds AS (
  SELECT MIN(h) AS h0, MAX(h) AS h1 FROM idx
),
cal AS (
  SELECT UNNEST(range(h0, h1 + 1)) AS h FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT t.event_type, c.h FROM types t CROSS JOIN cal c),
miss AS (
  SELECT g.event_type, g.h
  FROM grid g LEFT JOIN idx i
    ON g.event_type = i.event_type AND g.h = i.h
  WHERE i.h IS NULL
)
SELECT t.event_type,
       (SELECT CAST(h1 - h0 + 1 AS BIGINT) FROM bounds) AS n_hours_span,
       (SELECT COUNT(*) FROM idx i WHERE i.event_type = t.event_type)
         AS n_active_hours,
       (SELECT COUNT(*) FROM miss m WHERE m.event_type = t.event_type)
         AS n_missing_hours,
       (SELECT make_timestamp(MIN(m.h) * 3600000000)
        FROM miss m WHERE m.event_type = t.event_type) AS first_gap_hour
FROM types t
"""


@register("e22_missing_hours", _E22_ORACLE)
def e22_missing_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest coverage-gap audit: for each event type, how many hours
    of the platform's observed [first, last] hour range carry ZERO
    events of that type, and when the first such gap opens. Every
    downstream consumer of this table (e1's rollups, ts5-ts9's daily
    series, the streaming drains) silently treats absence as zero —
    this is the query that says whether zero means "no activity" or
    "the collector was down", which is the first question any anomaly
    in e12/e19 should be screened against.

    Exactness: the hour index is floor(unix_micros / 3.6e9) — pure
    integer arithmetic identical on both engines (no date_trunc /
    timezone seam); all outputs are exact counts; the gap timestamp is
    the index scaled back to epoch microseconds.

    Scale shape: the corpus scan collapses map-side-combinably to the
    (type, hour) table (bounded by span x type domain at any corpus
    size). The calendar is explode(sequence(h0, h1)) off the 1-row
    bounds aggregate (BNLJ-gated 1-row broadcast crossJoin) - the grid
    is span-bounded, the anti-join and the final aggregates touch only
    calendar-bounded rows; corpus size affects only the first
    aggregate's map side."""
    ev = table(spark, sf_dir, "events")
    idx = ev.groupBy(
        "event_type",
        # integer DIV, never floor(double /): a micros value 1 below an
        # hour boundary could round UP through the double quotient and
        # flip the floor by one vs DuckDB's exact // (invisible on
        # boundary-sparse test data, guaranteed eventually at scale)
        F.expr("unix_micros(ts) DIV 3600000000").alias("h"),
    ).agg(F.count(F.lit(1)).alias("n"))
    idx = idx.localCheckpoint(eager=True)
    bounds = idx.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    types = idx.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
        )
    )
    miss = grid.join(idx.select("event_type", "h"), ["event_type", "h"], "left_anti")
    active = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_active_hours")
    )
    gaps = miss.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_missing_hours"),
        F.min("h").alias("first_h"),
    )
    return (
        active.join(gaps, "event_type", "left")
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            (F.col("h1") - F.col("h0") + 1).cast("bigint").alias("n_hours_span"),
            F.col("n_active_hours").cast("bigint").alias("n_active_hours"),
            F.coalesce(F.col("n_missing_hours"), F.lit(0))
            .cast("bigint")
            .alias("n_missing_hours"),
            F.timestamp_micros(F.col("first_h") * F.lit(3_600_000_000)).alias(
                "first_gap_hour"
            ),
        )
    )


# ---------------------------------------------------------------------------
# ts10 — Theil–Sen robust trend of daily event volume
# ---------------------------------------------------------------------------

_TS10_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
x AS (
  SELECT event_type,
         CAST(day - MIN(day) OVER (PARTITION BY event_type) AS BIGINT) AS xi,
         CAST(n_events AS BIGINT) AS yi
  FROM daily
),
pairs AS (
  SELECT a.event_type,
         b.yi - a.yi AS dy,
         b.xi - a.xi AS dx,
         CAST(b.yi - a.yi AS DOUBLE) / CAST(b.xi - a.xi AS DOUBLE) AS slope
  FROM x a JOIN x b
    ON a.event_type = b.event_type AND a.xi < b.xi
),
ranked AS (
  SELECT event_type, slope,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY slope, dy, dx
         ) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS np
  FROM pairs
),
days AS (
  SELECT event_type, COUNT(*) AS n_days FROM x GROUP BY event_type
)
SELECT r.event_type,
       CAST(d.n_days AS BIGINT) AS n_days,
       CAST(r.np AS BIGINT) AS n_pairs,
       r.slope AS ts_slope
FROM ranked r JOIN days d ON r.event_type = d.event_type
WHERE r.rn = (r.np + 1) // 2
"""


@register("ts10_theil_sen", _TS10_ORACLE)
def ts10_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event volume per type: the
    median of all pairwise slopes. ts7's OLS slope has breakdown
    point zero - one collector outage day (see e22) or one bot burst
    (e16) drags the fitted trend arbitrarily; the Theil-Sen estimator
    tolerates ~29% contaminated days, so the PAIR (ts7, ts10) is the
    actual drift monitor: agreement means trust OLS's efficiency,
    divergence means the days flagged by a14/e12 are driving it.

    Exactness: each pairwise slope is ONE IEEE division of two exact
    integers (dy/dx on the day-offset lattice) - deterministic and
    identical on both engines; the median is an interpolation-FREE
    lower-median order statistic (cur1's lesson) selected by the
    total order (slope, dy, dx), so ties between equal doubles
    resolve identically (EXACT_DOUBLE_OK).

    Scale shape: the corpus collapses map-side-combinably to the
    (type, day) table; the pair self-join and the ranking window run
    over calendar-bounded rows (span^2/2 pairs per type - corpus-size
    INDEPENDENT; ~400 rows per type here, bounded for any corpus at
    the same date span). Corpus size affects only the first
    aggregate's map side; no global sort ever sees fact rows."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w_t = Window.partitionBy("event_type")
    x = daily.select(
        "event_type",
        F.datediff(F.col("day"), F.min("day").over(w_t))
        .cast("bigint")
        .alias("xi"),
        F.col("n_events").cast("bigint").alias("yi"),
    ).localCheckpoint(eager=True)
    a, b = x.alias("a"), x.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.xi") < F.col("b.xi")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (F.col("b.yi") - F.col("a.yi")).alias("dy"),
        (F.col("b.xi") - F.col("a.xi")).alias("dx"),
        (
            (F.col("b.yi") - F.col("a.yi")).cast("double")
            / (F.col("b.xi") - F.col("a.xi")).cast("double")
        ).alias("slope"),
    )
    w_rank = Window.partitionBy("event_type").orderBy("slope", "dy", "dx")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_t).alias("np"),
    )
    days = x.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return (
        ranked.filter(F.col("rn") == F.expr("(np + 1) DIV 2"))
        .join(F.broadcast(days), "event_type")
        .select(
            "event_type",
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("np").cast("bigint").alias("n_pairs"),
            F.col("slope").alias("ts_slope"),
        )
    )


# ---------------------------------------------------------------------------
# e23 — Kaplan–Meier time-to-conversion survival curve
# ---------------------------------------------------------------------------

_E23_ORACLE = """
WITH s AS (
  SELECT user_id, MIN(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t1
  FROM events e JOIN s ON e.user_id = s.user_id AND e.ts >= s.t0
  WHERE e.event_type = 'purchase'
  GROUP BY e.user_id
),
horizon AS (SELECT CAST(MAX(ts) AS DATE) AS dmax FROM events),
dur AS (
  SELECT s.user_id,
         CASE WHEN p.t1 IS NOT NULL
              THEN date_diff('day', CAST(s.t0 AS DATE), CAST(p.t1 AS DATE))
              ELSE date_diff('day', CAST(s.t0 AS DATE), dmax) END AS d,
         CASE WHEN p.t1 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM s LEFT JOIN p ON s.user_id = p.user_id
  CROSS JOIN horizon
),
counts AS (
  SELECT d, CAST(SUM(ev) AS BIGINT) AS e, CAST(SUM(1 - ev) AS BIGINT) AS c
  FROM dur GROUP BY d
),
n AS (SELECT COUNT(*) AS nn FROM dur),
risk AS (
  SELECT d, e, c,
         nn - COALESCE(SUM(e + c) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_at_risk
  FROM counts CROSS JOIN n
),
terms AS (
  SELECT d, e, c, n_at_risk,
         CASE WHEN n_at_risk = e THEN NULL
              ELSE CAST(ROUND(LN(n_at_risk - e), 9) AS DECIMAL(28,10))
                   - CAST(ROUND(LN(n_at_risk), 9) AS DECIMAL(28,10)) END
           AS term,
         CASE WHEN n_at_risk = e THEN 1 ELSE 0 END AS z
  FROM risk WHERE e > 0
)
SELECT d AS dur_days,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       e AS n_events,
       c AS n_censored,
       CASE WHEN MAX(z) OVER (ORDER BY d) = 1 THEN NULL
            ELSE CAST(SUM(term) OVER (ORDER BY d) AS DOUBLE) END
         AS log_survival
FROM terms
"""


@register("e23_kaplan_meier", _E23_ORACLE)
def e23_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-purchase after
    signup, with right-censoring at the observation horizon — THE
    estimator for "how long until users convert" when many haven't
    converted yet (naive mean-of-converted-durations is survivorship-
    biased; KM uses the censored users' at-risk time correctly). One
    row per event day: the risk set, events, censorings, and the
    cumulative log-survival log S(t) = sum log((n_i - d_i)/n_i).

    Exactness: durations are calendar-day integers (CAST-to-DATE
    difference, the e5 discipline); risk sets are exact integers from
    a prefix sum; each KM factor contributes ROUND(LN(int), 9) terms
    summed as DECIMAL (t21's log-lattice discipline — association
    order cannot leak), and log S(t) is that exact decimal sum cast
    once to double. S(t) = 0 (risk set extinguished) is reported as
    NULL log-survival from that day on, decided by an integer flag.
    No EXP anywhere — the one op whose cross-engine ulp behavior is
    unpinned stays out of the values.

    Scale shape: two combiner-absorbed per-user aggregates (signup
    min, conditional purchase min) joined on user_id, a 1-row horizon
    broadcast, then everything collapses to the (duration-day) grid —
    bounded by the observation span in DAYS at any corpus size, so the
    cumulative windows run on a calendar-bounded frame (ts5's 'tiny
    window exchange' class), never over users or events."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s.select(F.col("user_id").alias("s_user"), "t0"),
              (F.col("user_id") == F.col("s_user"))
              & (F.col("ts") >= F.col("t0")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    horizon = ev.agg(F.max("ts").cast("date").alias("dmax"))
    dur = (
        s.join(p, "user_id", "left_outer")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("t1").isNotNull(),
                F.datediff(F.col("t1").cast("date"), F.col("t0").cast("date")),
            )
            .otherwise(F.datediff(F.col("dmax"), F.col("t0").cast("date")))
            .alias("d"),
            F.col("t1").isNotNull().cast("long").alias("ev"),
        )
        .localCheckpoint(eager=True)  # feeds the grid AND the cohort count
    )
    counts = dur.groupBy("d").agg(
        F.sum("ev").cast("bigint").alias("e"),
        F.sum(1 - F.col("ev")).cast("bigint").alias("c"),
    )
    n1 = dur.agg(F.count(F.lit(1)).alias("nn"))
    w_prev = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    risk = counts.crossJoin(F.broadcast(n1)).select(
        "d",
        "e",
        "c",
        (
            F.col("nn")
            - F.coalesce(F.sum(F.col("e") + F.col("c")).over(w_prev), F.lit(0))
        ).alias("n_at_risk"),
    )
    dec = "decimal(28,10)"
    terms = risk.filter(F.col("e") > 0).select(
        "d",
        "e",
        "c",
        "n_at_risk",
        F.when(
            F.col("n_at_risk") == F.col("e"), F.lit(None).cast(dec)
        )
        .otherwise(
            F.round(F.log(F.col("n_at_risk") - F.col("e")), 9).cast(dec)
            - F.round(F.log(F.col("n_at_risk")), 9).cast(dec)
        )
        .alias("term"),
        (F.col("n_at_risk") == F.col("e")).cast("long").alias("z"),
    )
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        F.col("d").alias("dur_days"),
        "n_at_risk",
        F.col("e").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.when(F.max("z").over(w_cum) == 1, F.lit(None).cast("double"))
        .otherwise(F.sum("term").over(w_cum).cast("double"))
        .alias("log_survival"),
    )


# ---------------------------------------------------------------------------
# e24 — stationary distribution of the event-transition Markov chain
# ---------------------------------------------------------------------------

#: fixed-point scale for the stationary-vector iteration (1e-9 units):
#: p[a]*q[a][b] products stay under 2^63 (1e9 * 1e9), so both engines
#: run the identical half-up BIGINT arithmetic — the cc3 protocol.
MARKOV_SCALE = 10 ** 9
MARKOV_ROUNDS = 8


def _mk_halfup(a: str, b: str) -> str:
    return f"((2 * ({a}) + ({b})) // (2 * ({b})))"


def _e24_oracle() -> str:
    rounds = []
    for k in range(MARKOV_ROUNDS):
        rounds.append(f"""
p{k + 1} AS MATERIALIZED (
  SELECT ty.t,
         COALESCE(m.s, 0) AS p
  FROM types ty LEFT JOIN (
    SELECT q.to_type AS t,
           CAST(SUM({_mk_halfup('p' + str(k) + '.p * q.q', str(MARKOV_SCALE))}) AS BIGINT) AS s
    FROM p{k} JOIN q ON q.from_type = p{k}.t
    GROUP BY q.to_type
  ) m ON m.t = ty.t
)""".strip())
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS next_type
  FROM events
),
cells AS (
  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
),
types AS (SELECT DISTINCT event_type AS t FROM events),
na AS (SELECT from_type, SUM(n) AS tot FROM cells GROUP BY from_type),
q AS (
  SELECT c.from_type, c.to_type,
         {_mk_halfup(f'c.n * {MARKOV_SCALE}', 'na.tot')} AS q
  FROM cells c JOIN na ON na.from_type = c.from_type
),
p0 AS MATERIALIZED (
  SELECT t, {MARKOV_SCALE} // (SELECT COUNT(*) FROM types) AS p FROM types
),
{",".join(rounds)}
SELECT t AS event_type,
       CAST(p AS BIGINT) AS pi_scaled,
       CAST(p AS DOUBLE) / {MARKOV_SCALE} AS pi
FROM p{MARKOV_ROUNDS}
"""


@register("e24_markov_stationary", _e24_oracle())
def e24_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-transition Markov
    chain (e11's matrix, row-normalized) by 8 power-iteration rounds
    from uniform — 'where do sessions spend their time asymptotically',
    the summary that turns e11's raw counts into comparable occupancy
    shares across corpora and the natural prior for next-action
    features.

    Exactness: the cc3 protocol end-to-end — transition probabilities
    and the iterated vector live in 1e-9 fixed-point BIGINTs, every
    rounding is the explicit half-up (2a+b)//(2b), and products are
    bounded by MARKOV_SCALE² < 2^63, so both engines walk bit-identical
    integers; the display pi is ONE exact division. Types with no
    outgoing transitions would leak mass (documented dangling
    semantics; all five types have outgoing edges in this dataset at
    every SF).

    Scale shape: ONE windowed pass over events builds the transition
    cells (e11's plan — pre-bucketing events by user makes it
    exchange-free); everything after runs on the (types × types) cell
    table — K²-bounded by the type vocabulary, so it is COLLECTED and
    the 8 rounds run as exact Python integer arithmetic on the driver
    (pi1's constant-size-collect precedent; was ~50 Spark jobs of
    K-row joins). Iteration cost is O(K²) per round REGARDLESS of
    corpus size — the canonical aggregate-then-iterate split."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    cells = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    types = sorted(
        r["t"] for r in ev.select(F.col("event_type").alias("t")).distinct().collect()
    )
    if not types:
        return spark.createDataFrame(
            [], "event_type string, pi_scaled long, pi double"
        )

    def halfup(a: int, b: int) -> int:
        return (2 * a + b) // (2 * b)

    tot: dict = {}
    for r in cells:
        tot[r["from_type"]] = tot.get(r["from_type"], 0) + r["n"]
    q = [
        (r["from_type"], r["to_type"], halfup(r["n"] * MARKOV_SCALE, tot[r["from_type"]]))
        for r in cells
    ]
    p = {t: MARKOV_SCALE // len(types) for t in types}
    for _ in range(MARKOV_ROUNDS):
        s: dict = {}
        for ft, tt, qv in q:
            if ft in p:
                s[tt] = s.get(tt, 0) + halfup(p[ft] * qv, MARKOV_SCALE)
        p = {t: s.get(t, 0) for t in types}
    return local_rows_df(
        spark,
        [(t, p[t], float(p[t]) / MARKOV_SCALE) for t in types],
        "event_type string, pi_scaled long, pi double",
    )


# ---------------------------------------------------------------------------
# e25 — difference-in-differences uplift readout
# ---------------------------------------------------------------------------

from bc_proj3_spark.functions.hashing import sql_hash60 as _sql_h60_e25
from bc_proj3_spark.operators.sampling import _sql_seeded as _sql_sd_e25

treated_sql = _sql_h60_e25(_sql_sd_e25("did", "CAST(user_id AS VARCHAR)"))

_E25_ORACLE = f"""
WITH base AS (
  SELECT user_id,
         epoch_us(ts) // 86400000000 AS day,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
         {treated_sql} % 2 AS treated
  FROM events
),
span AS (
  SELECT (MIN(day) + MAX(day) + 1) // 2 AS cutover FROM base
),
cells AS (
  SELECT treated,
         CASE WHEN day >= (SELECT cutover FROM span) THEN 1 ELSE 0 END
           AS post,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM base GROUP BY 1, 2
),
means AS (
  SELECT treated, post, n_events, sum_cents,
         CAST(sum_cents AS DOUBLE) / n_events AS mean_cents
  FROM cells
),
did AS (
  SELECT
    (MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_cents END)
     - MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_cents END))
    - (MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_cents END)
       - MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_cents END))
      AS did_cents
  FROM means
)
SELECT CAST(treated AS INTEGER) AS treated, CAST(post AS INTEGER) AS post,
       n_events, sum_cents, mean_cents,
       (SELECT did_cents FROM did) AS did_cents
FROM means
"""


@register("e25_did_uplift", _E25_ORACLE)
def e25_did_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences uplift readout: users are hash-
    assigned to treatment/control (stat6's seeded-coin discipline — a
    user's arm never changes as data grows), the calendar is split at
    the observation midpoint, and the 2×2 (arm × period) cell means of
    event value yield DiD = (T_post − T_pre) − (C_post − C_pre) — the
    causal-baseline estimate that subtracts out any secular trend both
    arms share. Completes the experimentation family: e14 assigns
    variants, stat2/5/6/7 test differences, e25 is the panel-data
    readout every launch review wants when a clean A/B wasn't run.

    Exactness: arm and period are exact integer hashes/divisions on
    the day lattice (e22's integer-hour lesson, applied to days); cell
    sums are exact cents; each mean is ONE IEEE division and DiD is a
    fixed subtraction chain over those four identical doubles.

    Scale shape: ONE events scan → map-side-combinable 4-cell
    aggregate (the 1-row calendar span rides a broadcast scalar); the
    DiD scalar broadcasts back onto 4 rows. Nothing user-count-sized
    ever materializes — at 100 TB this is scan + combine, the cheapest
    possible experiment readout."""
    from bc_proj3_spark.functions.hashing import hash60
    from bc_proj3_spark.operators.sampling import _seeded

    ev = table(spark, sf_dir, "events")
    base = ev.select(
        (
            hash60(_seeded("did", F.col("user_id").cast("string"))) % 2
        ).alias("treated"),
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    span = base.agg(
        F.expr("(min(day) + max(day) + 1) div 2").alias("cutover")
    )
    cells = (
        base.crossJoin(F.broadcast(span))
        .groupBy(
            "treated",
            F.when(F.col("day") >= F.col("cutover"), 1)
            .otherwise(0)
            .alias("post"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(
            F.col("treated").cast("int").alias("treated"),
            F.col("post").cast("int").alias("post"),
            "n_events",
            "sum_cents",
            (F.col("sum_cents").cast("double") / F.col("n_events")).alias(
                "mean_cents"
            ),
        )
        .localCheckpoint(eager=True)
    )
    def cell(t: int, p: int):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col("mean_cents"),
            )
        )
    did = cells.agg(
        ((cell(1, 1) - cell(1, 0)) - (cell(0, 1) - cell(0, 0))).alias(
            "did_cents"
        )
    )
    return cells.crossJoin(F.broadcast(did))


# ---------------------------------------------------------------------------
# e26 — stratified inverse-propensity-weighted (IPW) uplift readout
# ---------------------------------------------------------------------------

IPW_STRATA = 3  # user segments with deliberately unequal assignment rates

seg_sql_e26 = f"{_sql_h60_e25(_sql_sd_e25('ipwseg', 'CAST(user_id AS VARCHAR)'))} % {IPW_STRATA}"
coin_sql_e26 = f"{_sql_h60_e25(_sql_sd_e25('ipw', 'CAST(user_id AS VARCHAR)'))} % 100"

_E26_ORACLE = f"""
WITH base AS (
  SELECT {seg_sql_e26} AS seg,
         CASE WHEN {coin_sql_e26} < 25 + 25 * ({seg_sql_e26})
              THEN 1 ELSE 0 END AS treated,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
cells AS (
  SELECT seg,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(treated) AS BIGINT) AS n_treated,
         CAST(SUM(treated * cents) AS BIGINT) AS sum_cents_treated,
         CAST(SUM((1 - treated) * cents) AS BIGINT) AS sum_cents_control
  FROM base GROUP BY seg
),
tot AS (
  SELECT CAST(SUM(n_events) AS BIGINT) AS n_all,
         CAST(SUM(n_treated) AS BIGINT) AS t_all,
         CAST(SUM(sum_cents_treated) AS BIGINT) AS st_all,
         CAST(SUM(sum_cents_control) AS BIGINT) AS sc_all
  FROM cells
),
m AS (
  SELECT seg, n_events, n_treated, sum_cents_treated, sum_cents_control,
         CAST(n_treated AS DOUBLE) / n_events AS e_hat,
         CASE WHEN n_treated > 0 THEN
           CAST(sum_cents_treated AS DOUBLE) / n_treated END AS mean_treated,
         CASE WHEN n_events - n_treated > 0 THEN
           CAST(sum_cents_control AS DOUBLE) / (n_events - n_treated)
         END AS mean_control
  FROM cells
),
terms AS (
  SELECT seg, n_events, n_treated, sum_cents_treated, sum_cents_control,
         e_hat, mean_treated, mean_control,
         mean_treated - mean_control AS gap_cents,
         ROUND((mean_treated - mean_control)
               * (CAST(n_events AS DOUBLE) / (SELECT n_all FROM tot)),
               9) AS ate_term
  FROM m
)
SELECT seg, n_events, n_treated, sum_cents_treated, sum_cents_control,
       e_hat, mean_treated, mean_control, gap_cents,
       (SELECT CAST(SUM(CAST(ate_term AS DECIMAL(28,10))) AS DOUBLE)
        FROM terms) AS ate_ipw,
       (SELECT CAST(st_all AS DOUBLE) / t_all
               - CAST(sc_all AS DOUBLE) / (n_all - t_all)
        FROM tot) AS ate_naive
FROM terms
"""


@register("e26_ipw_uplift", _E26_ORACLE)
def e26_ipw_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified inverse-propensity-weighted treatment-effect readout —
    the observational companion to e25's DiD: when assignment rates
    DIFFER by user segment (here deliberately 25/50/75 % by a second
    hash-coin, the shape of any rollout that launched to power users
    first), the naive treated-vs-control mean gap is confounded by
    segment mix; weighting each stratum's gap by its population share
    (the discrete-propensity Horvitz-Thompson/Hájek estimator,
    Rosenbaum & Rubin 1983) recovers the unconfounded ATE. Emits the
    per-stratum diagnostics a reviewer audits (n, n_treated, estimated
    propensity, cell means, gap) plus both headline numbers — ate_ipw
    and ate_naive — so the confounding bias is the visible difference.

    Exactness: arms/strata are integer hash-coins (e25's discipline);
    cell sums are exact cents; each mean and the propensity are ONE
    IEEE division of exact integers; per-stratum ATE terms are rounded
    to the 9-dp lattice and summed in DECIMAL (order-free); the naive
    contrast is computed from the exact integer totals, not from the
    per-stratum doubles. Degenerate cells (no treated/control rows in
    a stratum) yield NULL means on both engines rather than a division
    seam.

    Scale shape: ONE events scan → a map-side-combinable K-row
    (stratum) aggregate; totals are a reduction OF that aggregate
    (never a second scan) and both headline scalars broadcast back
    onto K rows. At 100 TB this is scan + combine — the same minimal
    shape as e25."""
    from bc_proj3_spark.functions.hashing import hash60
    from bc_proj3_spark.operators.sampling import _seeded

    ev = table(spark, sf_dir, "events")
    seg = (
        hash60(_seeded("ipwseg", F.col("user_id").cast("string")))
        % IPW_STRATA
    )
    coin = hash60(_seeded("ipw", F.col("user_id").cast("string"))) % 100
    treated = F.when(coin < 25 + 25 * seg, 1).otherwise(0)
    base = ev.select(
        seg.alias("seg"),
        treated.alias("treated"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    cells = base.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("treated").cast("bigint").alias("n_treated"),
        F.sum(F.col("treated") * F.col("cents"))
        .cast("bigint")
        .alias("sum_cents_treated"),
        F.sum((1 - F.col("treated")) * F.col("cents"))
        .cast("bigint")
        .alias("sum_cents_control"),
    )
    # K-row aggregate feeds the totals, the per-stratum rows and both
    # headline scalars; the barrier keeps the events scan single-run
    cells = cells.localCheckpoint(eager=True)
    tot = cells.agg(
        F.sum("n_events").cast("bigint").alias("n_all"),
        F.sum("n_treated").cast("bigint").alias("t_all"),
        F.sum("sum_cents_treated").cast("bigint").alias("st_all"),
        F.sum("sum_cents_control").cast("bigint").alias("sc_all"),
    )
    n_control = F.col("n_events") - F.col("n_treated")
    mean_t = F.when(
        F.col("n_treated") > 0,
        F.col("sum_cents_treated").cast("double") / F.col("n_treated"),
    )
    mean_c = F.when(
        n_control > 0,
        F.col("sum_cents_control").cast("double") / n_control,
    )
    terms = cells.crossJoin(F.broadcast(tot)).select(
        "seg",
        "n_events",
        "n_treated",
        "sum_cents_treated",
        "sum_cents_control",
        (F.col("n_treated").cast("double") / F.col("n_events")).alias(
            "e_hat"
        ),
        mean_t.alias("mean_treated"),
        mean_c.alias("mean_control"),
        (mean_t - mean_c).alias("gap_cents"),
        F.round(
            (mean_t - mean_c)
            * (F.col("n_events").cast("double") / F.col("n_all")),
            9,
        ).alias("ate_term"),
        (
            F.col("st_all").cast("double") / F.col("t_all")
            - F.col("sc_all").cast("double")
            / (F.col("n_all") - F.col("t_all"))
        ).alias("ate_naive"),
    )
    terms = terms.localCheckpoint(eager=True)
    ate = terms.agg(
        F.sum(F.col("ate_term").cast("decimal(28,10)"))
        .cast("double")
        .alias("ate_ipw")
    )
    return terms.crossJoin(F.broadcast(ate)).drop("ate_term")


# ---------------------------------------------------------------------------
# e27 — anytime-valid experiment monitoring: daily SPRT over the treated arm
# ---------------------------------------------------------------------------

#: SPRT design constants: H0 p=0.18 vs H1 p=0.20 (brackets the corpus's
#: ~0.198 purchase share so the walk genuinely drifts), alpha = beta =
#: 0.05. The per-event log-likelihood increments and the Wald
#: boundaries are COMPILE-TIME 9-dp literals baked identically into
#: both plans (hs3's discipline — neither engine evaluates LN at run
#: time), so the cumulative LLR is exact decimal arithmetic end to end.
SPRT_P0, SPRT_P1 = 0.18, 0.20
SPRT_L1 = "0.105360516"   # round(ln(p1/p0), 9)
SPRT_L2 = "-0.024692613"  # round(ln((1-p1)/(1-p0)), 9)
SPRT_A = "2.944438979"    # round(ln((1-beta)/alpha), 9)
SPRT_B = "-2.944438979"   # round(ln(beta/(1-alpha)), 9)

_e27_treated = f"{_sql_h60_e25(_sql_sd_e25('sprt', 'CAST(user_id AS VARCHAR)'))} % 2"

_E27_ORACLE = f"""
WITH base AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events
  WHERE {_e27_treated} = 1
),
daily AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(conv) AS BIGINT) AS c
  FROM base GROUP BY day
),
cum AS (
  SELECT day,
         CAST(SUM(n) OVER w AS BIGINT) AS n_cum,
         CAST(SUM(c) OVER w AS BIGINT) AS c_cum
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
scored AS (
  SELECT day, n_cum, c_cum,
         CAST(c_cum AS DECIMAL(18,0)) * CAST({SPRT_L1} AS DECIMAL(12,9))
         + CAST(n_cum - c_cum AS DECIMAL(18,0))
           * CAST({SPRT_L2} AS DECIMAL(12,9)) AS llr_dec
  FROM cum
),
flagged AS (
  SELECT *,
         MIN(CASE WHEN llr_dec >= CAST({SPRT_A} AS DECIMAL(12,9))
                  THEN day END) OVER w2 AS dh1,
         MIN(CASE WHEN llr_dec <= CAST({SPRT_B} AS DECIMAL(12,9))
                  THEN day END) OVER w2 AS dh0
  FROM scored
  WINDOW w2 AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW)
)
SELECT CAST(day AS BIGINT) AS day, n_cum AS n_events,
       c_cum AS n_conversions,
       CAST(llr_dec AS DOUBLE) AS llr,
       CASE WHEN dh1 IS NOT NULL AND (dh0 IS NULL OR dh1 <= dh0)
              THEN 'accept_h1'
            WHEN dh0 IS NOT NULL THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM flagged
"""


@register("e27_sequential_sprt", _E27_ORACLE)
def e27_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anytime-valid experiment monitoring: Wald's sequential
    probability ratio test over the treated arm's daily purchase
    conversions — the ledger an experimentation platform keeps so a
    launch can stop THE DAY the evidence crosses the boundary instead
    of waiting out a fixed horizon (peeking at a fixed-horizon t-test
    inflates false positives; the SPRT's ln((1-b)/a) boundaries make
    daily peeking valid by construction). Completes the
    experimentation family: e14 assigns, stat2/5/6/7 test at a fixed
    horizon, e25/e26 read out causally, e27 monitors sequentially.

    Exactness: arm assignment is the shared seeded hash-coin; daily
    trial/conversion counts are exact BIGINTs prefix-summed on the day
    lattice; the LLR is c*L1 + (n-c)*L2 with L1/L2 compile-time 9-dp
    DECIMAL literals, so every cumulative value and every boundary
    comparison is exact decimal arithmetic — the decision column is
    bit-identical cross-engine. First-crossing semantics (a walk that
    later re-enters the continue band stays decided) come from two
    conditional running MINs of the crossing day.

    Scale shape: ONE events scan → map-side-combinable per-day
    aggregate (bounded by the calendar, not the corpus); the prefix
    sums and crossing windows run over that day-bounded table — at
    100 TB the only corpus-sized work is the scan."""
    from bc_proj3_spark.functions.hashing import hash60 as _h60
    from bc_proj3_spark.operators.sampling import _seeded as _sd
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    base = ev.filter(
        (_h60(_sd("sprt", F.col("user_id").cast("string"))) % 2) == 1
    ).select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "conv"
        ),
    )
    daily = base.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("c"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("n").over(w).cast("bigint").alias("n_cum"),
        F.sum("c").over(w).cast("bigint").alias("c_cum"),
    )
    llr_dec = F.col("c_cum").cast("decimal(18,0)") * F.expr(
        f"CAST({SPRT_L1} AS DECIMAL(12,9))"
    ) + (F.col("n_cum") - F.col("c_cum")).cast("decimal(18,0)") * F.expr(
        f"CAST({SPRT_L2} AS DECIMAL(12,9))"
    )
    scored = cum.withColumn("llr_dec", llr_dec)
    flagged = scored.select(
        "day",
        "n_cum",
        "c_cum",
        "llr_dec",
        F.min(
            F.when(
                F.col("llr_dec") >= F.expr(f"CAST({SPRT_A} AS DECIMAL(12,9))"),
                F.col("day"),
            )
        )
        .over(w)
        .alias("dh1"),
        F.min(
            F.when(
                F.col("llr_dec") <= F.expr(f"CAST({SPRT_B} AS DECIMAL(12,9))"),
                F.col("day"),
            )
        )
        .over(w)
        .alias("dh0"),
    )
    return flagged.select(
        F.col("day").cast("bigint").alias("day"),
        F.col("n_cum").alias("n_events"),
        F.col("c_cum").alias("n_conversions"),
        F.col("llr_dec").cast("double").alias("llr"),
        F.when(
            F.col("dh1").isNotNull()
            & (F.col("dh0").isNull() | (F.col("dh1") <= F.col("dh0"))),
            F.lit("accept_h1"),
        )
        .when(F.col("dh0").isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# e28 — CUPED variance-reduced treatment effect (pre-period covariate)
# ---------------------------------------------------------------------------

_cuped_arm_sql = f"{_sql_h60_e25(_sql_sd_e25('cuped', 'CAST(user_id AS VARCHAR)'))} % 2"

_E28_ORACLE = f"""
WITH base AS (
  SELECT user_id,
         epoch_us(ts) // 86400000000 AS day,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
         {_cuped_arm_sql} AS treated
  FROM events
),
span AS (
  SELECT (MIN(day) + MAX(day) + 1) // 2 AS cutover FROM base
),
per_user AS (
  SELECT user_id, MAX(treated) AS treated,
         CAST(SUM(CASE WHEN day < (SELECT cutover FROM span)
                       THEN cents ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN day >= (SELECT cutover FROM span)
                       THEN cents ELSE 0 END) AS BIGINT) AS y
  FROM base GROUP BY user_id
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(treated) AS BIGINT) AS nt,
         SUM(CAST(x AS HUGEINT)) AS sx,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(treated * x AS HUGEINT)) AS sxt,
         SUM(CAST(treated * y AS HUGEINT)) AS syt
  FROM per_user
),
m AS (
  SELECT n, nt,
         CASE WHEN n * sxx - sx * sx > 0 THEN
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) END AS theta,
         CASE WHEN n > 0 THEN CAST(sx AS DOUBLE) / n END AS mean_x_all,
         CASE WHEN nt > 0 THEN CAST(sxt AS DOUBLE) / nt END AS mean_x_t,
         CASE WHEN nt > 0 THEN CAST(syt AS DOUBLE) / nt END AS mean_y_t,
         CASE WHEN n - nt > 0 THEN
           CAST(sx - sxt AS DOUBLE) / (n - nt) END AS mean_x_c,
         CASE WHEN n - nt > 0 THEN
           CAST(sy - syt AS DOUBLE) / (n - nt) END AS mean_y_c
  FROM s
)
SELECT n AS n_users, nt AS n_treated, theta,
       mean_y_t - mean_y_c AS ate_naive_cents,
       (mean_y_t - theta * (mean_x_t - mean_x_all))
         - (mean_y_c - theta * (mean_x_c - mean_x_all)) AS ate_cuped_cents
FROM m
"""


@register("e28_cuped_adjusted_ate", _E28_ORACLE)
def e28_cuped_adjusted_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced treatment-effect readout (Deng et al.
    WSDM'13) — the fourth leg of the experimentation family: e25 DiD,
    e26 IPW, e27 sequential, e28 variance reduction. Each user's
    PRE-period spend (before the observation-midpoint cutover, the e25
    lattice) is the covariate; the adjusted outcome y - θ(x - x̄)
    shrinks between-user variance without biasing the contrast because
    arm assignment (hash coin) is independent of x. Emits the pooled
    θ = Cov(x,y)/Var(x), the naive arm contrast, and the CUPED
    contrast — on hash-balanced arms the two estimates agree in
    expectation and the report makes the variance reduction auditable.

    Exactness: per-user pre/post cents are exact integer sums on the
    integer day lattice; θ's numerator n·Σxy − Σx·Σy and denominator
    n·Σx² − (Σx)² are exact DECIMAL(38,0)/HUGEINT and the ratio is ONE
    IEEE division (g3 >2^53-conversion class, pinned at sf0.1); every
    mean is one division of exact integers and both headline contrasts
    are fixed chains over those engine-identical doubles. Degenerate
    inputs (empty, single-arm, constant x) yield NULLs via the same
    CASE guards on both engines — never a /0 seam.

    Scale shape: ONE events scan → per-user aggregate (map-side
    combinable, one shuffle on user_id) → a 1-row moment aggregate
    (localCheckpointed — feeds every output column); the cutover is a
    broadcast 1-row min/max. Nothing user-sized leaves the executors
    twice."""
    from bc_proj3_spark.functions.hashing import hash60
    from bc_proj3_spark.operators.sampling import _seeded

    events = table(spark, sf_dir, "events")
    # exact integer floor division (e25's lattice) — a double divide +
    # cast truncates toward zero and rounds at far-out days, diverging
    # from the oracle's `//` on pre-epoch or far-future timestamps
    day = F.expr("unix_micros(ts) div 86400000000")
    treated = (
        hash60(_seeded("cuped", F.col("user_id").cast("string"))) % 2
    ).cast("bigint")
    base = events.select(
        "user_id",
        day.alias("day"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        treated.alias("treated"),
    )
    span = base.agg(
        F.expr("(min(day) + max(day) + 1) div 2").alias("cutover")
    )
    per_user = (
        base.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.max("treated").alias("treated"),
            F.sum(
                F.when(F.col("day") < F.col("cutover"), F.col("cents"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(F.col("day") >= F.col("cutover"), F.col("cents"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    s = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("treated").cast("bigint").alias("nt"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias("sxy"),
        F.sum(
            (F.col("treated") * F.col("x")).cast("decimal(38,0)")
        ).alias("sxt"),
        F.sum(
            (F.col("treated") * F.col("y")).cast("decimal(38,0)")
        ).alias("syt"),
    ).localCheckpoint(eager=True)
    n_dec = F.col("n").cast("decimal(19,0)")
    var_num = n_dec * F.col("sxx") - F.col("sx") * F.col("sx")
    cov_num = n_dec * F.col("sxy") - F.col("sx") * F.col("sy")
    theta = F.when(var_num > 0, cov_num.cast("double") / var_num.cast("double"))
    nc = F.col("n") - F.col("nt")
    mean_x_all = F.when(
        F.col("n") > 0, F.col("sx").cast("double") / F.col("n")
    )
    mean_x_t = F.when(
        F.col("nt") > 0, F.col("sxt").cast("double") / F.col("nt")
    )
    mean_y_t = F.when(
        F.col("nt") > 0, F.col("syt").cast("double") / F.col("nt")
    )
    mean_x_c = F.when(
        nc > 0, (F.col("sx") - F.col("sxt")).cast("double") / nc
    )
    mean_y_c = F.when(
        nc > 0, (F.col("sy") - F.col("syt")).cast("double") / nc
    )
    m = s.select(
        "n",
        "nt",
        theta.alias("theta"),
        mean_x_all.alias("mean_x_all"),
        mean_x_t.alias("mean_x_t"),
        mean_y_t.alias("mean_y_t"),
        mean_x_c.alias("mean_x_c"),
        mean_y_c.alias("mean_y_c"),
    )
    return m.select(
        F.col("n").alias("n_users"),
        F.col("nt").alias("n_treated"),
        "theta",
        (F.col("mean_y_t") - F.col("mean_y_c")).alias("ate_naive_cents"),
        (
            (
                F.col("mean_y_t")
                - F.col("theta")
                * (F.col("mean_x_t") - F.col("mean_x_all"))
            )
            - (
                F.col("mean_y_c")
                - F.col("theta")
                * (F.col("mean_x_c") - F.col("mean_x_all"))
            )
        ).alias("ate_cuped_cents"),
    )


# ---------------------------------------------------------------------------
# e29 — experiment sample-size / MDE planning table (power analysis)
# ---------------------------------------------------------------------------

#: (z_{alpha/2} + z_beta)^2 for alpha = 5% two-sided, power = 80%,
#: baked as ONE 9-dp literal so neither engine evaluates an inverse
#: normal CDF (the compile-time-literal discipline of hs3's discounts
#: and e27's LLR bounds): (1.959963985 + 0.841621234)^2 rounded to 9dp.
E29_Z_TOTAL_SQ = "7.848879739"
#: relative MDEs the planning table is evaluated at.
E29_MDE_PCTS = (1, 5, 10)

_E29_ORACLE = f"""
WITH per_user AS (
  SELECT {seg_sql_e26} AS seg, user_id,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY seg, user_id
),
m AS (
  SELECT seg,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         SUM(CAST(v AS HUGEINT)) AS s,
         SUM(CAST(v AS HUGEINT) * v) AS s2
  FROM per_user GROUP BY seg
),
stats AS (
  SELECT seg, n_users,
         CAST(s AS DOUBLE) / n_users AS mean_cents,
         CASE WHEN n_users > 1 THEN
           CAST(n_users * s2 - s * s AS DOUBLE)
             / CAST(n_users * (n_users - 1) AS DOUBLE) END AS var_cents2
  FROM m
)
SELECT seg, n_users, mean_cents, var_cents2,
       CAST(mde.pct AS BIGINT) AS mde_pct,
       mean_cents * mde.pct / 100 AS mde_cents,
       CAST(CEIL(2 * var_cents2 * {E29_Z_TOTAL_SQ}
                 / ((mean_cents * mde.pct / 100)
                    * (mean_cents * mde.pct / 100))) AS BIGINT)
         AS n_required_per_arm
FROM stats
CROSS JOIN (VALUES {', '.join(f'({p})' for p in E29_MDE_PCTS)}) AS mde(pct)
"""


@register("e29_sample_size_mde", _E29_ORACLE)
def e29_sample_size_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experiment PLANNING table — per user-segment, the users per
    arm required to detect a 1/5/10 % lift in mean per-user spend at
    5 % two-sided alpha and 80 % power: n = 2σ²(z_{{α/2}}+z_β)²/δ².
    Completes the experimentation family's lifecycle: e29 sizes the
    test BEFORE launch, e14 assigns, stat2/5/6/7 test, e25-e28 read
    out. The per-segment rows expose why stratification pays — a
    high-variance segment alone can dominate the required runtime.

    Exactness: per-user cents are exact integer sums; mean and the
    sample variance (n·Σv² − (Σv)²)/(n(n−1)) are each ONE IEEE
    division of exact DECIMAL(38,0)/HUGEINT moments; the z-constant is
    a compile-time 9-dp literal (no inverse normal CDF evaluated by
    either engine); n_required is CEIL over the identical fixed double
    chain — bit-identical cross-engine, pinned at sf0.1. Degenerate
    segments (n ≤ 1) yield NULL variance and NULL n on both engines.

    Scale shape: ONE events scan → per-user aggregate (map-side
    combinable) → segment-bounded moment aggregate (checkpointed);
    the 3-row MDE grid fans out MAP-SIDE via explode. Output is
    segments × MDE levels at any corpus size."""
    from bc_proj3_spark.functions.hashing import hash60
    from bc_proj3_spark.operators.sampling import _seeded

    events = table(spark, sf_dir, "events")
    seg = (
        hash60(_seeded("ipwseg", F.col("user_id").cast("string")))
        % IPW_STRATA
    ).cast("bigint")
    per_user = (
        events.select(
            seg.alias("seg"),
            "user_id",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
        .groupBy("seg", "user_id")
        .agg(F.sum("cents").cast("bigint").alias("v"))
    )
    m = per_user.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("v").cast("decimal(19,0)") * F.col("v")).alias("s2"),
    ).localCheckpoint(eager=True)
    n_dec = F.col("n_users").cast("decimal(19,0)")
    mean = F.col("s").cast("double") / F.col("n_users")
    var = F.when(
        F.col("n_users") > 1,
        (n_dec * F.col("s2") - F.col("s") * F.col("s")).cast("double")
        / (F.col("n_users") * (F.col("n_users") - 1)).cast("double"),
    )
    stats = m.select(
        "seg",
        "n_users",
        mean.alias("mean_cents"),
        var.alias("var_cents2"),
    )
    z2 = F.lit(float(E29_Z_TOTAL_SQ))
    mde = F.col("mean_cents") * F.col("mde_pct") / 100
    return (
        stats.select(
            "*",
            F.explode(
                F.array(*[F.lit(p) for p in E29_MDE_PCTS])
            ).alias("mde_pct"),
        )
        .select(
            "seg",
            "n_users",
            "mean_cents",
            "var_cents2",
            F.col("mde_pct").cast("bigint").alias("mde_pct"),
            mde.alias("mde_cents"),
            F.ceil(
                F.lit(2) * F.col("var_cents2") * z2 / (mde * mde)
            )
            .cast("bigint")
            .alias("n_required_per_arm"),
        )
    )
