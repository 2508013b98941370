"""Window functions (SURVEY.md §2.5).

Seeds in the reference: positional slicing (web_scrpaer_2.py:
425-430) and first-identifier selection (web_scraper.py:533-534).
Every window here orders by a total key (explicit tiebreakers) so
results are deterministic across engines; running sums use the
decimal accumulator for bit-exact oracle parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, register_views
from ..registry import register


@register(
    "win_row_number_slice",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey
                              ORDER BY l_linenumber) AS rn
    FROM lineitem
    """,
    tags=("window",),
)
def win_row_number_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinal — the reference's [start:end] slice seed
    (web_scrpaer_2.py:425-430)."""
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return (load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber",
                    F.row_number().over(w).cast("bigint").alias("rn")))


@register(
    "win_rank_dense",
    oracle="""
    SELECT p_partkey, p_brand, p_retailprice,
           RANK() OVER (PARTITION BY p_brand
                        ORDER BY p_retailprice DESC) AS price_rank,
           DENSE_RANK() OVER (PARTITION BY p_brand
                              ORDER BY p_retailprice DESC) AS price_dense
    FROM part
    """,
    tags=("window",),
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank of retail price within brand [E]."""
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    return load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice",
        F.rank().over(w).cast("bigint").alias("price_rank"),
        F.dense_rank().over(w).cast("bigint").alias("price_dense"))


@register(
    "win_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
    tags=("window", "topk"),
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by value per customer — reference's
    first-identifier pick generalized (web_scraper.py:533-534).
    row_number ≤ k prunes inside the window operator (rank-limit
    pushdown), so only k rows per group survive the sort."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (load(spark, sf_dir, "orders")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice"))


@register(
    "win_lag_lead",
    oracle="""
    SELECT user_id, event_id, ts,
           LAG(ts)  OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_ts,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS next_ts
    FROM events
    """,
    tags=("window",),
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighboring-row access per user (event-to-event gaps) [E]."""
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), "event_id")
    return load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        F.lag("ts").over(w).alias("prev_ts"),
        F.lead("ts").over(w).alias("next_ts"))


@register(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_spend
    FROM orders
    """,
    tags=("window",),
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer; exact decimal accumulator →
    identical doubles in any engine."""
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.asc_nulls_last("o_orderdate"), "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w)
        .cast("double").alias("running_spend"))


@register(
    "win_sliding_avg",
    oracle="""
    SELECT o_custkey, o_orderkey, day_no,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER w AS DOUBLE) / COUNT(*) OVER w AS sliding_avg_30d
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 date_diff('day', DATE '1990-01-01',
                           CAST(o_orderdate AS DATE)) AS day_no
          FROM orders)
    WINDOW w AS (PARTITION BY o_custkey ORDER BY day_no
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
    """,
    tags=("window",),
)
def win_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving 30-day average spend per customer (rangeBetween frame
    on a numeric day ordinal). RANGE peers are identical in both
    engines; decimal-sum/count keeps the division bit-exact."""
    od = load(spark, sf_dir, "orders").withColumn(
        "day_no",
        # BIGINT, not Spark's int32 datediff: DuckDB's date_diff is
        # 64-bit and the driver surfaces the int32/int64 mismatch as
        # a dtype-divergence note (benign under string-render hashing
        # but free to eliminate).
        F.datediff(F.to_date("o_orderdate"),
                   F.lit("1990-01-01").cast("date")).cast("bigint"))
    w = (Window.partitionBy("o_custkey").orderBy(F.asc_nulls_last("day_no"))
         .rangeBetween(-30, Window.currentRow))
    return od.select(
        "o_custkey", "o_orderkey", "day_no",
        (F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w)
         .cast("double") / F.count("*").over(w)).alias("sliding_avg_30d"))


@register(
    "win_ntile",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           NTILE(4) OVER (PARTITION BY c_nationkey
                          ORDER BY c_acctbal, c_custkey) AS balance_quartile
    FROM customer
    """,
    tags=("window",),
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing of account balances within each nation;
    (balance, key) order is total so tile assignment is deterministic.
    Partitioned window on purpose: a global NTILE is a single-partition
    sort — unusable at scale — whereas per-nation quartiles distribute."""
    w = Window.partitionBy("c_nationkey").orderBy(
        F.asc_nulls_last("c_acctbal"), "c_custkey")
    return load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal",
        F.ntile(4).over(w).cast("bigint").alias("balance_quartile"))


@register(
    "win_percentile",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
    tags=("window",),
)
def win_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist of account balance within nation —
    distribution-position analytics; partitioned window, total order,
    exact rational arithmetic (rank-1)/(n-1) in both engines."""
    w = Window.partitionBy("c_nationkey").orderBy(
        F.asc_nulls_last("c_acctbal"), "c_custkey")
    return load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"))


@register(
    "win_first_last",
    oracle="""
    SELECT user_id, event_id, ts,
           FIRST_VALUE(event_id) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS first_event,
           LAST_VALUE(event_id) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_event
    FROM events
    """,
    tags=("window",),
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event per user alongside every row — the frame must
    be the FULL partition (unbounded both ways): the default frame
    stops at CURRENT ROW, which silently turns last_value into "this
    row" in both engines; pinning the frame in both sides is the
    test."""
    w = (Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        F.first("event_id").over(w).alias("first_event"),
        F.last("event_id").over(w).alias("last_event"))


@register(
    "win_fill_forward",
    oracle="""
    SELECT user_id, event_id, ts,
           last_value(CASE WHEN event_type = 'purchase' THEN value END
                      IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_value
    FROM events
    """,
    tags=("window",),
)
def win_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill: every event carries the most recent 'purchase'
    value seen so far for that user (NULL until the first one) — the
    last-observation-carried-forward idiom behind feature
    backfills, slowly-sampled sensor joins and "state as of this
    event" columns.

    IGNORE NULLS turns the running last_value into a conditional
    carry-forward without a self-join or a gaps-and-islands pass:
    one window, one shuffle on user_id, running frame — Spark keeps
    a single buffered value per partition stream, so the frame costs
    O(1) memory per row at any scale. The tie-break on event_id
    makes the carried value deterministic under equal timestamps.
    """
    w = (Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    filtered = F.when(F.col("event_type") == "purchase", F.col("value"))
    return load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        F.last(filtered, ignorenulls=True).over(w)
        .alias("last_purchase_value"))


@register(
    "win_sessionize_gaps",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id
                               ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_no
      FROM flagged
    )
    SELECT user_id, session_no,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end
    FROM numbered GROUP BY user_id, session_no
    """,
    tags=("window", "agg"),
)
def win_sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via gaps-and-islands: a session breaks
    when >30 min passes between a user's consecutive events; the
    running sum of break flags numbers the sessions, then a hash
    aggregate emits one row per session.

    The relational twin of ``stream_session_window`` (which uses
    Spark's session_window aggregate): this form needs one shuffle on
    user_id, and both window passes reuse the SAME (user_id,
    ts, event_id) sort order, so Catalyst plans a single sort. The
    tie-break on event_id makes LAG deterministic under duplicate
    timestamps — without it the session count itself could flake.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), "event_id")
    flagged = ev.select(
        "user_id", "ts", "event_id",
        F.when(
            F.col("ts") - F.lag("ts").over(w)
            <= F.expr("INTERVAL 30 MINUTE"), 0)
        .otherwise(1).alias("new_session"))
    numbered = flagged.withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
    return (numbered.groupBy("user_id", "session_no")
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end")))


_SESSION_SQL = """
    WITH flags AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts > lag(ts) OVER w + INTERVAL '30' MINUTE
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS session_no
      FROM flags
    )
    SELECT user_id, session_no,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             AS session_value
    FROM numbered
    GROUP BY user_id, session_no
"""


@register("sql_sessionize_cte", oracle=_SESSION_SQL,
          tags=("sql", "window"))
def sql_sessionize_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization as RAW SQL — chained CTEs, a
    named WINDOW clause, interval arithmetic, and a framed running
    sum, all in the cross-dialect shared subset (the oracle runs the
    same text). The WINDOW w clause is resolved once; both window
    passes and the session rollup reuse the single (user_id)
    exchange, same plan the DataFrame twin (win_sessionize_gaps)
    pins. SQL-text users get the engine's scale shapes for free.
    """
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_SESSION_SQL)


@register(
    "win_ratio_to_report",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                        OVER (PARTITION BY l_orderkey) AS DOUBLE),
                 6) AS price_share
    FROM lineitem
    """,
    tags=("window", "ratio"),
)
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-partition reporting: each line item's fraction of
    its order's total price (the RATIO_TO_REPORT primitive other
    engines ship as a named function).

    One unbounded-frame window SUM over the natural key — no sort
    frame (whole-partition aggregate), so no per-partition sort
    buffer; the exchange keys on l_orderkey, the highest-cardinality
    cluster-friendly key in the schema. The denominator accumulates
    in exact DECIMAL (functions/numeric.py idiom — window partials
    are order-insensitive that way) and the only double op is the
    final division, ROUND(.,6)-sealed for cross-engine parity.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice")
    w = Window.partitionBy("l_orderkey")
    dec = F.col("l_extendedprice").cast("decimal(18,4)")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round(dec.cast("double")
                / F.sum(dec).over(w).cast("double"), 6)
        .alias("price_share"))


@register(
    "win_nth_value",
    oracle="""
    SELECT DISTINCT o_custkey,
           nth_value(o_orderdate, 2) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_order_date
    FROM orders
    """,
    tags=("window",),
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTH_VALUE with an explicit full frame: each customer's SECOND
    order date (NULL for single-order customers) — the
    "second-touch" attribution primitive, and the same default-frame
    trap win_first_last pins: without UNBOUNDED FOLLOWING the second
    value is invisible on partition row 1.

    One window on the customer exchange, (date, key) total order for
    determinism, then DISTINCT collapses the per-row constant to one
    row per customer."""
    o = load(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.asc_nulls_last("o_orderdate"), "o_orderkey")
         .rowsBetween(Window.unboundedPreceding,
                      Window.unboundedFollowing))
    return (o.select("o_custkey",
                     F.nth_value("o_orderdate", 2).over(w)
                     .alias("second_order_date"))
            .distinct())


@register(
    "win_running_distinct",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS is_first
      FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(is_first) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS distinct_types_so_far
    FROM flagged
    """,
    tags=("window", "distinct"),
)
def win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count per user over time (how many distinct
    event types has this user produced up to each event) — the
    window shape engines cannot express directly because a
    per-frame DISTINCT would need unbounded per-row set state.

    The scalable identity: a value is counted exactly when it makes
    its FIRST appearance, so distinct-so-far == running SUM of a
    first-occurrence flag. Two windows, both on the same user_id
    exchange (Catalyst stacks them on one shuffle): a row_number
    over (user, type) marks firsts, a framed running sum
    accumulates them — O(1) window state instead of a per-frame
    set, the same state-collapse trick agg_rolling_active_users
    uses for its sliding distinct.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    w_first = (Window.partitionBy("user_id", "event_type")
               .orderBy(F.asc_nulls_last("ts"), "event_id"))
    flagged = ev.withColumn(
        "is_first",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0))
    w_run = (Window.partitionBy("user_id")
             .orderBy(F.asc_nulls_last("ts"), "event_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return flagged.select(
        "user_id", "event_id",
        F.sum("is_first").over(w_run).cast("long")
        .alias("distinct_types_so_far"))


@register(
    "win_sliding_median",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, value,
             array_agg(value) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN 4 PRECEDING
                                             AND CURRENT ROW) AS vals
      FROM events WHERE value IS NOT NULL
    )
    SELECT user_id, event_id,
           CAST(len(vals) AS INTEGER) AS n_in_window,
           list_sort(vals)[(len(vals) + 1) // 2] AS median5
    FROM seq
    """,
    tags=("window", "stats"),
)
def win_sliding_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding EXACT median (lower median) of the last 5 values per
    user — the robust-center companion to win_sliding_avg that a
    mean can't provide under outliers. The median is an ELEMENT PICK
    from the sorted 5-row frame (position (n+1)/2, never an average
    of two), so the output is one of the input doubles verbatim —
    float-exact cross-engine with no rounding convention needed.

    Scale shape: one window with a bounded 5-row frame — per-row
    state is O(5), the same regime as win_sliding_avg; the
    collect+sort runs on ≤5 elements inside codegen. The (ts,
    event_id) order key makes the frame, and therefore the median,
    deterministic under ties.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (Window.partitionBy("user_id")
         .orderBy(F.asc_nulls_last("ts"), "event_id")
         .rowsBetween(-4, Window.currentRow))
    vals = F.array_sort(F.collect_list("value").over(w))
    n = F.size(vals)
    return ev.select(
        "user_id", "event_id",
        n.cast("int").alias("n_in_window"),
        F.element_at(vals, ((n + 1) / 2).cast("int")).alias("median5"))
