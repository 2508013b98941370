"""Behavioral / product-analytics operators over the events stream [E].

The reference's only longitudinal signal is its success accounting —
per-dataset totals accumulated while crawling (web_scrpaer_2.py:
461-462) and printed as a run report (web_scraper.py:339-346). An
analytics engine over an events table generalizes that into the two
classic user-journey queries (ordered funnels, cohort retention) plus
the incremental-rollup kernel that keeps 100 TB aggregate tables
fresh without rescanning history.

Scale shapes, shared by all three:
- everything keys on `user_id` or on the (small) group domain — no
  broadcast of anything that grows with data;
- funnel/retention do their per-user work in ONE user_id-keyed
  exchange (unbounded-frame window aggregates need no sort buffer),
  then reduce to a tiny output;
- the incremental merge only ever re-aggregates partial states —
  shuffle volume ∝ |groups| × |shards|, not rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.numeric import dsum_sql
from ..registry import register


# Shared with stream_funnel_stateful (streaming/jobs.py): the
# stream converges to exactly this batch row.
FUNNEL_ORACLE_SQL = """
    WITH e1 AS (
      SELECT user_id, event_type, ts,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
      FROM events
    ), e2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t_view
                         THEN ts END)
                  OVER (PARTITION BY user_id) AS t_click
      FROM e1
    ), e3 AS (
      SELECT user_id, t_view, t_click,
             MIN(CASE WHEN event_type = 'purchase' AND ts > t_click
                      THEN ts END)
               OVER (PARTITION BY user_id) AS t_purchase
      FROM e2
    ), per_user AS (
      SELECT user_id, MAX(t_view) AS t_view, MAX(t_click) AS t_click,
             MAX(t_purchase) AS t_purchase
      FROM e3 GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(t_view) AS n_viewed,
           COUNT(t_click) AS n_clicked,
           COUNT(t_purchase) AS n_purchased
    FROM per_user
    """


@register(
    "event_funnel",
    oracle=FUNNEL_ORACLE_SQL,
    tags=("analytics", "window"),
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase: how many users
    completed each stage IN ORDER (a click only counts if it happens
    strictly after the user's first view, a purchase only after that
    click).

    Shape: three chained unbounded-window MINs over the SAME
    user_id partitioning — Catalyst plans one exchange and stacks
    the Window operators on it, so the per-user stage resolution
    costs a single shuffle regardless of how many stages the funnel
    has. No ordered frame is needed (MIN over the whole partition),
    so there is no per-partition sort buffer to spill at 100 TB.
    The final global COUNT reduces map-side to one row.
    """
    w = Window.partitionBy("user_id")
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    e = e.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w))
    e = e.withColumn(
        "t_click",
        F.min(F.when((F.col("event_type") == "click")
                     & (F.col("ts") > F.col("t_view")),
                     F.col("ts"))).over(w))
    e = e.withColumn(
        "t_purchase",
        F.min(F.when((F.col("event_type") == "purchase")
                     & (F.col("ts") > F.col("t_click")),
                     F.col("ts"))).over(w))
    per_user = (e.groupBy("user_id")
                .agg(F.max("t_view").alias("t_view"),
                     F.max("t_click").alias("t_click"),
                     F.max("t_purchase").alias("t_purchase")))
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked"),
        F.count("t_purchase").alias("n_purchased"))


@register(
    "retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT user_id, ts,
             date_trunc('week', MIN(ts) OVER (PARTITION BY user_id))
               AS cohort_week
      FROM events
    )
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week,
                          date_trunc('week', ts)) // 7 AS BIGINT)
             AS week_offset,
           COUNT(DISTINCT user_id) AS n_active
    FROM f
    GROUP BY 1, 2
    """,
    tags=("analytics", "window"),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, counted
    distinctly in each subsequent activity week (the
    `(cohort_week, week_offset) -> active users` retention matrix).

    Shape: one user_id-keyed exchange resolves each user's cohort
    (unbounded window MIN — no sort frame), then a hash aggregate on
    the tiny (cohort, offset) domain with an exact COUNT DISTINCT.
    The distinct expands to (cohort, offset, user) partials, which
    is the correct 100 TB posture: cardinality is bounded by total
    user-weeks, and the partial aggregate is map-side combined.
    Nothing is broadcast; both exchanges key on columns with
    cluster-friendly cardinality (users; cohort cells).
    """
    w = Window.partitionBy("user_id")
    e = load(spark, sf_dir, "events").select("user_id", "ts")
    f = e.withColumn(
        "cohort_week", F.date_trunc("week", F.min("ts").over(w)))
    return (f.withColumn("week_offset",
                         (F.datediff(F.date_trunc("week", F.col("ts")),
                                     F.col("cohort_week"))
                          / F.lit(7)).cast("long"))
            .groupBy("cohort_week", "week_offset")
            .agg(F.count_distinct("user_id").alias("n_active")))


@register(
    "agg_incremental_merge",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("analytics", "agg", "incremental"),
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: per-shard partial aggregates
    (the persisted "state" of nine historical shards) merged with a
    freshly aggregated delta shard, reproducing the flat aggregate
    bit-for-bit.

    This is the kernel that keeps a 100 TB rollup fresh: history is
    never rescanned — only its partial states (|groups| x |shards|
    rows of (count, decimal-sum, min, max)) are re-reduced with the
    new data's partials. COUNT/SUM/MIN/MAX are all associative, and
    the money sum uses the exact DECIMAL accumulator (functions/
    numeric.py), so merge order cannot perturb the result — the
    oracle is the flat single-pass aggregate over everything.

    Plan: two partial aggregates (each map-side combined) + a final
    reduce keyed on the group domain. The union of state and delta
    partials shuffles |groups| x (|shards|+1) tiny rows — independent
    of base-table size.
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    shard = F.pmod(F.col("o_orderkey"), F.lit(10))

    def partial(df: DataFrame) -> DataFrame:
        return (df.groupBy("o_orderstatus")
                .agg(F.count("*").alias("p_count"),
                     F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                     .alias("p_sum"),
                     F.min("o_totalprice").alias("p_min"),
                     F.max("o_totalprice").alias("p_max")))

    state = partial(orders.filter(shard != 0))   # persisted history
    delta = partial(orders.filter(shard == 0))   # newly arrived data
    return (state.unionByName(delta)
            .groupBy("o_orderstatus")
            .agg(F.sum("p_count").alias("n_orders"),
                 F.sum("p_sum").cast("double").alias("total_price"),
                 F.min("p_min").alias("min_price"),
                 F.max("p_max").alias("max_price")))


@register(
    "agg_rolling_active_users",
    oracle="""
    WITH active AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ), cover AS (
      SELECT user_id, day + INTERVAL 1 DAY * i AS day2
      FROM active, UNNEST(range(7)) u(i)
    )
    SELECT c.day2 AS day, COUNT(DISTINCT c.user_id) AS wau
    FROM cover c
    JOIN (SELECT DISTINCT day FROM active) d ON c.day2 = d.day
    GROUP BY 1
    """,
    tags=("analytics", "agg", "distinct"),
)
def agg_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day (rolling WAU),
    reported for every day that has events.

    Distinct-over-a-sliding-window has no efficient window-function
    form (per-frame distinct state is quadratic); the scalable shape
    is the COVER-SET trick: each (user, active-day) pair — already
    deduped by a map-side-combined distinct — emits the 7 report
    days it contributes to via an explode of a fixed-length
    sequence, and a plain COUNT DISTINCT per report day finishes the
    job. Work is 7x the deduped activity pairs, NOT 7x the raw
    events, and every stage is a partial-aggregated hash shuffle.
    The day spine used to clip the report range is calendar-bounded
    (365 rows/year), so its broadcast is safe at any data size.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day"))
    active = ev.distinct()
    cover = active.select(
        "user_id",
        F.explode(F.sequence(
            F.col("day"),
            F.col("day") + F.expr("INTERVAL 6 DAYS"),
            F.expr("INTERVAL 1 DAY"))).alias("day2"))
    days = active.select(F.col("day").alias("spine_day")).distinct()
    return (cover.join(F.broadcast(days),
                       cover["day2"] == days["spine_day"])
            .groupBy(F.col("day2").alias("day"))
            .agg(F.count_distinct("user_id").alias("wau")))


@register(
    "event_path_topk",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS step
      FROM events
    ), paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY step) AS path
      FROM ordered WHERE step <= 3
      GROUP BY user_id
    )
    SELECT path, COUNT(*) AS n_users
    FROM paths GROUP BY path
    HAVING COUNT(*) >= 2
    """,
    tags=("analytics", "window", "path"),
)
def event_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-path analysis: each user's first three events as an
    ordered `a>b>c` path string, counted across users (paths shared
    by >= 2 users) — the onboarding-flow query behind every
    product-analytics "paths" view.

    Scale shape: ONE user_id exchange carries the row_number window
    (WindowGroupLimit prunes to 3 rows per user BEFORE anything
    else, since the filter is a rank bound), the path assembles
    INSIDE the row via array_sort over collected (step, type)
    structs — no second sort, no cross-row string building — and the
    final count is a hash agg on the path-string domain, map-side
    combined. Path length is a constant, so state per user is
    bounded regardless of history length.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), "event_id")
    first5 = (ev.withColumn("step", F.row_number().over(w))
              .filter(F.col("step") <= 3))
    paths = (first5.groupBy("user_id")
             .agg(F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("step", "event_type"))),
                     lambda s: s["event_type"]),
                 ">").alias("path")))
    return (paths.groupBy("path")
            .agg(F.count("*").alias("n_users"))
            .filter(F.col("n_users") >= 2))


@register(
    "skyline_pareto",
    oracle="""
    WITH pts AS (
      SELECT DISTINCT p_retailprice, p_size FROM part
    )
    SELECT p.p_retailprice, p.p_size
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.p_retailprice <= p.p_retailprice
        AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice
             OR q.p_size > p.p_size)
    )
    """,
    tags=("skyline", "window"),
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) over part: the (price, size)
    pairs not weakly dominated by any other pair (cheaper-or-equal
    AND bigger-or-equal, strict in at least one).

    The oracle is the textbook quadratic NOT EXISTS; the engine
    shape is the O(n log n) sweep, decomposed so no global window
    ever runs:

    1. distinct (price, size) pairs (hash agg, map-side combined);
    2. price-banded sweep — rows hash into fixed price bands, and
       within each band a window ordered by (price ASC, size DESC)
       carries the running max size over STRICTLY PRECEDING rows;
    3. the cross-band carry-in is a per-band MAX aggregate (≤ #bands
       rows) whose prefix-max over lower bands is computed on the
       tiny aggregate and broadcast back.

    A pair is dominated iff max(in-band running max, lower-band
    carry-in) >= its size: a preceding pair in the (price ASC,
    size DESC) order is either strictly cheaper with size >= ours,
    or equal-priced with strictly larger size — both weakly dominate
    (and nothing else precedes us, so the test is exact, duplicates
    having been removed up front). Every stage is partitioned; the
    only driver-visible state is the #bands-row carry table, so the
    sweep survives any data size while the oracle's self-join is
    quadratic.
    """
    pts = (load(spark, sf_dir, "part")
           .select("p_retailprice", "p_size").distinct())
    # Fixed clamped band domain (num_histogram_fixed convention):
    # the driver's retail prices live in [900, 1000); 16 bands of
    # 6.25 so the banded sweep actually spreads over all 16
    # partitions (the earlier 75-wide bands assumed TPC-H's
    # [900, 2100) domain and collapsed onto 2 bands here). Any
    # monotone clamped banding is correctness-neutral.
    n_bands = 16
    band = F.least(
        F.greatest(F.floor((F.col("p_retailprice") - 900.0) / 6.25),
                   F.lit(0)),
        F.lit(n_bands - 1)).alias("band")
    pts = pts.select("p_retailprice", "p_size", band)

    in_band = (Window.partitionBy("band")
               .orderBy(F.col("p_retailprice").asc(),
                        F.col("p_size").desc())
               .rowsBetween(Window.unboundedPreceding, -1))
    swept = pts.withColumn("run_max", F.max("p_size").over(in_band))

    band_max = pts.groupBy("band").agg(F.max("p_size").alias("bmax"))
    lower = (Window.orderBy("band")
             .rowsBetween(Window.unboundedPreceding, -1))
    # Global window over <= n_bands rows — a constant-size aggregate,
    # not a data-sized sort (same posture as broadcast dim tables).
    carry = band_max.select(
        "band", F.max("bmax").over(lower).alias("carry_max"))

    # greatest() already skips NULL arguments, so one -1 fallback
    # (first row of band 0: both sides NULL) is the only case left.
    dominated = (F.coalesce(
        F.greatest(F.col("run_max"), F.col("carry_max")), F.lit(-1))
        >= F.col("p_size"))
    return (swept.join(F.broadcast(carry), "band", "left")
            .filter(~dominated)
            .select("p_retailprice", "p_size"))


@register(
    "assoc_pair_lift",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), totals AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users
      FROM events
    ), singles AS (
      SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM ut a
      JOIN ut b ON a.user_id = b.user_id
               AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.type_a, p.type_b, p.n_both,
           ROUND(p.n_both * t.n_users / (sa.n * sb.n), 6) AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.type_a
    JOIN singles sb ON sb.event_type = p.type_b
    CROSS JOIN totals t
    """,
    tags=("analytics", "join"),
)
def assoc_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair lift over event types: for every unordered
    pair of event types, how many users did both, and the lift
    (observed co-occurrence over the independence expectation).

    Scale shape: the per-user self-join runs AFTER the distinct
    (user, type) reduction, so each user contributes at most
    |types|²/2 pairs — the type domain is a small constant, making
    the join output bounded by users x a constant, never quadratic
    in events. Singles and the 1-row user total are tiny aggregates
    broadcast into the final projection; every big stage is a
    map-side-combined hash agg keyed on user_id or the pair domain.
    """
    ev = load(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    # 1-row user total: the scalar-subquery broadcast shape
    # (crossJoin of a single aggregate row — allow-listed in
    # scripts/explain_all.py like text_tfidf's).
    n_users = ev.agg(
        F.count_distinct("user_id").cast("double").alias("n_users"))
    singles = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                    & (F.col("a.event_type") < F.col("b.event_type")))
             .groupBy(F.col("a.event_type").alias("type_a"),
                      F.col("b.event_type").alias("type_b"))
             .agg(F.count("*").alias("n_both")))
    sa = singles.select(F.col("event_type").alias("type_a"),
                        F.col("n").alias("n_a"))
    sb = singles.select(F.col("event_type").alias("type_b"),
                        F.col("n").alias("n_b"))
    return (pairs.join(F.broadcast(sa), "type_a")
            .join(F.broadcast(sb), "type_b")
            .crossJoin(F.broadcast(n_users))
            .select("type_a", "type_b", "n_both",
                    F.round(F.col("n_both") * F.col("n_users")
                            / (F.col("n_a") * F.col("n_b")), 6)
                    .alias("lift")))
