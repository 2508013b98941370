"""Statistical aggregates (SURVEY.md §2.4 extension rows).

The reference's only statistics are counts and success ratios
(web_scrpaer_2.py:461-462, web_scraper.py:339-346); exact
percentiles and second-moment statistics are [E] rows the driver
tables exercise. Both are single-shuffle hash aggregates with
map-side partials — the moments are computed from exact decimal
power sums so the final double arithmetic is bit-identical across
engines (same trick as ``functions/numeric.py``: decimal
accumulation is order-insensitive, so neither partition count nor
merge order can flake the oracle hash).

The drift and independence tests (two-sample KS, chi-square) keep
every cumulative on a FIXED tiny domain (256 histogram buckets, a
|types|×2 contingency table), never on the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.numeric import dec, dsum, dsum_sql
from ..registry import register


@register(
    "agg_percentile_exact",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (interpolated) percentiles per group.

    ``F.percentile`` sorts within the aggregation buffer — fine at
    per-group scale; for 100 TB hot paths the engine's scale path is
    ``F.approx_percentile`` (t-digest-style sketch, mergeable
    map-side partials), which trades exactness for a bounded-memory
    one-pass plan. Both share this query's shape; the exact form is
    the oracled baseline.
    """
    li = load(spark, sf_dir, "lineitem")
    pct = F.percentile("l_extendedprice", F.lit([0.25, 0.50, 0.75]))
    return (li.groupBy("l_returnflag")
            .agg(pct.alias("pcts"))
            .select("l_returnflag",
                    F.round(F.element_at("pcts", 1), 6).alias("p25"),
                    F.round(F.element_at("pcts", 2), 6).alias("p50"),
                    F.round(F.element_at("pcts", 3), 6).alias("p75")))


# Both engines compute the SAME double expressions over the SAME
# exact decimal power sums; ROUND(…, 6) seals the last digits. The
# scale-8 power sums are reduced to scale 4 before the double cast.
# Honest envelope note: the price sum-of-squares' scale-4 integer
# image exceeds 2^53 from ~sf0.01 up, where DuckDB's
# int128→double→÷10^4 conversion can double-round 1 ULP apart from
# Spark's single BigDecimal rounding — a residual risk ROUND(,6)
# absorbs unless a statistic lands exactly on a 6th-decimal round
# boundary (a scale-0 reduction was tried and REJECTED: the two
# engines disagree on the half-case of the scale-reducing cast
# itself, a bigger divergence than the one being fixed).
# Single-row groups: every (n-1) / zero-variance expression is
# CASE-gated to NULL on BOTH sides — under ANSI, Spark otherwise
# ABORTS on the double /0 while DuckDB returns NULL (and sqrt of a
# negative errors DuckDB) — a crash-vs-result divergence.
_MOMENTS_ORACLE = """
WITH sums AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                       * CAST(l_quantity AS DECIMAL(19,4)))
                   AS DECIMAL(38,4)) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                       * CAST(l_extendedprice AS DECIMAL(19,4)))
                   AS DECIMAL(38,4)) AS DOUBLE) AS syy,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                       * CAST(l_extendedprice AS DECIMAL(19,4)))
                   AS DECIMAL(38,4)) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       ROUND(sx / n, 6) AS avg_qty,
       CASE WHEN n > 1 THEN
         ROUND((sxx - sx * sx / n) / (n - 1), 6) END AS var_qty,
       CASE WHEN n > 1 THEN
         ROUND(SQRT(GREATEST((sxx - sx * sx / n) / (n - 1), 0.0)), 6)
       END AS stddev_qty,
       CASE WHEN n > 1 THEN
         ROUND((sxy - sx * sy / n) / (n - 1), 6) END AS covar_qty_price,
       CASE WHEN n > 1 THEN
         ROUND((n * sxy - sx * sy)
               / (SQRT(GREATEST(n * sxx - sx * sx, 0.0))
                  * SQRT(GREATEST(n * syy - sy * sy, 0.0))), 6)
       END AS corr_qty_price
FROM sums
"""


@register("agg_stats_moments", oracle=_MOMENTS_ORACLE, tags=("agg", "stats"))
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance / stddev / covariance / correlation per group, from
    exact power sums.

    Native ``F.var_samp``/``F.corr`` use streaming (Welford-merge)
    accumulators whose float results depend on partition merge order
    — unreproducible across cluster sizes. Power sums in exact
    DECIMAL are order-insensitive and still map-side combined (six
    decimal partials per group per partition), so the plan is the
    same single shuffle but the answer is deterministic at any
    parallelism — the property that matters when a 100 TB job's
    output feeds a regression test.
    """
    li = load(spark, sf_dir, "lineitem")
    x, y = dec("l_quantity"), dec("l_extendedprice")
    sums = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("decimal(38,4)").cast("double").alias("sxx"),
        F.sum(y * y).cast("decimal(38,4)").cast("double").alias("syy"),
        F.sum(x * y).cast("decimal(38,4)").cast("double").alias("sxy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    multi = F.col("n") > 1
    var_ = (sxx - sx * sx / n) / (n - 1)
    cov_ = (sxy - sx * sy / n) / (n - 1)
    corr_den = (F.sqrt(F.greatest(n * sxx - sx * sx, F.lit(0.0)))
                * F.sqrt(F.greatest(n * syy - sy * sy, F.lit(0.0))))
    return sums.select(
        "l_returnflag",
        F.round(sx / n, 6).alias("avg_qty"),
        F.when(multi, F.round(var_, 6)).alias("var_qty"),
        F.when(multi, F.round(F.sqrt(F.greatest(var_, F.lit(0.0))), 6))
        .alias("stddev_qty"),
        F.when(multi, F.round(cov_, 6)).alias("covar_qty_price"),
        F.when(multi,
               F.round(F.try_divide(n * sxy - sx * sy, corr_den), 6))
        .alias("corr_qty_price"))


@register("agg_approx_percentile", oracle=None, tags=("agg", "stats",
                                                      "approx"))
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via Spark's mergeable quantile sketch
    (Greenwald-Khanna summaries) — the 100 TB path where the exact
    variant's per-group sort buffer is prohibitive: each task builds
    a bounded-size summary, merges are associative, and the shuffle
    carries sketches instead of values. accuracy=10000 bounds rank
    error at 1/10000 of the group. Rows-only (sketch output is
    engine-specific); tests pin each estimate within rank tolerance
    of the exact percentile."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.25), F.lit(10000))
        .alias("p25"),
        F.approx_percentile("l_extendedprice", F.lit(0.50), F.lit(10000))
        .alias("p50"),
        F.approx_percentile("l_extendedprice", F.lit(0.75), F.lit(10000))
        .alias("p75"))


# Both engines bucket with IDENTICAL double arithmetic (no
# width_bucket: DuckDB lacks it, and hand-rolled floor keeps the
# expression bit-identical). Bounds are fixed constants, so the
# histogram is ONE pass — a data-dependent range would force a
# min/max pre-pass or a sampled approximation.
_HIST_LO, _HIST_WIDTH, _HIST_BINS = 0.0, 5000.0, 24

_HIST_ORACLE = f"""
SELECT LEAST(GREATEST(CAST(FLOOR((l_extendedprice - {_HIST_LO})
                                 / {_HIST_WIDTH}) AS BIGINT),
                      0), {_HIST_BINS - 1}) AS bin,
       LEAST(GREATEST(CAST(FLOOR((l_extendedprice - {_HIST_LO})
                                 / {_HIST_WIDTH}) AS BIGINT),
                      0), {_HIST_BINS - 1}) * {_HIST_WIDTH} AS bin_lo,
       COUNT(*) AS n_rows,
       {dsum_sql('l_extendedprice')} AS sum_price
FROM lineitem GROUP BY 1, 2
"""


@register("num_histogram_fixed", oracle=_HIST_ORACLE, tags=("agg", "stats"))
def num_histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (equi-width bins over a constant range,
    clamped at both ends) — the one-pass distribution profile every
    ingest monitor wants.

    Bin assignment is a per-row scalar expression, so the whole query
    is scan → project → single hash aggregate with map-side partials:
    at 100 TB it reads each value once and shuffles |bins| rows per
    task. Compare ``win_ntile`` (equi-DEPTH bins), which must
    globally sort; equi-width is the cheap, shuffle-light profile.
    """
    li = load(spark, sf_dir, "lineitem")
    raw = F.floor((F.col("l_extendedprice") - F.lit(_HIST_LO))
                  / F.lit(_HIST_WIDTH))
    bin_ = F.least(F.greatest(raw, F.lit(0)),
                   F.lit(_HIST_BINS - 1)).cast("bigint")
    return (li.select(bin_.alias("bin"), "l_extendedprice")
            .withColumn("bin_lo", F.col("bin") * F.lit(_HIST_WIDTH))
            .groupBy("bin", "bin_lo")
            .agg(F.count("*").alias("n_rows"),
                 dsum("l_extendedprice").alias("sum_price")))


KS_BUCKETS = 256


@register(
    "stats_ks_drift",
    oracle=f"""
    WITH pts AS (
      SELECT o_totalprice AS x, o_orderstatus = 'F' AS seg_a
      FROM orders
    ), rng AS (
      SELECT MIN(x) AS lo, MAX(x) AS hi FROM pts
    ), bucketed AS (
      SELECT CASE WHEN hi = lo THEN 0
                  ELSE LEAST(CAST(FLOOR({KS_BUCKETS} * (x - lo)
                                        / (hi - lo)) AS INTEGER),
                             {KS_BUCKETS - 1}) END AS bucket,
             seg_a
      FROM pts, rng
    ), counts AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN seg_a THEN 1 ELSE 0 END) AS BIGINT)
               AS ca,
             CAST(SUM(CASE WHEN seg_a THEN 0 ELSE 1 END) AS BIGINT)
               AS cb
      FROM bucketed GROUP BY bucket
    ), cum AS (
      SELECT bucket,
             SUM(ca) OVER (ORDER BY bucket) AS cum_a,
             SUM(cb) OVER (ORDER BY bucket) AS cum_b,
             SUM(ca) OVER () AS n_a, SUM(cb) OVER () AS n_b
      FROM counts
    ), scored AS (
      SELECT bucket, n_a, n_b,
             ROUND(COALESCE(ABS(cum_a / NULLIF(n_a, 0)
                                - cum_b / NULLIF(n_b, 0)), 0.0), 9)
               AS gap
      FROM cum
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           gap AS d_stat, CAST(bucket AS INTEGER) AS at_bucket
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY gap DESC, bucket) AS rn
          FROM scored) WHERE rn = 1
    """,
    tags=("stats", "quality", "llm-data"),
)
def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between corpus
    segments (here: finalized vs in-flight orders over o_totalprice —
    the stand-in for "last month's crawl vs this month's" feature
    drift). D = max over histogram buckets of |F_A - F_B|.

    The textbook KS sorts the pooled sample — a global sort, the
    anti-pattern at 100 TB. This is the fixed-histogram form: one
    (min, max) aggregate broadcast, one hash-aggregate into
    {KS_BUCKETS} buckets (map-side combined), then the cumulative
    CDFs run over the FIXED {KS_BUCKETS}-row domain — bounded state
    regardless of corpus size, the same trick num_histogram_fixed
    uses. Histogram granularity bounds the D estimate error at
    max-bucket-mass, the standard trade (a production drift monitor
    uses KLL/t-digest sketches, same contract). Bucket math is pure
    double arithmetic identical in both engines; the gap rounds to
    9 dp before the argmax so the reported bucket matches too.

    Degenerate inputs are pinned explicitly (round-8 review): a
    constant-price corpus (hi == lo) maps every row to bucket 0 by
    CASE on both engines — without the guard Spark's 0.0/0.0 = NaN
    and DuckDB's NULL diverge — and an empty segment coalesces the
    gap to 0.0 (D is undefined with an empty sample; 0.0 is the
    deterministic sentinel both engines agree on, vs NaN-sorts-first
    in Spark against NULL-sorts-last in DuckDB)."""
    pts = load(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x"),
        (F.col("o_orderstatus") == "F").alias("seg_a"))
    rng = pts.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor(KS_BUCKETS * (F.col("x") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))).cast("int"),
            F.lit(KS_BUCKETS - 1)))
    counts = (pts.crossJoin(F.broadcast(rng))
              .select(bucket.alias("bucket"), "seg_a")
              .groupBy("bucket")
              .agg(F.sum(F.when(F.col("seg_a"), 1).otherwise(0))
                   .cast("bigint").alias("ca"),
                   F.sum(F.when(F.col("seg_a"), 0).otherwise(1))
                   .cast("bigint").alias("cb")))
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    cum = counts.select(
        "bucket",
        F.sum("ca").over(wcum).alias("cum_a"),
        F.sum("cb").over(wcum).alias("cum_b"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"))
    scored = cum.select(
        "bucket", "n_a", "n_b",
        F.round(F.coalesce(
            F.abs(F.col("cum_a") / F.nullif(F.col("n_a"), F.lit(0))
                  - F.col("cum_b") / F.nullif(F.col("n_b"), F.lit(0))),
            F.lit(0.0)), 9).alias("gap"))
    wtop = Window.orderBy(F.desc("gap"), F.asc("bucket"))
    return (scored.withColumn("rn", F.row_number().over(wtop))
            .filter(F.col("rn") == 1)
            .select(F.col("n_a").cast("bigint").alias("n_a"),
                    F.col("n_b").cast("bigint").alias("n_b"),
                    F.col("gap").alias("d_stat"),
                    F.col("bucket").cast("int").alias("at_bucket")))


@register(
    "stats_chi2_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type, CAST(user_id % 2 AS INTEGER) AS bucket,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ), rt AS (
      SELECT event_type, CAST(SUM(o) AS BIGINT) AS rtot
      FROM cells GROUP BY 1
    ), ct AS (
      SELECT bucket, CAST(SUM(o) AS BIGINT) AS ctot
      FROM cells GROUP BY 1
    ), n AS (
      SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells
    ), dom AS (
      SELECT rt.event_type, rt.rtot, ct.bucket, ct.ctot, n.n
      FROM rt CROSS JOIN ct CROSS JOIN n
    ), ex AS (
      SELECT d.event_type, d.bucket,
             CAST(COALESCE(c.o, 0) AS DOUBLE) AS o,
             CAST(d.rtot AS DOUBLE) * CAST(d.ctot AS DOUBLE)
               / CAST(d.n AS DOUBLE) AS e
      FROM dom d LEFT JOIN cells c
        ON c.event_type = d.event_type AND c.bucket = d.bucket
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((COUNT(DISTINCT event_type) - 1)
                * (COUNT(DISTINCT bucket) - 1) AS BIGINT) AS dof,
           CAST(SUM(CAST(ROUND((o - e) * (o - e) / e, 9)
                         AS DECIMAL(24,9))) AS DOUBLE) AS chi2
    FROM ex
    """,
    tags=("stats", "analytics"),
)
def stats_chi2_independence(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and user
    parity (a deliberately-independent pair — the null-hypothesis
    smoke a drift monitor calibrates against): builds the full
    type × parity contingency domain (zero cells INCLUDED — a
    missing combination still contributes (0−e)²/e), expected counts
    from the marginals, and the χ² statistic with its degrees of
    freedom.

    Determinism discipline: observed and marginal counts are exact
    integers; expected values are single IEEE double expressions of
    those integers (identical cross-engine); each cell's
    contribution rounds at 9 dp into DECIMAL(24,9) so the final SUM
    is order-insensitive (the decimal-accumulator idiom) — and the
    decimal image stays far below 2^53, so the closing DOUBLE cast
    rounds once in both engines. Scale shape: one corpus-sized hash
    agg; everything after runs on the tiny marginal tables
    (broadcast joins over a |types|×2 domain).
    """
    ev = load(spark, sf_dir, "events")
    cells = (ev.groupBy("event_type",
                        (F.col("user_id") % 2).cast("int").alias("bucket"))
             .agg(F.count("*").alias("o")))
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("rtot"))
    ct = cells.groupBy("bucket").agg(F.sum("o").alias("ctot"))
    n = cells.agg(F.sum("o").alias("n"))
    dom = rt.crossJoin(F.broadcast(ct)).crossJoin(F.broadcast(n))
    ex = (dom.join(cells, ["event_type", "bucket"], "left")
          .select("event_type", "bucket",
                  F.coalesce(F.col("o"), F.lit(0)).cast("double")
                  .alias("o"),
                  (F.col("rtot").cast("double")
                   * F.col("ctot").cast("double")
                   / F.col("n").cast("double")).alias("e")))
    contrib = F.round((F.col("o") - F.col("e"))
                      * (F.col("o") - F.col("e")) / F.col("e"), 9) \
        .cast("decimal(24,9)")
    return ex.agg(
        F.count("*").cast("long").alias("n_cells"),
        ((F.count_distinct("event_type") - 1)
         * (F.count_distinct("bucket") - 1)).cast("long").alias("dof"),
        F.sum(contrib).cast("double").alias("chi2"))
