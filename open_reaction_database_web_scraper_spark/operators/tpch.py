"""TPC-H, all 22 queries (Q1-Q22) over the driver's star schema [E].

Two entry points run the same shapes. Q3/Q5/Q6/Q7/Q10/Q14/Q18 are
RAW SQL text: each ``_Qn_SQL`` string is run by ``spark.sql()`` over
catalog views AND by DuckDB as the oracle, so these rows also pin
the cross-dialect subset the engine commits to (ANSI joins,
TIMESTAMP literals, decimal casts, ORDER BY ... LIMIT, and the
decimal-accumulator revenue idiom of functions/numeric.py). The
other fifteen are built with the DataFrame API and oracled by an
equivalent ``_Qn_SQL``.

The driver's star schema is TPC-H-ish, not TPC-H: there is no
partsupp table and lineitem lacks commit/receipt dates, shipmode and
shipinstruct. Every DataFrame query keeps the REFERENCE SHAPE of its
TPC-H namesake (correlated min, EXISTS semi-join, market-share
ratio, scalar-subquery gate, OR-of-conjuncts, sole-latest-supplier
anti-pattern, anti-join opportunity scan) re-targeted at columns the
data actually has; the docstrings name each adaptation. Thresholds
are chosen scale-free (quantile-style, e.g. ``value > 1.5 * avg``)
so no SF in the tri-SF sweep produces a vacuous result — the sweep
fails on both-engines-empty cells by design.

Scale notes: dimension filters are applied BEFORE facts join
(Catalyst pushes them into the parquet scans — pinned by
tests/test_plans.py patterns); small filtered dims are joined with
an explicit ``broadcast()`` hint; money math uses the exact-decimal
accumulators from functions/numeric.py so every SUM is
order-insensitive and bit-identical to the DuckDB oracle;
single-row global aggregates (max revenue, value threshold, acctbal
cutoff) travel as 1-row broadcast cross joins, never ``.collect()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, register_views
from ..functions.numeric import davg, davg_sql, dec, dsum, dsum_sql
from ..registry import register


# Exact discounted line revenue at its true scale: extendedprice and
# discount each carry 2 decimals, so the scale-8 product's value
# needs only 4 — the DECIMAL(38,4) reduction is EXACT (no rounding),
# and its integer image stays below 2^53 for the double cast (see
# functions/numeric.py on DuckDB's int128→double double-rounding).
_REV4 = "decimal(38,4)"


def _rev(ep: str = "l_extendedprice", disc: str = "l_discount") -> F.Column:
    """Discounted revenue ``ep * (1 - disc)`` as exact DECIMAL(38,4)."""
    return (dec(ep) * (F.lit(1) - dec(disc))).cast(_REV4)


_REV_SQL = ("CAST(CAST(l_extendedprice AS DECIMAL(18,4)) "
            "* (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(38,4))")


_Q1_CUTOFF = "1998-09-02"  # DATE '1998-12-01' - 90 days, precomputed

_Q1_SQL = f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                         * (1 - CAST(l_discount AS DECIMAL(18,4))))
                     AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(9,2))
                          * (1 - CAST(l_discount AS DECIMAL(9,2)))
                          * (1 + CAST(l_tax AS DECIMAL(9,2)))),
                      4) AS DOUBLE) AS sum_charge,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_extendedprice')} AS avg_price,
           {davg_sql('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF} 00:00:00'
    GROUP BY l_returnflag, l_linestatus
"""


@register("sql_tpch_q1", oracle=_Q1_SQL, tags=("sql", "agg", "flagship"))
def sql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report), faithful: the shipdate
    cutoff (DATE '1998-12-01' − 90 days, precomputed as a literal so
    both engines compare the same timestamp), the tax-bearing
    ``sum_charge``, and ``avg_disc`` — the three elements the
    flagship ``agg_multi`` analog (aggregates.py:21) simplifies
    away. Completes the explicit 22/22 TPC-H set (q2-q22 were
    already registered; q1's shape had only the analog).

    Scale notes: the cutoff filter pushes into the parquet scan;
    one hash aggregate with map-side partials over a 4-6 row group
    domain. The two product sums accumulate in exact DECIMAL and
    reduce to scale 4 BEFORE the double cast (the agg_multi rule:
    at higher scales the sum's integer image exceeds 2^53 and
    DuckDB's int128→double→÷10^scale double-rounds where Spark's
    BigDecimal rounds once). ``sum_charge``'s triple product stays
    exact: three DECIMAL(18,4) operands fit precision 38.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(f"{_Q1_CUTOFF} 00:00:00")
        .cast("timestamp"))
    disc_price = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    # the triple product uses DECIMAL(9,2) operands: the driver's
    # numerics are 2-decimal so the cast is exact, and the scale-6
    # product stays under precision 38 in BOTH engines — DECIMAL(18,4)
    # operands would push the (p, s1+s2+s3) result past 38 and make
    # Spark round an INTERMEDIATE where DuckDB doesn't (measured as a
    # 1e-4 sum_charge divergence at sf0.001)
    d92 = lambda c: F.col(c).cast("decimal(9,2)")  # noqa: E731
    charge = (d92("l_extendedprice")
              * (F.lit(1) - d92("l_discount"))
              * (F.lit(1) + d92("l_tax")))
    # charge sums carry TRUE scale-6 digits (unlike disc_price, whose
    # scale-8 image is 4-decimal-exact), so the scale reduction must
    # be an explicit ROUND: a decimal->decimal CAST rounds HALF_UP in
    # Spark but TRUNCATES in DuckDB (measured: .851996 -> .8520 vs
    # .8519). ROUND is half-up in both engines on exact decimals.
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(dsum("l_quantity").alias("sum_qty"),
                 dsum("l_extendedprice").alias("sum_base_price"),
                 F.sum(disc_price).cast("decimal(38,4)").cast("double")
                 .alias("sum_disc_price"),
                 F.round(F.sum(charge), 4).cast("double")
                 .alias("sum_charge"),
                 davg("l_quantity").alias("avg_qty"),
                 davg("l_extendedprice").alias("avg_price"),
                 davg("l_discount").alias("avg_disc"),
                 F.count("*").alias("count_order"))
            .select("l_returnflag", "l_linestatus", "sum_qty",
                    "sum_base_price", "sum_disc_price", "sum_charge",
                    "avg_qty", "avg_price", "avg_disc", "count_order"))


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier (correlated-min shape; no partsupp, so
# "cost" is the best discounted line price ever offered)


_Q2_SQL = f"""
    WITH costs AS (
      SELECT l_partkey, l_suppkey, MIN({_REV_SQL}) AS supp_cost_d
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), best AS (
      SELECT l_partkey, l_suppkey, supp_cost_d,
             MIN(supp_cost_d) OVER (PARTITION BY l_partkey) AS min_cost_d
      FROM costs
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey,
           p.p_retailprice, CAST(b.supp_cost_d AS DOUBLE) AS supp_cost
    FROM best b
    JOIN part p     ON p.p_partkey = b.l_partkey
    JOIN supplier s ON s.s_suppkey = b.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE p.p_size <= 10 AND p.p_type = 'PROMO'
      AND r.r_name = 'EUROPE'
      AND b.supp_cost_d = b.min_cost_d
    ORDER BY s.s_acctbal DESC, p.p_partkey, s.s_suppkey
    LIMIT 100
"""


@register("sql_tpch_q2", oracle=_Q2_SQL, tags=("sql", "join", "window"))
def sql_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier) adapted: no partsupp table,
    so a supplier's cost for a part is the MIN discounted line price
    it ever shipped (exact decimal — min is order-insensitive, and
    the scale-4 reduction is exact since both factors carry 2
    decimals). The correlated ``= (SELECT MIN ...)`` of the original
    becomes an unordered per-part window min — ONE shuffle by
    partkey, no self-join, no global sort.

    Scale shape: the part filter (size/type) broadcasts into the
    fact BEFORE the per-(part, supplier) aggregate, so the heavy
    groupBy only sees lines of qualifying parts (the per-part min is
    unaffected — part attributes are functionally dependent on
    partkey). The region gate applies AFTER the min, as in the
    adapted semantics: report only winners who happen to be European.
    ORDER BY ... LIMIT 100 plans as TakeOrderedAndProject (per-task
    heaps); the (acctbal, partkey, suppkey) key is unique per row so
    the cut is deterministic.
    """
    part_f = (load(spark, sf_dir, "part")
              .filter((F.col("p_size") <= 10)
                      & (F.col("p_type") == "PROMO"))
              .select("p_partkey", "p_retailprice"))
    li = (load(spark, sf_dir, "lineitem")
          .join(F.broadcast(part_f),
                F.col("l_partkey") == F.col("p_partkey"))
          .select("l_partkey", "l_suppkey", "p_retailprice",
                  _rev().alias("cost_d")))
    costs = (li.groupBy("l_partkey", "l_suppkey", "p_retailprice")
             .agg(F.min("cost_d").alias("supp_cost_d")))
    w = Window.partitionBy("l_partkey")
    best = (costs
            .withColumn("min_cost_d", F.min("supp_cost_d").over(w))
            .filter(F.col("supp_cost_d") == F.col("min_cost_d")))
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = (load(spark, sf_dir, "region")
           .filter(F.col("r_name") == "EUROPE"))
    out = (best
           .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
           .join(F.broadcast(nat),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(reg),
                 F.col("n_regionkey") == F.col("r_regionkey")))
    return (out
            .orderBy(F.col("s_acctbal").desc(), "l_partkey", "s_suppkey")
            .limit(100)
            .select("s_acctbal", "s_name", "n_name",
                    F.col("l_partkey").alias("p_partkey"),
                    "p_retailprice",
                    F.col("supp_cost_d").cast("double")
                    .alias("supp_cost")))


_Q3_SQL = """
    SELECT l.l_orderkey,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,4))))
                     AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
"""


@register("sql_tpch_q3", oracle=_Q3_SQL, tags=("sql", "join", "topk"))
def sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping-priority top-10), submitted as RAW SQL text
    — the oracle runs the IDENTICAL string on DuckDB, so this row
    also pins cross-dialect parity of the shared subset the engine
    commits to (ANSI joins, TIMESTAMP literals, decimal casts).

    Catalyst gives the SQL text the same plan the DataFrame build
    would get: segment filter pushed into the customer scan, date
    filters into orders/lineitem scans, fixed dims broadcast by AQE,
    and the ORDER BY ... LIMIT 10 becomes TakeOrderedAndProject
    (per-task top-k heaps — the global sort never materializes).
    Ties at the cut are impossible: the secondary sort key
    l_orderkey is unique per group, so the top-10 selection is
    deterministic in both engines.
    """
    register_views(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(_Q3_SQL)


# ---------------------------------------------------------------------------
# Q4 — order-priority checking (EXISTS semi-join shape; "late line" =
# shipped more than 90 days after the order date, standing in for the
# missing commit/receipt dates)


_Q4_SQL = """
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o.o_orderpriority
"""


@register("sql_tpch_q4", oracle=_Q4_SQL, tags=("sql", "semijoin"))
def sql_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking) adapted: the original's
    ``l_commitdate < l_receiptdate`` lateness test becomes
    ``l_shipdate > o_orderdate + 90 days`` (the columns the data
    has). The EXISTS correlated subquery is a LEFT SEMI join — equi
    on orderkey plus the non-equi lateness conjunct evaluated inside
    the same join, so each order is emitted at most once with no
    post-join dedup.

    Scale shape: the one-quarter slice pushes into the orders scan
    (a ~1/26th slice of the date domain), and the semi-join's
    build/probe both shrink with it under AQE; the final rollup is 5
    groups — map-side combined to almost nothing.
    """
    o = (load(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate") >= "1996-01-01")
                 & (F.col("o_orderdate") < "1996-04-01")))
    li = load(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"]
           > o["o_orderdate"] + F.expr("INTERVAL 90 DAY")),
        "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count")))


_Q5_SQL = """
    SELECT n.n_name,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,4))))
                     AS DECIMAL(38,4)) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
"""


@register("sql_tpch_q5", oracle=_Q5_SQL, tags=("sql", "join"))
def sql_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local-supplier volume) as RAW SQL — the engine's
    widest join tree: all six relational tables in one query, with
    the non-FK residual c_nationkey = s_nationkey that makes Q5 the
    classic join-order stress test.

    Catalyst's plan is the scale shape: region/nation broadcast
    (fixed cardinality), the date filter pushes into the orders
    scan, customer/supplier broadcast while small and degrade to
    shuffled joins at size — nothing in the SQL text pins a
    strategy, which is the point of the raw-SQL front end (the same
    text stays optimal from sf0.001 to 100 TB because the optimizer,
    not the query, picks the physical join order).
    """
    register_views(spark, sf_dir, ("customer", "orders", "lineitem",
                                   "supplier", "nation", "region"))
    return spark.sql(_Q5_SQL)


_Q6_SQL = """
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                         * CAST(l_discount AS DECIMAL(18,4)))
                     AS DECIMAL(38,4)) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


@register("sql_tpch_q6", oracle=_Q6_SQL, tags=("sql", "agg", "pushdown"))
def sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change) as RAW SQL — the purest
    pushdown benchmark: no join, one global sum, FOUR conjunctive
    range predicates that must all reach the parquet scan. At 100 TB
    this query is entirely I/O-bound on how much the scan can skip
    (row-group min/max on shipdate/discount/quantity), which is why
    every engine demo uses it; the plan shows PushedFilters with all
    four bounds and a two-column ReadSchema.
    """
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_Q6_SQL)


_Q7_SQL = """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,4))))
                     AS DECIMAL(38,4)) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_3')
       OR (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_19')
    GROUP BY n1.n_name, n2.n_name,
             CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT)
"""


@register("sql_tpch_q7", oracle=_Q7_SQL, tags=("sql", "join"))
def sql_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping between two nations) as RAW SQL —
    the self-aliased-dimension shape: nation joins in TWICE under
    different roles (supplier's vs customer's), with a symmetric
    OR pair predicate that only the pairing of BOTH aliases can
    resolve (neither scan can push the disjunction alone). The
    nation pair (19, 3) is chosen to have supplier+customer volume
    at EVERY test scale factor — the original (1, 2) pair had no
    sf0.001 suppliers, so the query was green-by-emptiness there
    (the vacuous-coverage failure mode diffcheck now fails on).

    Scale shape: Catalyst plans the two 25-row nation aliases as
    independent broadcasts and leaves the residual OR as a join
    filter AFTER both decodes; the fact side still shuffles only for
    the big equi-joins. Revenue uses the exact decimal-accumulator
    idiom (same text both engines); the ship-year is grouped as
    BIGINT so neither engine's EXTRACT integer width leaks into the
    schema (reference analog: per-dataset × per-kind tallies,
    web_scrpaer_2.py:461-462).
    """
    register_views(spark, sf_dir,
                   ("supplier", "lineitem", "orders", "customer",
                    "nation"))
    return spark.sql(_Q7_SQL)


# ---------------------------------------------------------------------------
# Q8 — national market share (ratio-of-conditional-sums shape)


_Q8_SQL = f"""
    WITH vol AS (
      SELECT CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
             {_REV_SQL} AS volume,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = nc.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
      JOIN part p     ON p.p_partkey = l.l_partkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                         ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE)
           / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM vol GROUP BY o_year
"""


@register("sql_tpch_q8", oracle=_Q8_SQL, tags=("sql", "join", "agg"))
def sql_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_3's share of the
    ASIA-customer STANDARD-part market per order year. Adapted only
    in constants (the driver's nation/type domains); the shape —
    a ratio of a conditional sum over a total within each year — is
    the original's.

    Determinism: numerator and denominator are exact decimal sums
    (order-insensitive); each casts to double exactly (scale-4 image
    < 2^53) and the single IEEE division is bit-identical in both
    engines. Scale shape: part/nation/region filters broadcast into
    the fact first, the two fact-fact joins (orders, customer) hash
    on their natural keys, and the final agg is |years| groups.
    supp_nation decodes by broadcast BEFORE the year rollup so the
    conditional sum needs no second pass.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = (load(spark, sf_dir, "region")
           .filter(F.col("r_name") == "ASIA"))
    cust_nat = (c.join(F.broadcast(nat),
                       F.col("c_nationkey") == F.col("n_nationkey"))
                .join(F.broadcast(reg),
                      F.col("n_regionkey") == F.col("r_regionkey"))
                .select("c_custkey"))
    sup_nat = (load(spark, sf_dir, "supplier")
               .join(F.broadcast(nat.select(
                   F.col("n_nationkey").alias("sn_nationkey"),
                   F.col("n_name").alias("supp_nation"))),
                   F.col("s_nationkey") == F.col("sn_nationkey"))
               .select("s_suppkey", "supp_nation"))
    part_f = (load(spark, sf_dir, "part")
              .filter(F.col("p_type") == "STANDARD")
              .select("p_partkey"))
    vol = (li
           .join(F.broadcast(part_f),
                 F.col("l_partkey") == F.col("p_partkey"))
           .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
           .join(cust_nat, F.col("o_custkey") == F.col("c_custkey"))
           .join(sup_nat, F.col("l_suppkey") == F.col("s_suppkey"))
           .select(F.year("o_orderdate").cast("int").alias("o_year"),
                   _rev().alias("volume"),
                   "supp_nation"))
    zero = F.lit(0).cast(_REV4)
    return (vol.groupBy("o_year")
            .agg((F.sum(F.when(F.col("supp_nation") == "NATION_3",
                               F.col("volume")).otherwise(zero))
                  .cast("double")
                  / F.sum("volume").cast("double")).alias("mkt_share")))


# ---------------------------------------------------------------------------
# Q9 — product-type profit (no supplycost: profit = revenue - tax)


_Q9_SQL = """
    SELECT ns.n_name AS nation,
           CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,4)))
                         - CAST(l.l_extendedprice AS DECIMAL(18,4))
                         * CAST(l.l_tax AS DECIMAL(18,4)))
                     AS DECIMAL(38,4)) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY ns.n_name, CAST(YEAR(o.o_orderdate) AS INT)
"""


@register("sql_tpch_q9", oracle=_Q9_SQL, tags=("sql", "join", "agg"))
def sql_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit) adapted: with no partsupp
    supplycost, profit per line is discounted revenue minus the tax
    amount — all exact scale-8 decimal arithmetic whose value needs
    only 4 decimals, summed order-insensitively per (supplier
    nation, order year).

    Scale shape: the '%red%' part filter cannot push below the scan
    as a parquet predicate (substring match) but prunes ~1/3 of
    parts map-side and broadcasts; orders joins on the fact's
    orderkey; nation decode is broadcast. Group-by cardinality is
    |nations| x |years| — tiny, map-side combined.
    """
    part_f = (load(spark, sf_dir, "part")
              .filter(F.col("p_name").contains("red"))
              .select("p_partkey"))
    sup_nat = (load(spark, sf_dir, "supplier")
               .join(F.broadcast(load(spark, sf_dir, "nation")),
                     F.col("s_nationkey") == F.col("n_nationkey"))
               .select("s_suppkey", F.col("n_name").alias("nation")))
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    amount = ((dec("l_extendedprice")
               * (F.lit(1) - dec("l_discount")))
              - dec("l_extendedprice") * dec("l_tax"))
    profit = (li
              .join(F.broadcast(part_f),
                    F.col("l_partkey") == F.col("p_partkey"))
              .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(sup_nat, F.col("l_suppkey") == F.col("s_suppkey"))
              .select("nation",
                      F.year("o_orderdate").cast("int").alias("o_year"),
                      amount.alias("amount")))
    return (profit.groupBy("nation", "o_year")
            .agg(F.sum("amount").cast(_REV4).cast("double")
                 .alias("sum_profit")))


_Q10_SQL = """
    SELECT c.c_custkey, c.c_name,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,4))))
                     AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
"""


@register("sql_tpch_q10", oracle=_Q10_SQL, tags=("sql", "join", "topk"))
def sql_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting, top-20 lost-revenue
    customers) as RAW SQL — the selective-fact double-slice shape: a
    quarter slice on orders AND a returnflag slice on lineitem both
    push to their scans BEFORE the three-way join, so the join feeds
    on two pre-shrunk sides; nation decodes by broadcast and the
    ORDER BY/LIMIT plans as TakeOrderedAndProject (per-task heaps,
    no global sort). c_custkey in the sort seals the top-20 cut
    against revenue ties in both engines.
    """
    register_views(spark, sf_dir,
                   ("customer", "orders", "lineitem", "nation"))
    return spark.sql(_Q10_SQL)


# ---------------------------------------------------------------------------
# Q11 — important inventory value (scalar-subquery gate shape)


_Q11_SQL = f"""
    WITH val AS (
      SELECT l.l_partkey, SUM({_REV_SQL}) AS vd
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY l.l_partkey
    )
    SELECT l_partkey AS p_partkey, CAST(vd AS DOUBLE) AS value
    FROM val
    WHERE CAST(vd AS DOUBLE) >
          (SELECT 1.5 * (CAST(CAST(SUM(vd) AS DECIMAL(38,4)) AS DOUBLE)
                         / COUNT(*)) FROM val)
"""


@register("sql_tpch_q11", oracle=_Q11_SQL, tags=("sql", "agg", "scalar"))
def sql_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock) adapted: with no partsupp, a
    part's "inventory value" is its total discounted revenue shipped
    by EUROPE suppliers; keep parts whose value exceeds 1.5x the mean
    part value. The original's fixed ``0.0001/SF`` fraction is
    replaced by a SCALE-FREE threshold (a fixed fraction of total
    empties out as part count grows — measured vacuous at two of the
    three sweep SFs), preserving the scalar-subquery-gate shape.

    Determinism: per-part values are exact decimal sums; the
    threshold divides the exact total (reduced to scale 4, image
    < 2^53) by the part count in ONE double op each — both engines
    agree bitwise, so the gate never flakes at the boundary. Scale
    shape: region filter broadcasts through nation into supplier,
    supplier broadcasts into the fact (|suppliers| ~ |lineitem|/1e4
    at any SF); one shuffle for the per-part agg; the threshold is a
    1-row broadcast cross join, never collected.
    """
    nat = load(spark, sf_dir, "nation")
    reg = (load(spark, sf_dir, "region")
           .filter(F.col("r_name") == "EUROPE"))
    sup_eu = (load(spark, sf_dir, "supplier")
              .join(F.broadcast(nat),
                    F.col("s_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(reg),
                    F.col("n_regionkey") == F.col("r_regionkey"))
              .select("s_suppkey"))
    li = load(spark, sf_dir, "lineitem")
    val = (li.join(F.broadcast(sup_eu),
                   F.col("l_suppkey") == F.col("s_suppkey"))
           .groupBy("l_partkey")
           .agg(F.sum(_rev()).alias("vd")))
    thr = val.agg(
        (F.lit(1.5)
         * (F.sum("vd").cast(_REV4).cast("double")
            / F.count("*"))).alias("thr"))
    return (val.crossJoin(F.broadcast(thr))
            .filter(F.col("vd").cast("double") > F.col("thr"))
            .select(F.col("l_partkey").alias("p_partkey"),
                    F.col("vd").cast("double").alias("value")))


# ---------------------------------------------------------------------------
# Q12 — lateness vs priority (conditional-count shape; returnflag
# stands in for the missing shipmode)


_Q12_SQL = """
    SELECT l.l_returnflag,
           COUNT(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_returnflag
"""


@register("sql_tpch_q12", oracle=_Q12_SQL, tags=("sql", "join", "agg"))
def sql_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes / order priority) adapted: no
    shipmode column, so lines group by returnflag; "late" is
    shipped >60 days after ordering (the commit/receipt stand-in,
    matching q4's convention), sliced to order year 1997. The
    priority split is the original's pair of conditional counts.

    Scale shape: the year slice pushes into the orders scan; the
    lateness conjunct evaluates inside the equi-join on orderkey
    (no second pass); conditional COUNTs are map-side combined into
    3 groups. All counts — no float anywhere.
    """
    o = (load(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate") >= "1997-01-01")
                 & (F.col("o_orderdate") < "1998-01-01")))
    li = load(spark, sf_dir, "lineitem")
    joined = li.join(
        o,
        (li["l_orderkey"] == o["o_orderkey"])
        & (li["l_shipdate"]
           > o["o_orderdate"] + F.expr("INTERVAL 60 DAY")))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (joined.groupBy("l_returnflag")
            .agg(F.count(F.when(high, 1)).alias("high_line_count"),
                 F.count(F.when(~high, 1)).alias("low_line_count")))


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (double-grouping shape)


_Q13_SQL = """
    WITH c_orders AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders GROUP BY c_count
"""


@register("sql_tpch_q13", oracle=_Q13_SQL, tags=("sql", "join", "agg"))
def sql_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): histogram of per-customer
    order counts including zero-order customers (the LEFT OUTER
    join is the point of the query). Adapted: the original excludes
    "special request" orders by comment pattern; with no o_comment
    column the exclusion filters '1-URGENT' priority instead — same
    join-side filter position (it must sit in the JOIN's ON clause,
    not a WHERE, or zero-order customers vanish).

    Scale shape: the priority filter prunes orders before the join;
    the first grouping rides the join's custkey partitioning (one
    exchange serves both); the second grouping's domain is tiny
    (max orders per customer) and map-side combines.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = (load(spark, sf_dir, "orders")
         .filter(F.col("o_orderpriority") != "1-URGENT")
         .select("o_custkey", "o_orderkey"))
    per_cust = (c.join(o, c["c_custkey"] == o["o_custkey"], "left_outer")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist")))


_Q14_SQL = """
    SELECT 100.00
           * CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,4)))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4))
                  AS DOUBLE)
           / CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                           * (1 - CAST(l.l_discount AS DECIMAL(18,4))))
                       AS DECIMAL(38,4)) AS DOUBLE) AS promo_revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
"""


@register("sql_tpch_q14", oracle=_Q14_SQL, tags=("sql", "join", "agg"))
def sql_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion revenue share) as RAW SQL — the
    conditional-aggregate-over-join shape reduced to ONE global
    row: a date-sliced fact scan joined to the part dimension, with
    a CASE-gated numerator and ungated denominator accumulated in
    the SAME pass (one aggregate, not two queries).

    Scale shape: the shipdate range prunes at the parquet scan
    (PushedFilters), part joins by AQE choice, and both sums are
    exact DECIMAL partials merged map-side; each sum is cast to
    DOUBLE BEFORE the division (Spark's decimal÷decimal truncates
    by its result-scale rule while DuckDB promotes to double —
    dividing the doubles is the same IEEE op in both engines, no
    ROUND tolerance needed).
    """
    register_views(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(_Q14_SQL)


# ---------------------------------------------------------------------------
# Q15 — top supplier (scalar-max gate shape)


_Q15_SQL = f"""
    WITH rev AS (
      SELECT l_suppkey, SUM({_REV_SQL}) AS vd
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.vd AS DOUBLE) AS total_revenue
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.vd = (SELECT MAX(vd) FROM rev)
"""


@register("sql_tpch_q15", oracle=_Q15_SQL, tags=("sql", "agg", "scalar"))
def sql_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) whose 1996-Q1
    revenue equals the quarter's maximum. The original's revenue
    VIEW + scalar MAX subquery becomes an agg + 1-row broadcast
    cross join; the equality gate compares EXACT DECIMALS (the
    order-insensitive accumulators), so "equals the max" can never
    flake on float summation order — the double cast happens only
    in the final projection.

    Scale shape: the quarter slice pushes into the scan; one
    shuffle for the per-supplier agg; the max travels as one row;
    supplier decode joins after the gate (at most a handful of
    rows survive).
    """
    li = (load(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1996-04-01")))
    rev = (li.groupBy("l_suppkey")
           .agg(F.sum(_rev()).alias("vd")))
    mx = rev.agg(F.max("vd").alias("max_vd"))
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (rev.crossJoin(F.broadcast(mx))
            .filter(F.col("vd") == F.col("max_vd"))
            .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name",
                    F.col("vd").cast("double").alias("total_revenue")))


# ---------------------------------------------------------------------------
# Q16 — supplier count by part attributes (anti-join + count-distinct)


_Q16_SQL = """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 15, 25, 40)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
"""


@register("sql_tpch_q16", oracle=_Q16_SQL, tags=("sql", "antijoin", "agg"))
def sql_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship) adapted: supply
    relationships come from lineitem (no partsupp), and the
    "customer complaints" supplier exclusion becomes negative
    account balance. The NOT IN subquery is a LEFT ANTI join on a
    tiny broadcast side (NOT IN vs NULL-able keys is a classic
    wrong-answer trap; s_suppkey is non-null here and the anti-join
    is the always-safe plan).

    Scale shape: the brand/type/size filter broadcasts into the
    fact; the excluded-supplier list broadcasts as an anti build;
    COUNT(DISTINCT supplier) per attribute triple expands to a
    two-phase distinct-then-count under AQE with partial combine.
    """
    part_f = (load(spark, sf_dir, "part")
              .filter((F.col("p_brand") != "Brand#5")
                      & (F.col("p_type") != "PROMO")
                      & F.col("p_size").isin(1, 5, 9, 15, 25, 40))
              .select("p_partkey", "p_brand", "p_type", "p_size"))
    bad_sup = (load(spark, sf_dir, "supplier")
               .filter(F.col("s_acctbal") < 0)
               .select("s_suppkey"))
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (li
            .join(F.broadcast(part_f),
                  F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(bad_sup),
                  F.col("l_suppkey") == F.col("s_suppkey"),
                  "left_anti")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated-avg gate shape)


_Q17_SQL = """
    WITH pf AS (
      SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'
    ), a AS (
      SELECT l.l_partkey,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(l.l_quantity) AS avg_qty
      FROM lineitem l JOIN pf ON pf.p_partkey = l.l_partkey
      GROUP BY l.l_partkey
    )
    SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)))
                     AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem l
    JOIN a ON a.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.2 * a.avg_qty
"""


@register("sql_tpch_q17", oracle=_Q17_SQL, tags=("sql", "agg", "scalar"))
def sql_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue) for Brand#23 parts
    (no container column — the brand filter alone plays the
    double-filter role): lines ordering less than 20% of the part's
    average quantity, total price divided by 7 years.

    The correlated ``(SELECT 0.2 * AVG ...)`` becomes a per-part
    aggregate re-joined to the fact — both sides pre-filtered to
    Brand#23 partkeys by broadcast, so the avg table is small and
    ITSELF broadcasts back into the probe. Determinism: avg is the
    exact-decimal sum over count (one double division), the 0.2
    multiply and the comparison are single IEEE ops — bit-identical
    cross-engine; the final sum is an exact decimal accumulator.
    """
    part_f = (load(spark, sf_dir, "part")
              .filter(F.col("p_brand") == "Brand#23")
              .select("p_partkey"))
    li = (load(spark, sf_dir, "lineitem")
          .join(F.broadcast(part_f),
                F.col("l_partkey") == F.col("p_partkey"))
          .select("l_partkey", "l_quantity", "l_extendedprice"))
    avg_q = (li.groupBy(F.col("l_partkey").alias("a_partkey"))
             .agg((F.sum(dec("l_quantity")).cast("double")
                   / F.count("l_quantity")).alias("avg_qty")))
    return (li
            .join(F.broadcast(avg_q),
                  F.col("l_partkey") == F.col("a_partkey"))
            .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
            .agg((dsum("l_extendedprice") / F.lit(7.0))
                 .alias("avg_yearly")))


_Q18_SQL = """
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN big b      ON b.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
"""


@register("sql_tpch_q18", oracle=_Q18_SQL, tags=("sql", "join", "having"))
def sql_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers) as RAW SQL text — the
    HAVING-subquery join shape: an aggregate over the fact table
    gates which orders survive, then the survivors re-join the same
    fact for the detail rollup.

    Catalyst's plan is the scalable one: the `big` CTE is a
    map-side-combined hash aggregate whose output (keys above the
    quantity threshold — a tiny fraction) joins back as a
    broadcast/shuffled equi-join, so lineitem is scanned twice but
    never exploded; the final ORDER BY ... LIMIT 100 is
    TakeOrderedAndProject (per-task heaps, no global sort). The
    threshold makes `big` shrink with selectivity, not data — at
    100 TB the gate join is the cheap side. Tie-safety: o_orderkey
    in the sort makes the top-100 cut deterministic in both engines.
    """
    register_views(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(_Q18_SQL)


# ---------------------------------------------------------------------------
# Q19 — discounted revenue (OR-of-conjuncts pushdown shape)


_Q19_SQL = f"""
    SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
"""


@register("sql_tpch_q19", oracle=_Q19_SQL, tags=("sql", "join", "pushdown"))
def sql_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): three OR'd brand/size/quantity
    conjunct groups across the part-lineitem join — the classic
    test of OR-predicate decomposition. Constants adapted to the
    driver's brand/size domains (no shipmode/shipinstruct columns,
    so those common conjuncts are dropped).

    Catalyst splits the OR: the part-only disjunction (brand+size)
    and the lineitem-only disjunction (quantity ranges) are each
    implied by the full predicate and push into their scans as
    partial filters; the exact mixed predicate re-applies after the
    join. The filtered part side broadcasts. Single-row exact
    decimal total.
    """
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#12")
         & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23")
           & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3")
           & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30)))
    # part-only implication pre-broadcast: any row satisfying `cond`
    # has a part in one of the three (brand, size) boxes.
    part_f = p.filter(
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15))
    ).select("p_partkey", "p_brand", "p_size")
    return (li
            .join(F.broadcast(part_f),
                  F.col("l_partkey") == F.col("p_partkey"))
            .filter(cond)
            .agg(F.sum(_rev()).cast("double").alias("revenue")))


# ---------------------------------------------------------------------------
# Q20 — potential part promotion (semi-join chain shape)


_Q20_SQL = """
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_3'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'hot%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING MAX(CAST(l.l_quantity AS DECIMAL(18,4))) > 48)
"""


@register("sql_tpch_q20", oracle=_Q20_SQL, tags=("sql", "semijoin"))
def sql_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion) adapted: NATION_3
    suppliers who shipped a bulk line (quantity > 48, a scale-free
    ~4% tail of the uniform 1..50 quantity domain — the original's
    ``0.5 * sum(qty)`` gate needs partsupp availability) of a
    'hot%'-named part during 1996. The IN subquery is a LEFT SEMI
    join fed by a grouped HAVING.

    Scale shape: the name-prefix part filter broadcasts into the
    fact; the date slice pushes to the scan; the per-(supplier,
    part) max is map-side combined; the surviving supplier set is
    tiny and broadcasts as the semi build into the nation-filtered
    supplier dim.
    """
    part_f = (load(spark, sf_dir, "part")
              .filter(F.col("p_name").startswith("hot"))
              .select("p_partkey"))
    li = (load(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1997-01-01"))
          .join(F.broadcast(part_f),
                F.col("l_partkey") == F.col("p_partkey")))
    bulk = (li.groupBy("l_suppkey", "l_partkey")
            .agg(F.max(dec("l_quantity")).alias("max_qty"))
            .filter(F.col("max_qty") > 48)
            .select("l_suppkey").distinct())
    nat = (load(spark, sf_dir, "nation")
           .filter(F.col("n_name") == "NATION_3"))
    sup = (load(spark, sf_dir, "supplier")
           .join(F.broadcast(nat),
                 F.col("s_nationkey") == F.col("n_nationkey")))
    return (sup.join(bulk, sup["s_suppkey"] == bulk["l_suppkey"],
                     "left_semi")
            .select("s_name", "n_name"))


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (sole-latest shape)


_Q21_SQL = """
    WITH ostat AS (
      SELECT l_orderkey, MAX(l_shipdate) AS max_ship,
             COUNT(DISTINCT l_suppkey) AS n_supp
      FROM lineitem GROUP BY l_orderkey
    ), last_lines AS (
      SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l
      JOIN ostat os ON os.l_orderkey = l.l_orderkey
      WHERE l.l_shipdate = os.max_ship AND os.n_supp > 1
    ), sole AS (
      SELECT l_orderkey, MIN(l_suppkey) AS l_suppkey
      FROM last_lines GROUP BY l_orderkey HAVING COUNT(*) = 1
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM sole x
    JOIN orders o ON o.o_orderkey = x.l_orderkey
                 AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = x.l_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
"""


@register("sql_tpch_q21", oracle=_Q21_SQL, tags=("sql", "join", "agg"))
def sql_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting) adapted: with
    no receipt/commit dates, the "only supplier who was late" on a
    finished multi-supplier order becomes the SOLE supplier shipping
    on the order's final ship date. The original's EXISTS /
    NOT EXISTS pair over l2/l3 maps to: per-order max + distinct-
    supplier stats, the distinct last-day (order, supplier) pairs,
    and a sole-survivor HAVING COUNT(*) = 1.

    Scale shape: everything keys on l_orderkey — the stats agg, the
    back-join and the sole-survivor agg reuse ONE hash partitioning
    (no second shuffle key until the tiny s_name rollup); the
    orders status filter pushes to its scan and joins on the same
    key. The final top-100 is TakeOrderedAndProject; (numwait desc,
    s_name) is a unique key so the cut is deterministic.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    ostat = (li.groupBy("l_orderkey")
             .agg(F.max("l_shipdate").alias("max_ship"),
                  F.countDistinct("l_suppkey").alias("n_supp")))
    last_lines = (li
                  .join(ostat, "l_orderkey")
                  .filter((F.col("l_shipdate") == F.col("max_ship"))
                          & (F.col("n_supp") > 1))
                  .select("l_orderkey", "l_suppkey").distinct())
    sole = (last_lines.groupBy("l_orderkey")
            .agg(F.min("l_suppkey").alias("w_suppkey"),
                 F.count("*").alias("n_last"))
            .filter(F.col("n_last") == 1))
    o = (load(spark, sf_dir, "orders")
         .filter(F.col("o_orderstatus") == "F")
         .select("o_orderkey"))
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (sole
            .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(sup, F.col("w_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count("*").alias("numwait"))
            .orderBy(F.col("numwait").desc(), "s_name")
            .limit(100))


# ---------------------------------------------------------------------------
# Q22 — global sales opportunity (anti-join + scalar-avg shape)


_Q22_SQL = """
    WITH thr AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(*) AS cutoff
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n.n_name, COUNT(*) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
             AS totacctbal
    FROM customer c
    JOIN thr ON c.c_acctbal > thr.cutoff
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >=
                            TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY n.n_name
"""


@register("sql_tpch_q22", oracle=_Q22_SQL, tags=("sql", "antijoin"))
def sql_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity) adapted: "promising but
    dormant" customers hold above-average positive balances and
    placed NO order since 1999 (the original's "no orders at all"
    is vacuous here — every driver customer has orders — and the
    phone-prefix country grouping becomes the nation dim). Shape
    preserved: scalar AVG subquery + NOT EXISTS anti-join + nation
    rollup.

    Determinism: the cutoff is the exact-decimal positive-balance
    sum over count (one double division, bit-identical both
    engines); totals are exact decimal sums. Scale shape: the
    cutoff is a 1-row broadcast; the anti-join's build side is
    orders date-sliced at the scan (recent orders only — a fraction
    of the fact); nation decodes by broadcast; the rollup is
    |nations| groups.
    """
    c = load(spark, sf_dir, "customer")
    thr = (c.filter(F.col("c_acctbal") > 0.0)
           .agg((F.sum(dec("c_acctbal")).cast("double")
                 / F.count("*")).alias("cutoff")))
    recent = (load(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") >= "1999-01-01")
              .select("o_custkey"))
    nat = load(spark, sf_dir, "nation")
    rich = (c.crossJoin(F.broadcast(thr))
            .filter(F.col("c_acctbal") > F.col("cutoff")))
    dormant = rich.join(recent,
                        rich["c_custkey"] == recent["o_custkey"],
                        "left_anti")
    return (dormant
            .join(F.broadcast(nat),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.count("*").alias("numcust"),
                 dsum("c_acctbal").alias("totacctbal")))
