"""Query catalog: every operator exposed as a (spark_fn, duckdb_oracle) pair.

This is the engine's acceptance surface (driver contract in
``__spark_entry__.py``): each entry is one operator/query from SURVEY §2
or the north-star LLM-pipeline set, as

* a Spark callable ``(spark, sf_dir) -> DataFrame``, and
* an equivalent DuckDB SQL string over the same parquet tables.

Determinism rules (learned the hard way, kept bit-exact):

* double SUMs go through a decimal cast AT THE EXPRESSION'S EXACT
  DECIMAL PRECISION (see ``dsum``) — exact decimal addition is
  order-independent, and the final decimal→double cast stays within
  double-exact integer range;
* float ``round()`` is NEVER used for oracle-compared values (Spark and
  DuckDB disagree at exact-decimal boundaries); ratios stay raw doubles
  (bit-identical when inputs + operation order match) or become integer
  ppm;
* every top-k has a full tie-break; every collect is sorted;
* all hashing/tokenization comes from ``functions.portable`` rendered
  per-dialect from one definition.

Where a construct is ANSI-shared (windows, rollup, set ops, joins) one
SQL string serves both engines — Catalyst and DuckDB plan it
independently.  DataFrame-API composition is used where the operator
library (``operators/``) adds value (dedup, similarity, as-of, spans).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import portable as P
from .operators import dedup, relational, sampling, similarity
from .operators import text as textops
from .plans import checks
from .core.checkpoint import ckpt_eager, ckpt_lazy

SPARK, DUCK = P.SPARK, P.DUCKDB

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _ensure_session_defaults(spark: SparkSession) -> None:
    """Catalog queries run on the CALLER's session (the driver builds its
    own) — pin the settings correctness depends on: UTC session timezone
    (timestamps must collect identically to DuckDB's UTC-naive values)
    and a local-scale shuffle width when the 200-partition default is in
    place (plan shape is unaffected; AQE coalesces either way).

    LOUD SIDE-EFFECT NOTE: these two settings must be live at ACTION
    time (collect/write), which happens after the catalog function
    returns a lazy DataFrame — so they cannot be save/restored here and
    they outlive the call.  Callers embedding catalog queries in a
    session with different needs should wrap the full
    build-collect span in :func:`scoped_session_conf`."""
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", "32")


@contextmanager
def scoped_session_conf(spark: SparkSession, **confs: str):
    """Set session confs for the duration of a block, restoring previous
    values (or unsetting) on exit.  Use around a catalog-query
    build-AND-collect span to keep the session's prior settings:

        with scoped_session_conf(spark):                 # restore-only
            rows = QUERIES["q1_pricing_summary"](spark, sf).collect()

    With no ``confs``, snapshots/restores the keys the catalog touches.
    """
    keys = list(confs) or [
        "spark.sql.session.timeZone",
        "spark.sql.shuffle.partitions",
        "spark.sql.optimizer.excludedRules",
        "spark.sql.legacy.parquet.nanosAsLong",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield spark
    finally:
        for k, old in saved.items():
            if old is None:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass
            else:
                spark.conf.set(k, old)


# (appId, sf_dir, table) -> DataFrame.  A DataFrame is a reusable plan
# fragment; caching it skips the parquet footer/schema re-inference that
# otherwise costs ~100ms per table per query (a 7-table join pays ~1s of
# pure planning overhead without this).  Keyed by applicationId so a
# stopped-and-recreated session never sees stale plans.
_LOAD_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _normalize_events_ts(df: DataFrame, ts_type) -> DataFrame:
    """events.ts to TIMESTAMP, dispatching on the READ dtype (shared by
    the batch loader and the streaming source).  This testdata stores
    TIMESTAMP(MICROS) — verified with pyarrow at sf0.001/0.01/0.1 —
    which Spark 4 reads as TIMESTAMP_NTZ; some generators emit
    TIMESTAMP(NANOS), which Spark only reads via the session-wide
    nanosAsLong legacy flag, arriving here as a long column."""
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    if isinstance(ts_type, LongType):
        # nanos-as-long: values are micro-precision so div-1000 is exact
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        # cast to TIMESTAMP (session tz pinned UTC => wall-clock
        # preserving) so watermarks/windows work and collect matches
        # DuckDB's naive-UTC values
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if not isinstance(ts_type, TimestampType):
        raise TypeError(
            f"events.ts read as unsupported type {ts_type}; expected "
            "timestamp (micros) or long (nanosAsLong)"
        )
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_defaults(spark)
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, name)
    cached = _LOAD_CACHE.get(key)
    if cached is not None:
        return cached
    # evict plans belonging to stopped sessions so the cache is bounded by
    # the live session's (sf_dir, table) working set
    for stale in [k for k in _LOAD_CACHE if k[0] != app_id]:
        del _LOAD_CACHE[stale]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _normalize_events_ts(df, df.schema["ts"].dataType)
    _LOAD_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names or TABLES:
        load(spark, sf_dir, n).createOrReplaceTempView(n)


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):  # decorator
    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return wrap


def shared_sql(name: str, sql: str, needs: tuple[str, ...]) -> None:
    """One ANSI SQL text executed by BOTH engines (Catalyst plans it for
    Spark; DuckDB runs it as the oracle)."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, *needs)
        return spark.sql(sql)

    QUERIES[name] = fn
    ORACLES[name] = sql


# Exact decimal sum rendered back to double (order-independent => portable).
# ``scale`` must EQUAL the expression's exact decimal precision (all source
# columns are 2dp; a product of k such columns is exactly 2k dp):
#  - below it, the cast rounds and Spark (HALF_UP) vs DuckDB (HALF_EVEN)
#    tie-break differently (seen: sum_charge at scale 4);
#  - above it, the summed integer representation can exceed 2^53 and the
#    final decimal→double conversion differs by 1 ulp (DuckDB divides a
#    rounded int128 by 10^scale; seen: 1.2e10 totals at scale 8).
def dsum(expr: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(27,{scale}))) AS DOUBLE)"


# --------------------------------------------------------------------------
# 1. TPC-H-style relational core (shared ANSI SQL)
# --------------------------------------------------------------------------
shared_sql(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {dsum('l_quantity')} AS sum_qty,
           {dsum('l_extendedprice')} AS sum_base_price,
           {dsum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
           {dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
           {dsum('l_quantity')} / COUNT(*) AS avg_qty,
           {dsum('l_extendedprice')} / COUNT(*) AS avg_price,
           {dsum('l_discount', 2)} / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    ("lineitem",),
)

shared_sql(
    "q3_top_unshipped_orders",
    f"""
    SELECT o.o_orderkey, o.o_orderdate,
           {dsum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
    ("customer", "orders", "lineitem"),
)

shared_sql(
    "q5_region_nation_revenue",
    f"""
    SELECT r.r_name, n.n_name,
           {dsum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    GROUP BY r.r_name, n.n_name
    """,
    ("region", "nation", "customer", "supplier", "orders", "lineitem"),
)

shared_sql(
    "q6_forecast_revenue",
    f"""
    SELECT {dsum('l_extendedprice * l_discount', 4)} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    ("lineitem",),
)

shared_sql(
    "q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {dsum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    ("customer", "orders", "lineitem", "nation"),
)

shared_sql(
    # promo-revenue share: conditional aggregation as exact integer basis
    # points of decimal sums (a ratio of two decimal-exact sums stays
    # bit-identical across engines)
    "q14_promo_share",
    f"""
    SELECT CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                    THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4))
                    ELSE CAST(0 AS DECIMAL(27,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4))) AS DOUBLE)
             AS promo_share,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    """,
    ("lineitem", "part"),
)

shared_sql(
    # TPC-H Q4 adapted to this schema (no commit/receipt dates): priority
    # mix of orders that had at least one returned item — EXISTS semijoin.
    "q4_priority_returned",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    ("orders", "lineitem"),
)

shared_sql(
    # TPC-H Q7: bidirectional nation-pair shipping volume by year.
    "q7_nation_volume",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(vol_dec) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(YEAR FROM l.l_shipdate) AS l_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4)) AS vol_dec
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    ("supplier", "lineitem", "orders", "customer", "nation"),
)

shared_sql(
    # TPC-H Q8: one nation's market share inside a region's ECONOMY-part
    # order volume, per year.  Share = ratio of two exact decimal sums.
    "q8_market_share",
    """
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_3' THEN vol_dec
                         ELSE CAST(0 AS DECIMAL(27,4)) END) AS DOUBLE)
             / CAST(SUM(vol_dec) AS DOUBLE) AS mkt_share,
           COUNT(*) AS n_items
    FROM (
      SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4)) AS vol_dec,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    ("part", "lineitem", "supplier", "orders", "customer", "nation", "region"),
)

shared_sql(
    # TPC-H Q9 adapted (no partsupp): profit proxy = revenue minus
    # retail-price * quantity, by supplier nation and order year.
    "q9_product_profit",
    """
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4))
               - CAST(p.p_retailprice * l.l_quantity AS DECIMAL(27,4)) AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE p.p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    ("part", "lineitem", "supplier", "orders", "nation"),
)

shared_sql(
    # TPC-H Q13: distribution of per-customer order counts; the filter
    # lives in the LEFT JOIN condition so 0-order customers survive.
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    ("customer", "orders"),
)

shared_sql(
    # TPC-H Q15: supplier(s) with the maximum quarterly revenue — CTE
    # reused by both the join and the scalar-subquery max.
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {dsum('l_extendedprice * (1 - l_discount)', 4)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
    ("supplier", "lineitem"),
)

shared_sql(
    # TPC-H Q17 adapted (brand only, no container): revenue lost to
    # small-quantity orders — correlated scalar subquery per part.
    "q17_small_quantity_revenue",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(27,2))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.5 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(27,2))) AS DOUBLE)
                      / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """,
    ("lineitem", "part"),
)

shared_sql(
    # TPC-H Q18: large-volume orders via IN + HAVING on an exact decimal
    # quantity sum.
    "q18_large_orders",
    f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           {dsum('l.l_quantity')} AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(27,2))) > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
    LIMIT 20
    """,
    ("customer", "orders", "lineitem"),
)

shared_sql(
    # TPC-H Q19: disjunctive brand/size/quantity predicates — exercises
    # OR-predicate pushdown through the part join.
    "q19_disjunctive_revenue",
    f"""
    SELECT {dsum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 2 AND 12)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 3 AND 13)
    """,
    ("lineitem", "part"),
)

shared_sql(
    # TPC-H Q21 adapted (no receipt dates): suppliers who were the ONLY
    # supplier with returned items in a finished multi-supplier order —
    # stacked EXISTS / NOT EXISTS correlated subqueries.
    "q21_waiting_supplier",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 10
    """,
    ("supplier", "lineitem", "orders"),
)

shared_sql(
    # TPC-H Q22 adapted (mktsegment instead of phone prefix): well-funded
    # customers idle in the last year — scalar avg subquery + NOT EXISTS.
    "q22_idle_rich_customers",
    f"""
    SELECT c.c_mktsegment, COUNT(*) AS numcust, {dsum('c.c_acctbal')} AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(27,2))) AS DOUBLE) / COUNT(*)
        FROM customer c2 WHERE c2.c_acctbal > 0)
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    ("customer", "orders"),
)

# --- the remaining TPC-H family, adapted to the available columns -------
# The driver testdata has no partsupp table and lineitem carries no
# shipmode/commitdate/receiptdate, so Q2/Q11/Q12/Q16/Q20 run on faithful
# ADAPTATIONS: supplier-part offers derive from lineitem (distinct
# (l_partkey, l_suppkey), unit price = extendedprice/quantity), Q12's
# lateness is shipdate - orderdate > 90 days.  The query SHAPES — the
# point of each — are unchanged: Q2 correlated per-group argmin, Q11
# HAVING over a share of a global aggregate, Q12 conditional two-way
# counts, Q16 anti-join + count-distinct, Q20 nested semi-join chain.
# With these, all 22 TPC-H query shapes are on the acceptance surface.


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH offer AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_price
      FROM lineitem GROUP BY 1, 2
    ),
    best AS (
      SELECT partkey, MIN(unit_price) AS best_price
      FROM offer GROUP BY 1
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
           o.unit_price
    FROM part p
    JOIN best b ON b.partkey = p.p_partkey
    JOIN offer o ON o.partkey = p.p_partkey AND o.unit_price = b.best_price
    JOIN supplier s ON s.s_suppkey = o.suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_type = 'SMALL' AND p.p_size <= 5 AND r.r_name = 'EUROPE'
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted — no partsupp: offers derive from lineitem,
    cost = min unit price per supplier-part): for each qualifying
    part, every supplier matching the region-wide minimum price,
    decorated with supplier/nation.  Spark shape: the per-part minimum
    rides the offer aggregate (two map-side-combined aggregates on the
    same key — no window, no correlated re-scan), dims broadcast, and
    the final is a TakeOrderedAndProject.  IEEE division is correctly
    rounded in both engines, and it only feeds MIN/equality — never a
    sum — so the oracle matches bitwise."""
    li = load(spark, sf_dir, "lineitem")
    offer = li.groupBy(
        F.col("l_partkey").alias("partkey"),
        F.col("l_suppkey").alias("suppkey"),
    ).agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    )
    best = offer.groupBy("partkey").agg(F.min("unit_price").alias("best_price"))
    part = load(spark, sf_dir, "part").where(
        (F.col("p_type") == "SMALL") & (F.col("p_size") <= 5)
    )
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    return (
        offer.join(best, on="partkey")
        .where(F.col("unit_price") == F.col("best_price"))
        .join(F.broadcast(part), F.col("partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
                "unit_price")
        .orderBy(F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"),
                 F.asc("p_partkey"))
        .limit(100)
    )


shared_sql(
    # TPC-H Q11 (adapted): per-part inventory value -> per-part shipped
    # value for one nation's suppliers; HAVING keeps parts above 1/10000
    # of the nation total.  The share compare is integer-exact: both
    # sides are the same DECIMAL(27,4) sum, scaled by 10000 on the left.
    "q11_important_part_value",
    """
    WITH nsup AS (
      SELECT s_suppkey FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
    ),
    val AS (
      SELECT l.l_partkey,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(27,4))) AS v
      FROM lineitem l JOIN nsup ON nsup.s_suppkey = l.l_suppkey
      GROUP BY l.l_partkey
    )
    SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
    FROM val
    WHERE v * 10000 > (SELECT SUM(v) FROM val)
    ORDER BY part_value DESC, l_partkey ASC
    """,
    ("lineitem", "supplier", "nation"),
)

shared_sql(
    # TPC-H Q12 (adapted — no shipmode/receiptdate: late = shipped more
    # than 90 days after the order date; the two-way conditional counts
    # split by order priority keep Q12's CASE-pivot shape).
    "q12_late_shipment_priority",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    ("orders", "lineitem"),
)

shared_sql(
    # TPC-H Q16 (adapted — partsupp := distinct (l_partkey, l_suppkey)
    # from lineitem): supplier counts per (brand, type, size) with the
    # classic brand/type exclusion and a NOT-IN supplier blacklist
    # (here: negative account balance).
    "q16_supplier_part_counts",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'ECONOMY'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND ps.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    ("lineitem", "part", "supplier"),
)

shared_sql(
    # TPC-H Q20 (adapted — availability := a supplier's all-time shipped
    # quantity of a part; the Q20 shape is the nested semi-join chain:
    # suppliers having a >= 60-unit part whose 1996 shipments exceed
    # half their all-time shipments of it, part names filtered by
    # prefix).  The half-compare is integer-exact on decimal sums
    # (2*q96 > qall).
    "q20_excess_shipment_suppliers",
    """
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l
      WHERE l.l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(CAST(l.l_quantity AS DECIMAL(27,2))) >= 60
         AND 2 * SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '1996-01-01'
                           AND l.l_shipdate < TIMESTAMP '1997-01-01'
                          THEN CAST(l.l_quantity AS DECIMAL(27,2))
                          ELSE CAST(0 AS DECIMAL(27,2)) END)
             > SUM(CAST(l.l_quantity AS DECIMAL(27,2)))
    )
    ORDER BY s.s_name
    """,
    ("supplier", "nation", "lineitem", "part"),
)


@query(
    "top3_orders_per_segment",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rnk FROM (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rnk
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    ) t WHERE rnk <= 3
    """,
)
def top3_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per market segment via the partial+merge top-k
    (``relational.top_k_per_group_scalable``): ~5 segments make the
    naive per-segment window one giant sort per segment at 100x; the
    partial stage keeps 3 rows per (segment, input partition) in
    parallel, the merge ranks the <= 3*P survivors.  Total (price DESC,
    orderkey ASC) order => identical to the oracle's window form."""
    joined = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
    )
    return relational.top_k_per_group_scalable(
        joined, ["c_mktsegment"], "o_totalprice", 3,
        tiebreak_cols=["o_orderkey"], rank_col="rnk",
    ).select("c_mktsegment", "o_orderkey", "o_totalprice", "rnk")

@query(
    "orders_pareto_frontier",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM orders d
      WHERE d.o_orderdate <= o.o_orderdate
        AND d.o_totalprice >= o.o_totalprice
        AND (d.o_orderdate < o.o_orderdate
             OR d.o_totalprice > o.o_totalprice)
    )
    """,
)
def orders_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier / skyline over orders (minimize order date,
    maximize total price): the orders no later-AND-cheaper order can
    dominate — "the biggest order seen so far" frontier
    (``operators/relational.py:pareto_frontier_2d``).  The Spark plan
    is the histogram-prefix decomposition (per-date max collapses the
    corpus to the distinct-date frame; one exclusive running max over
    that bounded frame; hash join back) — no corpus-sized window, no
    quadratic anything.  The oracle is the independent ``NOT EXISTS``
    dominance definition, quadratic and feasible only at gate scale."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return relational.pareto_frontier_2d(
        orders, "o_orderdate", "o_totalprice"
    ).select("o_orderkey", "o_orderdate", "o_totalprice")


@query(
    "part_name_fuzzy_pairs",
    oracle="""
    WITH p AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS p_name_a, b.p_name AS p_name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS distance
    FROM p a JOIN p b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy vocabulary matching: distinct part-name pairs within
    Levenshtein distance 2 (``dedup.edit_distance_pairs`` — the
    q-gram count-filter join: length filter + multiset shared-gram
    bound from an inverted index, short strings length-banded, exact
    integer DP verify).  The oracle is the quadratic distinct-names
    self-join — identical because the filters are lossless.  The
    entity-resolution primitive for catalog/name normalization."""
    return dedup.qgram_edit_distance_pairs(
        load(spark, sf_dir, "part"), "p_name", max_distance=2, q=2
    )


@query(
    "docs_quality_length_frontier",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, lang,
             CAST({P.token_count('text', DUCK)} AS BIGINT) AS ntok,
             CAST({P.quality_score_ppm('text', DUCK)} AS BIGINT) AS quality_ppm
      FROM documents
    )
    SELECT s.doc_id, s.lang, s.ntok, s.quality_ppm
    FROM sized s
    WHERE NOT EXISTS (
      SELECT 1 FROM sized d
      WHERE d.lang = s.lang AND d.ntok <= s.ntok
        AND d.quality_ppm >= s.quality_ppm
        AND (d.ntok < s.ntok OR d.quality_ppm > s.quality_ppm)
    )
    """,
)
def docs_quality_length_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-vs-length Pareto frontier: the shortest
    documents at each quality level no shorter-and-better document can
    dominate — the curation shortlist "maximum quality per token spent"
    (``relational.pareto_frontier_2d`` with ``group_cols``).  The
    grouped form has NO single-partition exchange at all: the per-x
    aggregate keys on (lang, ntok) and the running max partitions by
    lang.  Integer ppm quality and token counts, so the independent
    NOT-EXISTS oracle matches bitwise."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.expr(P.token_count("text", SPARK)).cast("long").alias("ntok"),
        F.expr(P.quality_score_ppm("text", SPARK)).cast("long").alias("quality_ppm"),
    ).transform(ckpt_lazy)
    # ^ the frontier plan probes this frame twice (per-x aggregate +
    # join-back); materializing the narrow 4-column projection runs the
    # regex-heavy token/quality expressions ONCE over the corpus
    # instead of twice (measured 17.8s -> ~2s in the bench sweep).
    return relational.pareto_frontier_2d(
        docs, "ntok", "quality_ppm", group_cols=["lang"]
    ).select("doc_id", "lang", "ntok", "quality_ppm")


@query(
    "events_value_winsorized",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    qs AS (
      SELECT event_type,
             MAX(CASE WHEN rk = GREATEST(CAST(CEIL(n * 0.05) AS BIGINT), 1)
                      THEN value END) AS lo,
             MAX(CASE WHEN rk = GREATEST(CAST(CEIL(n * 0.95) AS BIGINT), 1)
                      THEN value END) AS hi
      FROM ranked GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN e.value < q.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(SUM(CASE WHEN e.value > q.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           {dsum('LEAST(GREATEST(e.value, q.lo), q.hi)')} AS winsorized_total
    FROM events e JOIN qs q USING (event_type)
    GROUP BY e.event_type
    """,
)
def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorized value totals (clip to the exact type-1
    [p5, p95] per event type, then aggregate) — the robust-stats
    outlier treatment (``relational.winsorize`` on the
    ``exact_group_quantiles`` histogram locate-then-sort plan: no
    per-type full sort, no corpus window; the oracle's ROW_NUMBER rank
    formulation is the quadratic-ish naive twin, feasible at gate
    scale).  Clipped values are real data values (order statistics),
    so the decimal total stays exact."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    w = relational.winsorize(
        ev, "event_type", "value", lower=0.05, upper=0.95, bucket_width=1.0
    )
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("value") < F.col("_wlo"), 1).otherwise(0))
        .cast("long").alias("n_clipped_low"),
        F.sum(F.when(F.col("value") > F.col("_whi"), 1).otherwise(0))
        .cast("long").alias("n_clipped_high"),
        F.sum(F.col("value_winsorized").cast("decimal(27,2)"))
        .cast("double").alias("winsorized_total"),
    )


shared_sql(
    "orders_rollup",
    f"""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           {dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    ("orders",),
)

shared_sql(
    "customer_set_ops",
    """
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    ("orders",),
)

shared_sql(
    "region_nation_pairs",
    """
    SELECT r.r_name || '/' || n.n_name AS pair
    FROM region r CROSS JOIN nation n
    """,
    ("region", "nation"),
)

shared_sql(
    "events_extreme_by_type",
    """
    SELECT event_type, event_id, user_id, value FROM (
      SELECT event_type, event_id, user_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id ASC) AS rnk
      FROM events
    ) t WHERE rnk = 1
    """,
    ("events",),
)

shared_sql(
    "events_running_sum",
    f"""
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(27,2)))
                OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_value,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
    FROM events
    """,
    ("events",),
)

shared_sql(
    "orders_monthly_status",
    """
    SELECT o_orderstatus,
           EXTRACT(YEAR FROM o_orderdate) * 100 + EXTRACT(MONTH FROM o_orderdate)
             AS order_month,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
    ("orders",),
)


shared_sql(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    ("customer", "orders"),
)

shared_sql(
    "customers_with_open_orders",
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
    ("customer", "orders"),
)

shared_sql(
    "orders_cube",
    f"""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders, {dsum('o_totalprice')} AS total_price
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    ("orders",),
)

shared_sql(
    "orders_grouping_sets",
    f"""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders
    FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    ("orders",),
)

@query(
    # exact median by deterministic middle-element pick — interpolation-free,
    # so no engine-specific percentile float arithmetic can diverge
    "orders_median_price",
    oracle="""
    SELECT o_orderpriority, o_totalprice AS median_price FROM (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ) t WHERE rn = CAST(FLOOR((n + 1) / 2) AS BIGINT)
    """,
)
def orders_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-priority median as the middle ELEMENT (no float
    interpolation), ranked on the (priority, price-bucket) histogram
    plan — ~5 priorities must not become 5 single-task sorts of the
    orders table; the oracle keeps the naive window form."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    ranked = relational.grouped_rank_exact(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey",
        bucket_expr=F.floor(F.col("o_totalprice") / 1000).cast("long"),
    )
    return ranked.where(F.col("rk") == F.expr("(n + 1) div 2")).select(
        "o_orderpriority", F.col("o_totalprice").alias("median_price")
    )

shared_sql(
    "events_lag_lead",
    """
    SELECT event_id, user_id,
           LAG(event_type) OVER w AS prev_type,
           LEAD(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
    ("events",),
)

shared_sql(
    "customer_balance_buckets",
    """
    SELECT CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
           COUNT(*) AS n_customers
    FROM customer GROUP BY 1
    """,
    ("customer",),
)

shared_sql(
    "part_brand_stats",
    f"""
    SELECT p_brand, SUBSTRING(p_type, 1, 6) AS type_prefix,
           COUNT(*) AS n_parts,
           COUNT(DISTINCT p_size) AS n_sizes,
           {dsum('p_retailprice')} AS total_price
    FROM part GROUP BY p_brand, SUBSTRING(p_type, 1, 6)
    """,
    ("part",),
)


shared_sql(
    "customer_segment_intersect",
    """
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
    ("orders",),
)


@query(
    "supplier_balance_unpivot",
    oracle="""
    SELECT s_suppkey, 'acctbal' AS metric, s_acctbal AS value FROM supplier
    UNION ALL
    SELECT s_suppkey, 'nationkey' AS metric, CAST(s_nationkey AS DOUBLE) FROM supplier
    """,
)
def supplier_balance_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt via ``stack`` (the unpivot surface; DuckDB oracle is
    the equivalent UNION ALL)."""
    sup = load(spark, sf_dir, "supplier")
    return sup.selectExpr(
        "s_suppkey",
        "stack(2, 'acctbal', s_acctbal, 'nationkey', CAST(s_nationkey AS DOUBLE)) AS (metric, value)",
    )


shared_sql(
    # anomaly detection: z-scores derived ONLY from decimal-exact sums
    # (value and value^2 are exactly 2/4 dp), so mean/std — and therefore
    # every z — are identical doubles in both engines
    "events_value_outliers",
    """
    WITH stats AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(27,4))) AS DOUBLE) AS s2,
             COUNT(*) AS n
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           (e.value - s.s1 / s.n)
             / sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1)) AS zscore
    FROM events e JOIN stats s ON s.event_type = e.event_type
    WHERE abs((e.value - s.s1 / s.n)
              / sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1))) > 3
    """,
    ("events",),
)

shared_sql(
    # weekly-activity retention: users active in week 1 still active in
    # week w (cohort = first active week)
    "events_weekly_retention",
    """
    WITH weeks AS (
      SELECT user_id,
             CAST(FLOOR((EXTRACT(DAY FROM ts) - 1) / 7) AS BIGINT) AS wk
      FROM events GROUP BY 1, 2
    ),
    cohort AS (SELECT user_id, MIN(wk) AS first_wk FROM weeks GROUP BY user_id)
    SELECT c.first_wk, w.wk, COUNT(DISTINCT w.user_id) AS active_users
    FROM cohort c JOIN weeks w ON w.user_id = c.user_id
    GROUP BY c.first_wk, w.wk
    """,
    ("events",),
)


@query("events_approx_distinct_users")  # no oracle: approximate by design
def events_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event type — the sketch you
    actually run at 100 TB (exact distinct shuffles every key; HLL ships
    a constant-size sketch per partition).  Driver records a rows-only
    check: the estimate is engine-specific by construction.  The
    oracle-verified exact counterpart (same shape, same grouping) is
    ``events_distinct_users_exact``."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_distinct_users_exact",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def events_distinct_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-users-per-event-type: the driver-verifiable twin of
    ``events_approx_distinct_users`` (same grouping and shape, exact
    COUNT DISTINCT instead of the HLL sketch).  At scale the exact form
    is a two-stage shuffle on (event_type, user_id) then event_type —
    Catalyst expands it automatically; partial aggregation keeps the
    first shuffle at distinct-pair cardinality, not row count."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query("events_hll_rollup_reaggregate")  # no oracle: sketch by design
def events_hll_rollup_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct-count ROLLUP — the hypertable/OLAP-cube
    pattern that makes distinct counts cheap at 100 TB: build one
    Datasketches HLL sketch per fine-grained cell (day x event_type,
    ``hll_sketch_agg``; at scale these persist as bytes in a rollup
    table, written once), then answer ANY coarser slice by
    ``hll_union_agg`` over the cell sketches — no rescan of the fact
    table, ever.  Plain ``approx_count_distinct`` cannot do this: its
    sketch is consumed inside one aggregation and cannot be stored or
    merged later.

    Output pairs the union-rolled estimate per event_type with the
    exact distinct count from the raw table; ``tests/test_catalog.py``
    pins the estimate within 2% of exact AND equal to the estimate of
    a directly-built (un-rolled) sketch — the merge loses nothing.
    Rows-only driver check: the estimate is engine-specific."""
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.hll_sketch_agg("user_id", 12).alias("sk"))
    rolled = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", True))
        .cast("long")
        .alias("approx_users")
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return rolled.join(exact, "event_type")


@query("events_theta_audience_overlap")  # no oracle: sketch by design
def events_theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience SET ALGEBRA on sketches — the capability HLL cannot
    provide: Datasketches THETA sketches of the view and purchase
    audiences support ``theta_intersection`` / ``theta_difference``
    directly on the stored sketch bytes, answering "how many users
    both viewed AND purchased" (or viewed but never purchased) WITHOUT
    a distinct-user join anywhere.  At 100 TB this is the audience-
    overlap query pattern: per-segment sketches are built once in the
    rollup pass (mergeable, constant size) and every pairwise overlap/
    exclusion after that is sketch-local math.

    Output pairs each segment estimate with the exact count from the
    raw table; ``tests/test_catalog.py`` pins estimate == exact at
    this cardinality (theta sketches are exact below their nominal
    entries) — rows-only driver check (estimates are engine-
    specific)."""
    _ensure_session_defaults(spark)
    events = load(spark, sf_dir, "events")
    wide = (
        events.where(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type")
        .agg(F.expr("theta_sketch_agg(user_id)").alias("s"))
        .agg(
            F.max(F.when(F.col("event_type") == "view", F.col("s"))).alias("sv"),
            F.max(F.when(F.col("event_type") == "purchase", F.col("s"))).alias("sp"),
        )
    )
    est = wide.selectExpr(
        "CAST(theta_sketch_estimate(sv) AS BIGINT) AS view_users",
        "CAST(theta_sketch_estimate(sp) AS BIGINT) AS purchase_users",
        "CAST(theta_sketch_estimate(theta_intersection(sv, sp)) AS BIGINT)"
        "  AS both_users",
        "CAST(theta_sketch_estimate(theta_difference(sv, sp)) AS BIGINT)"
        "  AS view_only_users",
    )
    by_user = events.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("v"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("p"),
    )
    exact = by_user.agg(
        F.sum("v").cast("long").alias("exact_view"),
        F.sum("p").cast("long").alias("exact_purchase"),
        F.sum(F.expr("v * p")).cast("long").alias("exact_both"),
        F.sum(F.expr("v * (1 - p)")).cast("long").alias("exact_view_only"),
    )
    return est.crossJoin(exact)


@query("events_topk_sketch_rollup")  # no oracle: sketch by design
def events_topk_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable HEAVY-HITTERS rollup: daily
    ``approx_top_k_accumulate`` sketch states (storable bytes, one per
    day) combine into any coarser slice via ``approx_top_k_combine`` +
    ``_estimate`` — the top-k analogue of the HLL/KLL rollups: the
    fact table is scanned once when the daily states are built, and
    every later "top users this month/quarter" re-aggregates sketch
    states only.  ``tests/test_catalog.py`` pins the rolled monthly
    top-5 equal to the exact per-month top-5 at this scale (the
    space-saving sketch is exact while distinct items fit its
    capacity — and Spark's implementation returns an EMPTY estimate,
    not a degraded one, once items exceed maxItemsTracked, so size the
    capacity above the expected distinct keys, 4096 here).  Rows-only
    driver check (sketch internals are engine-specific)."""
    _ensure_session_defaults(spark)
    load(spark, sf_dir, "events").createOrReplaceTempView("_topk_events")
    return spark.sql(
        """
        WITH daily AS (
          SELECT date_trunc('month', ts) AS month, CAST(ts AS DATE) AS day,
                 approx_top_k_accumulate(user_id, 4096) AS state
          FROM _topk_events GROUP BY 1, 2
        ),
        monthly AS (
          SELECT month, approx_top_k_combine(state, 4096) AS state
          FROM daily GROUP BY month
        )
        SELECT month, t.item AS user_id, t.count AS n_events
        FROM (SELECT month, explode(approx_top_k_estimate(state, 5)) AS t
              FROM monthly)
        """
    )


@query(
    "docs_langid_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang, {P.lang_id('text', DUCK)} AS lang_pred FROM documents
    ),
    cell AS (SELECT lang, lang_pred, COUNT(*) AS n FROM pred GROUP BY 1, 2),
    act AS (SELECT lang, SUM(n) AS a FROM cell GROUP BY lang),
    prd AS (SELECT lang_pred, SUM(n) AS p FROM cell GROUP BY lang_pred)
    SELECT c.lang, c.lang_pred, CAST(c.n AS BIGINT) AS n_docs,
           CAST(c.n * 1000000 // a.a AS BIGINT) AS recall_ppm,
           CAST(c.n * 1000000 // p.p AS BIGINT) AS precision_ppm
    FROM cell c JOIN act a USING (lang) JOIN prd p USING (lang_pred)
    """,
)
def docs_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix for the built-in
    stopword-argmax language identifier vs the corpus's lang metadata:
    per (actual, predicted) cell counts with exact integer recall
    (cell / actual-row margin) and precision (cell / predicted-column
    margin) in ppm — the eval you run before trusting lang-ID-driven
    routing or filtering on a new corpus.  Scale shape: ONE scan into
    a (lang, lang_pred) cell aggregate (map-side combined, cells ≤
    langs²); margins are joins on the tiny cell frame.  Value-exact:
    the oracle replays the identical portable lang-ID expression."""
    docs = load(spark, sf_dir, "documents")
    pred = docs.select(
        "lang", F.expr(P.lang_id("text", SPARK)).alias("lang_pred")
    )
    cell = pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    # materialize the <= langs² cell frame ONCE: both margin aggregates
    # and the final join otherwise re-run the interpreted lang-ID chain
    # from its own scan (plan: the chain inlined 3x)
    cell = cell.transform(ckpt_lazy)
    act = cell.groupBy("lang").agg(F.sum("n").alias("a"))
    prd = cell.groupBy("lang_pred").agg(F.sum("n").alias("p"))
    return (
        cell.join(act, "lang")
        .join(prd, "lang_pred")
        .select(
            "lang",
            "lang_pred",
            F.col("n").cast("long").alias("n_docs"),
            F.expr("n * 1000000 div a").alias("recall_ppm"),
            F.expr("n * 1000000 div p").alias("precision_ppm"),
        )
    )


def _seasonal_naive_sql(d: str) -> str:
    term = P.int_div("ABS(actual - forecast) * 1000000",
                     "(actual + forecast)", d)
    mean = P.int_div(f"SUM({term})", "COUNT(*)", d)
    return f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    paired AS (
      SELECT a.event_type, a.day, a.n AS actual, b.n AS forecast
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day = a.day - 7
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(ABS(actual - forecast)) AS BIGINT) AS total_abs_err,
           CAST(SUM({term}) AS BIGINT) AS smape_sum_ppm,
           CAST({mean} AS BIGINT) AS smape_mean_ppm
    FROM paired
    GROUP BY event_type
    """


@query("events_seasonal_naive_error", oracle=_seasonal_naive_sql(DUCK))
def events_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (same weekday last week) forecast error per event
    type — the monitoring baseline every anomaly detector must beat.
    sMAPE stays an exact integer (per-day ppm via integer division, the
    one dialect divergence — ``div`` vs ``//`` — rendered per engine);
    the pairing is a self-join of the DAILY rollup (≤ days×types rows),
    so the fact table is scanned once."""
    _ensure_session_defaults(spark)
    register_views(spark, sf_dir, "events")
    return spark.sql(_seasonal_naive_sql(SPARK))


@query("events_kll_quantile_rollup")  # no oracle: sketch by design
def events_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable quantiles via Datasketches **KLL** — the
    sketch-native sibling of the deterministic log2-bucket rollup
    (``events_value_quantile_sketch_rollup``): daily
    ``kll_sketch_agg_double`` states (storable bytes) merge to any
    coarser slice with ``kll_merge_agg_double`` and answer arbitrary
    quantiles — no bucket design needed, provable rank-error bounds
    (~1.7% at k=200), fact table scanned once.  Trade-off vs the
    log2 rollup: KLL answers ANY quantile from the same state but its
    values are engine-specific (rows-only check); the bucket rollup is
    value-exact but quantizes to its bucket grid.
    ``tests/test_catalog.py`` pins the merged monthly estimates inside
    the exact-rank error envelope and merge-losslessness (merged ==
    direct sketch over the month)."""
    _ensure_session_defaults(spark)
    load(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    ).createOrReplaceTempView("_kll_events")
    return spark.sql(
        """
        WITH daily AS (
          SELECT date_trunc('month', ts) AS month, CAST(ts AS DATE) AS day,
                 kll_sketch_agg_double(value, 200) AS sk,
                 COUNT(*) AS n
          FROM _kll_events GROUP BY 1, 2
        ),
        monthly AS (
          SELECT month,
                 kll_sketch_get_quantile_double(
                   kll_merge_agg_double(sk), array(0.5D, 0.9D, 0.99D)) AS q,
                 CAST(SUM(n) AS BIGINT) AS n_events
          FROM daily GROUP BY month
        )
        SELECT month, n_events,
               q[0] AS p50_est, q[1] AS p90_est, q[2] AS p99_est
        FROM monthly
        """
    )


@query("lineitem_price_quantiles")  # no oracle: approximate by design
def lineitem_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate quantiles of extended price per
    return flag (constant memory per partition).  The oracle-verified
    exact counterpart with identical shape is
    ``lineitem_price_quartiles_exact`` (histogram-locate algorithm);
    ``orders_median_price`` covers the exact-median SQL form."""
    li = load(spark, sf_dir, "lineitem")
    # scalar columns, not one array column: the driver's canonicalizer
    # sorts/hashes cell values and cannot handle list cells.
    q = F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.75], 10000)
    return li.groupBy("l_returnflag").agg(
        q.getItem(0).alias("p25"),
        q.getItem(1).alias("p50"),
        q.getItem(2).alias("p75"),
    )


@query(
    "orders_pivot_status",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_P
    FROM orders GROUP BY o_orderpriority
    """,
)
def orders_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0, ["O", "F", "P"])
    )
    return out.select(
        "o_orderpriority",
        F.col("O").alias("status_O"),
        F.col("F").alias("status_F"),
        F.col("P").alias("status_P"),
    )


@query(
    "nation_customer_names",
    oracle="""
    SELECT n.n_name, string_agg(c.c_name, '|' ORDER BY c.c_name) AS customer_names,
           COUNT(*) AS n_customers
    FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def nation_customer_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-and-collect (poisonous-animals pattern, SURVEY §2.4 row 1)."""
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    joined = customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    out = relational.group_collect(joined, ["n_name"], "c_name", out_col="customer_names")
    counts = joined.groupBy("n_name").agg(F.count("*").alias("n_customers"))
    return out.join(counts, "n_name")


@query(
    "orders_date_span_months",
    oracle="""
    SELECT o_orderstatus,
           EXTRACT(YEAR FROM d) * 100 + EXTRACT(MONTH FROM d) AS span_month,
           COUNT(*) AS n_days
    FROM (
      SELECT o_orderstatus,
             unnest(generate_series(CAST(o_orderdate AS DATE),
                                    CAST(o_orderdate AS DATE)
                                      + INTERVAL (o_orderkey % 7) DAY,
                                    INTERVAL 1 DAY)) AS d
      FROM orders
    )
    GROUP BY 1, 2
    """,
)
def orders_date_span_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-interval expansion + monthly rollup (favourite-colours
    acceptance semantics, ``examples/favourite_colours.py:63-87``)."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.to_date("o_orderdate").alias("start_d"),
        F.date_add(F.to_date("o_orderdate"), (F.col("o_orderkey") % 7).cast("int")).alias(
            "end_d"
        ),
    )
    days = relational.date_span_expand(orders, "start_d", "end_d", out_col="d")
    return days.groupBy(
        "o_orderstatus",
        (F.year("d") * 100 + F.month("d")).alias("span_month"),
    ).agg(F.count("*").alias("n_days"))


@query(
    "events_session_summary",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) > 1800000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
      FROM gaps
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def events_session_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (user, 30-min-gap session) with its final (start,
    end, count) — the batch twin of the TIMER-based streaming session
    closer (``streaming.events.sessionize_with_timeout``: event-time
    timeouts emit each session exactly once on close; pinned against
    this form in ``tests/test_streaming.py``).  In batch every session
    is final, so the lag + running-sum ids aggregate to identical rows.
    Tied timestamps are safe: a zero gap never starts a session, so the
    grouping is order-independent."""
    return streaming_sessionize_with_timeout_batch(spark, sf_dir)


def streaming_sessionize_with_timeout_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .streaming.events import sessionize_with_timeout

    return sessionize_with_timeout(
        load(spark, sf_dir, "events"), gap_minutes=30
    ).select("user_id", "session_start", "session_end", "n_events")


@query(
    "events_sessionize",
    oracle="""
    WITH gaps AS (
      SELECT user_id, event_id,
             CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts))
                    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                  > 1800000 THEN 1
                  WHEN LAG(epoch_ms(ts))
                    OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL THEN 1
                  ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM gaps GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) → sessions per user."""
    events = load(spark, sf_dir, "events").withColumn("ts_ms", F.expr("unix_millis(ts)"))
    sess = relational.sessionize(
        events, by=["user_id"], ts_col="ts_ms", gap_seconds=1_800_000
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@query(
    "events_asof_view_before_click",
    oracle="""
    SELECT a.event_id, a.user_id, a.ts, b.view_ts, b.view_value
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    ASOF LEFT JOIN (SELECT user_id, ts AS view_ts, value AS view_value
                    FROM events WHERE event_type = 'view') b
      ON a.user_id = b.user_id AND b.view_ts <= a.ts
    """,
)
def events_asof_view_before_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click enriched with the user's most recent view at
    or before it (union+window plan — no range-join blowup)."""
    events = load(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = events.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    return relational.asof_join(
        clicks, views, on="ts", by=["user_id"], right_value_cols=["view_ts", "view_value"]
    )


@query(
    "events_asof_view_with_ttl",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts,
           (SELECT MAX(v.ts) FROM events v
            WHERE v.user_id = c.user_id AND v.event_type = 'view'
              AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 1 HOUR)
             AS last_view_ts
    FROM events c WHERE c.event_type = 'click'
    """,
)
def events_asof_view_with_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE (pandas ``merge_asof`` semantics):
    each click's most recent view, nulled when it is staler than one
    hour — the feature-freshness TTL every online-feature backfill
    needs.  The tolerance is a per-row predicate AFTER the carry-
    forward (exact integer microseconds), so the plan stays the one
    union+window shuffle; the oracle is the independent correlated
    bounded-MAX formulation (equivalent because any view older than
    the latest one is older still)."""
    events = load(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = events.where(F.col("event_type") == "view").select("user_id", "ts")
    return relational.asof_join(
        clicks, views, on="ts", by=["user_id"], right_value_cols=[],
        tolerance=3600, matched_on_col="last_view_ts",
    )


@query(
    "events_range_join_purchases",
    oracle="""
    SELECT a.user_id,
           a.event_id AS l_event_id, a.ts AS l_ts,
           b.event_id AS r_event_id, b.ts AS r_ts
    FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') a
    JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') b
      ON a.user_id = b.user_id
     AND abs(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 600000
    """,
)
def events_range_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: every (purchase, error) pair for a user within 10
    minutes — bucketized equi-join (no native range join in Spark, no
    per-key cross product either)."""
    events = load(spark, sf_dir, "events").withColumn(
        "ts_ms", F.expr("unix_millis(ts)")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "ts_ms"
    )
    errors = events.where(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts", "ts_ms"
    )
    out = relational.range_join(
        purchases, errors, by=["user_id"], left_ts="ts_ms", right_ts="ts_ms",
        within=600_000,
    )
    return out.select("user_id", "l_event_id", "l_ts", "r_event_id", "r_ts")


@query(
    "events_hourly_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type, COUNT(*) AS n_events,
           {dsum('value')} AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate — the batch twin of the
    Structured-Streaming plan in ``streaming/events.py`` (same groupBy
    works under ``readStream`` + watermark)."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"), "event_type", "n_events", "sum_value"
        )
    )


@query(
    "events_json_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON column → typed extraction + aggregate."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count("*").alias("n"),
    )


@query(
    "events_props_variant",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4's VARIANT type: ``parse_json``
    ONCE into a variant column, then every typed extraction
    (``variant_get``) reads the binary-encoded value without re-parsing
    — the columnar semi-structured path that replaces per-path
    ``get_json_object`` string re-parsing (``events_json_props`` keeps
    the classic form for comparison)."""
    events = load(spark, sf_dir, "events")
    v = events.select(
        "event_type", F.parse_json(F.col("props")).alias("p")
    ).select(
        "event_type",
        F.expr("variant_get(p, '$.k', 'bigint')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


# --------------------------------------------------------------------------
# 2. Text analysis (north-star)
# --------------------------------------------------------------------------
@query(
    "doc_lang_id",
    oracle=f"""
    SELECT lang, {P.lang_id_from_tokens('toks', DUCK)} AS lang_pred, COUNT(*) AS n_docs
    FROM (SELECT lang, {P.tokens('text', DUCK)} AS toks FROM documents)
    GROUP BY 1, 2
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = textops.profile_vectorized(
        load(spark, sf_dir, "documents"), "doc_id", "text", extra_cols=("lang",)
    )
    return docs.groupBy("lang", "lang_pred").agg(F.count("*").alias("n_docs"))


@query(
    "doc_quality",
    oracle=f"""
    SELECT doc_id, {P.quality_score_ppm_from_tokens('text', 'toks', DUCK)} AS quality_ppm
    FROM (SELECT doc_id, text, {P.tokens('text', DUCK)} AS toks FROM documents)
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vectorized profile (bit-identical integer ppm, fuzz-tested)
    return textops.profile_vectorized(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    ).select("doc_id", "quality_ppm")


@query(
    "docs_weighted_quality_by_lang",
    oracle=f"""
    SELECT lang,
           CAST({P.int_div("SUM(q * n_chars)", "SUM(n_chars)", DUCK)} AS BIGINT) AS wq_ppm,
           COUNT(*) AS n_docs
    FROM (SELECT lang, n_chars,
                 {P.quality_score_ppm_from_tokens('text', 'toks', DUCK)} AS q
          FROM (SELECT lang, n_chars, text, {P.tokens('text', DUCK)} AS toks
                FROM documents))
    GROUP BY lang
    """,
)
def docs_weighted_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-weighted mean quality per language via the GROUPED_AGG
    pandas-UDF modality (integer ppm × integer weights → exact int64
    sums, so the Python aggregation is oracle-comparable).  The SQL
    twin in the oracle is the hot-path form."""
    return textops.weighted_quality_by_group(
        load(spark, sf_dir, "documents"), "lang", "n_chars"
    )


@query(
    "doc_token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST({P.token_count('text', DUCK)} AS BIGINT) AS ws_tokens,
           CAST({P.size(P.regexp_tokens('text', DUCK), DUCK)} AS BIGINT) AS lex_tokens
    FROM documents
    """,
)
def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = textops.with_token_counts(load(spark, sf_dir, "documents"), "text")
    return out.select(
        "doc_id",
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("lex_tokens").cast("long").alias("lex_tokens"),
    )


@query(
    "doc_fingerprint",
    oracle=f"SELECT doc_id, {P.fingerprint('text', DUCK)} AS fingerprint FROM documents",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.with_fingerprint(load(spark, sf_dir, "documents"), "text").select(
        "doc_id", "fingerprint"
    )


@query(
    "docs_hash_collision_audit",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT unnest({P.tokens('text', DUCK)}) AS tok FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
           CAST(COUNT(DISTINCT {P.char_hash('tok', DUCK)}) AS BIGINT)
             AS distinct_portable_hashes,
           CAST(COUNT(DISTINCT {P.fast_hash('tok', DUCK)}) AS BIGINT)
             AS distinct_fast_hashes,
           CAST(COUNT(*) - COUNT(DISTINCT {P.char_hash('tok', DUCK)}) AS BIGINT)
             AS portable_collisions,
           CAST(COUNT(*) - COUNT(DISTINCT {P.fast_hash('tok', DUCK)}) AS BIGINT)
             AS fast_collisions
    FROM toks
    """,
)
def docs_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability for the hash-keyspace collision envelope
    (``functions/portable.py`` hashing section): distinct corpus tokens
    vs distinct hash values under BOTH hash paths.  ``*_collisions`` is
    the number of token pairs silently merged by each keyspace — the
    quantity that makes the ~30-bit portable hash unusable at 10⁸+
    distinct keys (expected K²/2·10⁹) while xxhash64 stays ~0
    (K²/2⁶⁵).  Value-oracle-able even though the two engines' FAST
    hashes differ: the OUTPUT is counts, and both 64-bit spaces are
    collision-free at any testable K, so the counts agree.

    Scale shape: explode → distinct (one token-keyed shuffle, map-side
    combined) → per-distinct-token hashes → one global multi-distinct
    aggregate (Expand×3, partial/final).  The audit you run BEFORE
    choosing ``hash_mode`` on a new corpus."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.expr(P.tokens("text", SPARK))).alias("tok")
    ).distinct()
    hashed = toks.select(
        "tok",
        F.expr(P.char_hash("tok", SPARK)).alias("_hp"),
        F.expr(P.fast_hash("tok", SPARK)).alias("_hf"),
    )
    return hashed.agg(
        F.count(F.lit(1)).cast("long").alias("distinct_tokens"),
        F.countDistinct("_hp").cast("long").alias("distinct_portable_hashes"),
        F.countDistinct("_hf").cast("long").alias("distinct_fast_hashes"),
        (F.count(F.lit(1)) - F.countDistinct("_hp")).cast("long")
        .alias("portable_collisions"),
        (F.count(F.lit(1)) - F.countDistinct("_hf")).cast("long")
        .alias("fast_collisions"),
    )


@query(
    "doc_vocabulary_top50",
    oracle=f"""
    SELECT token, n FROM (
      SELECT token, COUNT(*) AS n,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rnk
      FROM (SELECT unnest({P.tokens('text', DUCK)}) AS token FROM documents)
      GROUP BY token
    ) t WHERE rnk <= 50
    """,
)
def doc_vocabulary_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed wordcount: corpus vocabulary, top 50 tokens by
    frequency (full tie-break on the token).  Explode → two-phase
    count → global top-k via partial+merge
    (``relational.top_k_per_group_scalable``): the vocabulary of a
    100 TB corpus is itself huge, so the merge window must only ever
    see the <= k*P partial survivors, never the whole count frame."""
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.expr(P.tokens("text", SPARK))).alias("token")
    )
    counts = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    ranked = relational.top_k_per_group_scalable(
        counts, [], "n", 50, tiebreak_cols=["token"], rank_col="rnk"
    )
    return ranked.select("token", "n")


@query(
    "events_funnel",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(ts) FILTER (WHERE event_type = 'view') AS t_view,
             MIN(ts) FILTER (WHERE event_type = 'click') AS t_click,
             MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) FILTER (WHERE t_view IS NOT NULL) AS step1_view,
           COUNT(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view)
             AS step2_click,
           COUNT(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view
                            AND t_purchase > t_click) AS step3_purchase
    FROM firsts
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users whose FIRST view precedes their first click
    precedes their first purchase — one aggregation pass (min-per-step),
    no self-joins."""
    events = load(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return firsts.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("step1_view"),
        F.count(
            F.when(F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")), 1)
        ).alias("step2_click"),
        F.count(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("step3_purchase"),
    )


@query(
    "docs_split_stats",
    oracle=f"""
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (SELECT CASE WHEN {sampling.bucket_expr('doc_id')} < 900 THEN 'train'
                      WHEN {sampling.bucket_expr('doc_id')} < 950 THEN 'val'
                      ELSE 'test' END AS split, n_chars
          FROM documents) t
    GROUP BY split ORDER BY split
    """,
)
def docs_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket train/val/test split (900/50/50 permille):
    the same doc lands in the same split on any engine, run, or cluster
    size — selection never touches rand() or row order."""
    docs = sampling.deterministic_split(load(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("split")
    )


@query(
    "docs_lang_rebalance",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE {sampling.bucket_expr('doc_id')} <
          CASE WHEN lang = 'en' THEN 300 ELSE 800 END
    GROUP BY lang ORDER BY lang
    """,
)
def docs_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic downsampling: keep 30% of the dominant
    language and 80% of the rest (corpus rebalancing).  Buckets nest, so
    raising a rate only ADDS documents — already-selected docs stay."""
    kept = sampling.rate_sample(
        load(spark, sf_dir, "documents"), "doc_id",
        rate_by={"lang": {"en": 300}}, default_permille=800,
    )
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )


@query(
    "docs_token_budget",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST({P.token_count('text', DUCK)} AS BIGINT) AS ntok,
             {P.quality_score_ppm_from_tokens('text', 'toks', DUCK)} AS quality_ppm
      FROM (SELECT doc_id, text, {P.tokens('text', DUCK)} AS toks FROM documents)
    ),
    ranked AS (
      SELECT doc_id, ntok, quality_ppm,
             SUM(ntok) OVER (ORDER BY quality_ppm DESC, doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM scored
    )
    SELECT COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           MIN(quality_ppm) AS min_quality_ppm
    FROM ranked WHERE cum <= 15000
    """,
)
def docs_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked token budgeting: keep the best documents until the
    corpus hits a token budget (the data-curation cut).  Integer token
    counts + total ordering (quality DESC, doc_id) make the kept set
    exact on both engines."""
    docs = textops.with_quality_score(load(spark, sf_dir, "documents"), "text")
    docs = textops.with_token_counts(docs, "text").withColumn(
        "ntok", F.col("ws_tokens").cast("long")
    )
    # score ONCE: the two-phase cumsum fans out into totals + main
    # branches, and without materializing the narrow scored frame each
    # branch re-runs the full text-profiling pass (measured 7.7s → 1.6s
    # first-run at sf0.1)
    scored = docs.select("doc_id", "ntok", "quality_ppm").transform(ckpt_lazy)
    kept = sampling.token_budget_filter(
        scored, id_col="doc_id", token_col="ntok", score_col="quality_ppm",
        budget=15_000,
    )
    return kept.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("total_tokens"),
        F.min("quality_ppm").alias("min_quality_ppm"),
    )


@query(
    "docs_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, CAST({P.token_count('text', DUCK)} AS BIGINT) AS ntok
      FROM documents
    ),
    packed AS (
      SELECT doc_id, ntok,
             CAST((SUM(ntok) OVER (ORDER BY doc_id ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - ntok) // 2048 AS BIGINT) AS pack_id
      FROM toks
    )
    SELECT pack_id, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY pack_id ORDER BY pack_id
    """,
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: contiguous greedy fill of 2048-token
    packs over id-ordered documents; per-pack stats.  Exact integer
    cumsum -> identical packs on both engines."""
    docs = textops.with_token_counts(load(spark, sf_dir, "documents"), "text")
    docs = docs.withColumn("ntok", F.col("ws_tokens").cast("long"))
    # tokenize ONCE: the two-phase cumsum fans out into totals + main
    # branches, and without materializing the narrow (id, tokens)
    # frame each branch re-runs the tokenization pass (same fix as
    # docs_token_budget above)
    toks = docs.select("doc_id", "ntok").transform(ckpt_lazy)
    packed = sampling.pack_sequences(
        toks, id_col="doc_id", token_col="ntok", budget=2048
    )
    return (
        packed.groupBy("pack_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("ntok").alias("pack_tokens"))
        .orderBy("pack_id")
    )


def _duck_contamination_oracle(n: int = 3, min_shared: int = 2) -> str:
    token_hashes = P.hash_array(P.tokens("text", DUCK), DUCK)
    shingles = P.token_hash_ngrams("th", n, DUCK)
    bkt = sampling.bucket_expr("doc_id")
    return f"""
    WITH hashed AS (
      SELECT doc_id, {bkt} AS bkt, list_distinct(sh) AS hs
      FROM (SELECT doc_id, {shingles} AS sh
            FROM (SELECT doc_id, {token_hashes} AS th FROM documents))
    ),
    ev AS (SELECT doc_id, unnest(hs) AS h FROM hashed WHERE bkt >= 950),
    tr AS (SELECT doc_id, unnest(hs) AS h FROM hashed WHERE bkt < 900)
    SELECT e.doc_id AS eval_id, t.doc_id AS train_id, COUNT(*) AS shared_ngrams
    FROM ev e JOIN tr t ON e.h = t.h
    GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}
    """


@query("decontaminate_splits", oracle=_duck_contamination_oracle())
def decontaminate_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination across the deterministic split: test-
    split docs sharing >= 2 distinct 3-gram shingle hashes with a train-
    split doc (inverted-index join, eval side broadcast)."""
    docs = sampling.with_bucket(load(spark, sf_dir, "documents"), "doc_id")
    ev = docs.where(F.col("bucket") >= 950)
    tr = docs.where(F.col("bucket") < 900)
    return dedup.contamination_pairs(ev, tr, "doc_id", "text", n=3, min_shared=2)


@query(
    "events_trailing_hour_counts",
    oracle="""
    SELECT c AS trailing_events, COUNT(*) AS n FROM (
      SELECT COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS c
      FROM events) t
    GROUP BY c ORDER BY c
    """,
)
def events_trailing_hour_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of per-event trailing-hour activity: a RANGE window over
    epoch-microseconds (Spark needs a numeric ordering column for
    interval frames; counts are integers, so cross-engine exact)."""
    register_views(spark, sf_dir, "events")
    return spark.sql("""
    SELECT c AS trailing_events, COUNT(*) AS n FROM (
      SELECT COUNT(*) OVER (PARTITION BY user_id ORDER BY unix_micros(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS c
      FROM events) t
    GROUP BY c ORDER BY c
    """)


shared_sql(
    # string-similarity join: edit distance is integer -> engine-exact
    "nation_name_similarity",
    """
    SELECT a.n_name AS name_a, b.n_name AS name_b,
           levenshtein(a.n_name, b.n_name) AS dist
    FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
    WHERE levenshtein(a.n_name, b.n_name) <= 2
    ORDER BY dist, name_a, name_b
    """,
    ("nation",),
)


@query(
    "doc_redact_numbers",
    oracle=f"""
    SELECT COUNT(*) AS n_docs_changed, CAST(SUM(removed) AS BIGINT) AS total_chars_removed
    FROM (SELECT length(text) - length({P.regexp_replace_all('text', '[0-9]', '', DUCK)})
            AS removed FROM documents) t
    WHERE removed > 0
    """,
)
def doc_redact_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing smoke: redact digits corpus-wide, report how
    many docs changed and how many characters came out (exact ints)."""
    red = textops.with_redaction(load(spark, sf_dir, "documents"), "text")
    return red.where(F.col("chars_removed") > 0).agg(
        F.count(F.lit(1)).alias("n_docs_changed"),
        F.sum("chars_removed").alias("total_chars_removed"),
    )


# --------------------------------------------------------------------------
# 3. Deduplication (north-star)
# --------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count, text
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load(spark, sf_dir, "documents"), ["text"], "doc_id")


@query(
    "dedup_fingerprint",
    oracle=f"""
    SELECT {P.fingerprint('text', DUCK)} AS fingerprint,
           MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.fingerprint_dedup(load(spark, sf_dir, "documents"), "text", "doc_id")


def _duck_band_match(k: int, bands: int) -> str:
    """SQL predicate: sides a/b collide in at least one signature band
    (DuckDB lists are 1-indexed)."""
    r = k // bands
    return " OR ".join(
        "("
        + " AND ".join(f"a.mh[{b * r + j + 1}] = b.mh[{b * r + j + 1}]" for j in range(r))
        + ")"
        for b in range(bands)
    )


def _duck_minhash_sig_cte(n: int, k: int, source_sql: str = "documents",
                          extra_cols: tuple[str, ...] = ()) -> str:
    """The shared signature CTE body (token hashes → shingles → distinct
    hashset + minhash) — ONE definition so every minhash-family oracle
    tests identical hashing/banding semantics."""
    token_hashes = P.hash_array(P.tokens("text", DUCK), DUCK)
    shingle_hashes = P.token_hash_ngrams("th", n, DUCK)
    extras = "".join(f"{c}, " for c in extra_cols)
    return f"""
      SELECT doc_id, {extras}list_distinct(sh) AS hashset,
             {P.minhash_from_hashes('sh', k, DUCK)} AS mh
      FROM (SELECT doc_id, {extras}{shingle_hashes} AS sh
            FROM (SELECT doc_id, {extras}{token_hashes} AS th FROM {source_sql}))
    """


def _duck_minhash_pairs_oracle(n: int = 3, k: int = 16, bands: int = 4,
                               threshold: float = 0.3) -> str:
    """Oracle for banded-LSH pairs: band collision is equality of the
    signature slice (same semantics as the bucket join, no LSH needed
    at oracle scale)."""
    return f"""
    WITH s AS ({_duck_minhash_sig_cte(n, k)})
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           {P.jaccard('a.hashset', 'b.hashset', DUCK)} AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE ({_duck_band_match(k, bands)})
      AND {P.jaccard('a.hashset', 'b.hashset', DUCK)} >= {threshold}
    """


@query("dedup_minhash_lsh_pairs", oracle=_duck_minhash_pairs_oracle())
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, k=16, bands=4, threshold=0.3,
    )


_SWEEP_THRESHOLDS = (300_000, 500_000, 700_000, 900_000)


@query(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH pairs AS ({_duck_minhash_pairs_oracle(threshold=0.1)}),
    t(thr_ppm) AS (VALUES {', '.join(f'({t})' for t in _SWEEP_THRESHOLDS)})
    SELECT t.thr_ppm,
           CAST(COUNT(p.doc_id_a) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT p.doc_id_b) AS BIGINT) AS n_docs_dropped
    FROM t LEFT JOIN pairs p
      ON p.jaccard * 1000000 >= t.thr_ppm
    GROUP BY t.thr_ppm
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity sweep for near-dup dedup: candidate pairs
    from ONE banded-LSH pass are verified once, then counted at each
    candidate threshold (0.3/0.5/0.7/0.9) along with the docs a
    drop-larger-id policy would remove — the curve a curation team
    reads to pick the dedup operating point BEFORE committing to a
    corpus-wide run (re-running the whole LSH per candidate threshold
    is the thing this avoids).  Exact Jaccard per verified pair →
    value-exact; the sweep itself is ONE conditional aggregation over
    the pair frame (per-threshold count + conditional distinct — an
    Expand, no replication join), unpivoted to one row per
    threshold."""
    pairs = dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, k=16, bands=4, threshold=0.1,
    )
    aggs = []
    for t in _SWEEP_THRESHOLDS:
        cond = F.expr(f"jaccard * 1000000 >= {t}")
        aggs.append(  # coalesce: SUM over an empty pair set is NULL
            F.coalesce(F.sum(cond.cast("long")), F.lit(0))
            .cast("long")
            .alias(f"_p{t}")
        )
        aggs.append(
            F.countDistinct(F.when(cond, F.col("doc_id_b")))
            .cast("long")
            .alias(f"_d{t}")
        )
    wide = pairs.agg(*aggs)
    stack = ", ".join(
        f"{t}L, _p{t}, _d{t}" for t in _SWEEP_THRESHOLDS
    )
    return wide.selectExpr(
        f"stack({len(_SWEEP_THRESHOLDS)}, {stack}) "
        "AS (thr_ppm, n_pairs, n_docs_dropped)"
    )


@query(
    "dedup_minhash_blocked_pairs",
    oracle=f"""
    WITH s AS ({_duck_minhash_sig_cte(3, 16, extra_cols=("lang",))})
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           {P.jaccard('a.hashset', 'b.hashset', DUCK)} AS jaccard
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE ({_duck_band_match(16, 4)})
      AND {P.jaccard('a.hashset', 'b.hashset', DUCK)} >= 0.3
    """,
)
def dedup_minhash_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-blocked MinHash LSH: the blocking value folds into the
    band key so cross-language collisions never co-shuffle — on a
    multilingual crawl this keeps bucket sizes small and uniform (the
    100 TB shape).  Oracle: band collision AND lang equality."""
    return dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, k=16, bands=4, threshold=0.3, block_col="lang",
    )


@query(
    "dedup_minhash_survivors",
    oracle=f"""
    WITH pairs AS ({_duck_minhash_pairs_oracle()})
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id_b FROM pairs)
    """,
)
def dedup_minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.minhash_dedup(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, k=16, bands=4, threshold=0.3,
    )
    return out.select("doc_id")


def _components_oracle() -> str:
    from .operators.graph import duckdb_components_oracle

    return duckdb_components_oracle(_duck_minhash_pairs_oracle(), "doc_id", "documents")


@query("dedup_transitive_components", oracle=_components_oracle())
def dedup_transitive_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup closure: connected components over the MinHash
    near-dup pair graph (size-gated ``graph.connected_components`` —
    driver union-find at this scale — vs the oracle's recursive CTE);
    min id per component survives."""
    from .operators.graph import dedup_components

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3, k=16, bands=4,
                                    threshold=0.3)
    return dedup_components(docs, pairs, "doc_id")


@query("dedup_components_star", oracle=_components_oracle())
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same transitive closure as ``dedup_transitive_components`` but
    with the union-find size gate off (``algorithm="star"``, i.e.
    ``connected_components(..., collect_threshold=0)``), so the
    distributed **large-star / small-star** edge-rewrite rounds
    (Kiveris et al., SoCC'14) run whatever the pair count — the path
    every edge list above the gate takes.  Each half-round is one
    groupBy + one same-key re-join over the edge list only, with no
    per-vertex label table; rounds are O(log² n).  Value-oracled
    against the identical recursive-CTE closure, proving the
    distributed path and driver union-find agree end-to-end on real
    near-dup pairs."""
    from .operators.graph import dedup_components

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3, k=16, bands=4,
                                    threshold=0.3)
    return dedup_components(docs, pairs, "doc_id", algorithm="star")


@query(
    "dedup_quality_survivors",
    oracle=f"""
    WITH comps AS ({{components}}),
    q AS (SELECT doc_id,
                 COALESCE({P.quality_score_ppm_from_tokens('text', 'toks', DUCK)}, -1) AS q
          FROM (SELECT doc_id, text, {P.tokens('text', DUCK)} AS toks FROM documents)),
    j AS (SELECT c.component, c.doc_id, q.q
          FROM comps c JOIN q ON q.doc_id = c.doc_id)
    SELECT component, cluster_size, doc_id AS survivor_id,
           q AS survivor_quality_ppm
    FROM (SELECT j.*,
                 COUNT(*) OVER (PARTITION BY component) AS cluster_size,
                 row_number() OVER (PARTITION BY component
                                    ORDER BY q DESC, doc_id) AS rn
          FROM j)
    WHERE rn = 1
    """.replace("{components}", _components_oracle()),
)
def dedup_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: per near-dup component keep
    the HIGHEST-quality member (ties → min doc_id) instead of the min
    id — what a real curation pipeline ships (the min-id survivor can
    be the truncated/boilerplate copy).  One aggregate per component:
    ``min(struct(-quality, id))`` is the arg-max, no per-component
    window; quality comes from the same bit-identical vectorized
    profile the doc_quality query pins.  The signature pass and the
    quality profile read the same corpus, so the fused
    ``signature_profile_vectorized`` pass scans/tokenizes it ONCE
    (checkpointed at the fan point) — same ``portable_py`` calls,
    identical values."""
    from .operators.graph import dedup_components

    docs = load(spark, sf_dir, "documents")
    fused = dedup.signature_profile_vectorized(
        docs, "doc_id", "text", n=3, k=16
    ).transform(ckpt_lazy)
    pairs = dedup.minhash_lsh_pairs_from_signatures(
        fused, "doc_id", k=16, bands=4, threshold=0.3
    )
    comps = dedup_components(docs, pairs, "doc_id").select("doc_id", "component")
    q = fused.select(
        F.col("_id").alias("doc_id"),
        F.coalesce("quality_ppm", F.lit(-1)).alias("_q"),
    )
    return (
        comps.join(q, on="doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min(F.struct((-F.col("_q")).alias("nq"),
                           F.col("doc_id").alias("i"))).alias("_m"),
        )
        .select(
            "component", "cluster_size",
            F.col("_m.i").alias("survivor_id"),
            (-F.col("_m.nq")).alias("survivor_quality_ppm"),
        )
    )


@query(
    "dedup_cluster_stats",
    oracle=f"""
    WITH comps AS ({_components_oracle()})
    SELECT c.component, COUNT(*) AS cluster_size,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           MIN(d.lang) AS min_lang
    FROM comps c JOIN documents d ON d.doc_id = c.doc_id
    GROUP BY c.component
    HAVING COUNT(*) > 1
    """,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate cluster profile: per connected component (size > 1),
    member count, total characters, lexicographic min language — the
    dedup report a pipeline operator would emit alongside the survivors."""
    from .operators.graph import dedup_components

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3, k=16, bands=4,
                                    threshold=0.3)
    comps = dedup_components(docs, pairs, "doc_id")
    joined = comps.join(docs, on="doc_id")
    return (
        joined.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sum("n_chars").alias("total_chars"),
            F.min("lang").alias("min_lang"),
        )
        .where(F.col("cluster_size") > 1)
    )


@query(
    "dedup_simhash_near_pairs",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {P.simhash32_from_hashes('th', DUCK)} AS simhash
      FROM (SELECT doc_id, {P.hash_array(P.tokens('text', DUCK), DUCK)} AS th FROM documents)
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance ≤ 3 via pigeonhole
    banding (4 × 8-bit chunks: ≤3 flips must leave one chunk intact, so
    the chunk-key shuffle finds EVERY qualifying pair — recall 1.0, no
    all-pairs scan).  The oracle is the plain quadratic Hamming filter:
    equivalent by the pigeonhole guarantee, feasible only at gate
    scale."""
    return dedup.simhash_near_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        max_hamming=3, bands=4,
    )


@query(
    "dedup_simhash_groups",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {P.simhash32_from_hashes('th', DUCK)} AS simhash
      FROM (SELECT doc_id, {P.hash_array(P.tokens('text', DUCK), DUCK)} AS th FROM documents)
    )
    SELECT simhash, MIN(doc_id) AS keep_id, COUNT(*) AS member_count
    FROM s GROUP BY simhash
    """,
)
def dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_groups(load(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang, list_distinct({P.token_hash_ngrams('th', 3, DUCK)}) AS hashset
      FROM (SELECT doc_id, lang, {P.hash_array(P.tokens('text', DUCK), DUCK)} AS th
            FROM documents)
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           {P.jaccard('a.hashset', 'b.hashset', DUCK)} AS jaccard
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE {P.jaccard('a.hashset', 'b.hashset', DUCK)} >= 0.2
    """,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.2, block_col="lang",
    )


@query(
    "dedup_prefix_jaccard_pairs",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, list_distinct({P.token_hash_ngrams('th', 3, DUCK)}) AS hashset
      FROM (SELECT doc_id, {P.hash_array(P.tokens('text', DUCK), DUCK)} AS th
            FROM documents)
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           {P.jaccard('a.hashset', 'b.hashset', DUCK)} AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE {P.jaccard('a.hashset', 'b.hashset', DUCK)} >= 0.5
    """,
)
def dedup_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-threshold near-dup pairs via the LOSSLESS prefix-filter
    join (AllPairs/PPJoin candidate generation: df-ordered prefixes +
    length + positional filters, then exact verify) — the scale default
    for t >= 0.5, where only ~half of each set is ever indexed and the
    oracle is the plain all-pairs SQL the index path also satisfies.
    Trigram shingles (n=3), like the index-path entry: this corpus's
    bigram hashes are zipf-hot enough to swamp ANY inverted index —
    n=2 produced 28x more candidates for the same 256 final pairs."""
    return dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.5, method="prefix",
    )


# dimension of the generated embedding vectors
EMB_DIM = 64


def _duck_embedding_pairs_cte() -> str:
    """DuckDB ``pairs`` CTE: every embedding pair (a < b) with its cosine,
    bit-identical to ``P.cosine``'s fold.  Each row's norm is computed
    once, not once per pair, and the pair dot is unrolled over the fixed
    dimension: SQL ``+`` is left-associative, so the sum keeps the fold's
    order (sf0.1, 2M pairs, 4 cores: 179 s with the fold, 2.8 s unrolled)."""
    dot = P.dot_unrolled("a.v", "b.v", EMB_DIM, DUCK)
    return f"""
    vecs AS (
      SELECT vec_id, label, v, sqrt({P.dot('v', 'v', DUCK)}) AS nrm
      FROM (SELECT vec_id, label, {P.cast_double_array('embedding', DUCK)} AS v
            FROM embeddings)
    ),
    pairs AS (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, a.label AS la,
             b.label AS lb, {dot} / (a.nrm * b.nrm) AS cosine
      FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
    )"""


@query(
    "emb_near_dup_pairs",
    oracle=f"""
    WITH {_duck_embedding_pairs_cte()}
    SELECT vec_id_a, vec_id_b, cosine FROM pairs WHERE cosine >= 0.4
    """,
)
def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # size-gated: vectorized all-pairs scan (bit-identical to the
    # oracle's fold — tests assert so against a Python fold) while the
    # corpus fits a broadcast matrix; banded LSH beyond that, so the
    # registered operator never collects an unbounded corpus to the
    # driver.
    return similarity.embedding_near_dup_pairs(
        load(spark, sf_dir, "embeddings"), threshold=0.4
    )


@query("emb_banded_lsh_recall")  # no oracle: evaluates the approximate path
def emb_banded_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@threshold evaluation of the banded-LSH scale path against
    the exact pair set — the per-round empirical counterpart of the
    banding math in ``embedding_near_dup_pairs_banded`` (precision is
    1.0 by construction: every candidate is exact-verified).  Seeded
    planes make the result deterministic, but no SQL oracle can replay
    numpy's generator, so this is a rows-only entry like the other
    approximate sketches.  Low threshold (0.4) uses the wide-bucket
    knob setting; the near-dup regime's recall is pinned in pytest."""
    emb = load(spark, sf_dir, "embeddings")
    exact = similarity.embedding_near_dup_pairs_vectorized(emb, threshold=0.4)
    banded = similarity.embedding_near_dup_pairs_banded(
        emb, threshold=0.4, bands=10, planes_per_band=4, cosine_dim=64,
    )
    e = exact.select("vec_id_a", "vec_id_b")
    b = banded.select("vec_id_a", "vec_id_b").withColumn("_hit", F.lit(1))
    # one lazy plan (no driver-side counts): left join + one aggregate
    return (
        e.join(b, ["vec_id_a", "vec_id_b"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_banded_hits"),
        )
        .withColumn(
            "recall_ppm",
            F.expr("n_banded_hits * 1000000 div greatest(n_exact, 1)"),
        )
    )


@query("emb_kcenter_coreset")  # no oracle: iterative greedy algorithm
def emb_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic greedy k-center coreset (Gonzalez farthest-point,
    min-id seed and ties — ``similarity.kcenter_coreset``): 12 maximally
    diverse REAL rows from the embedding corpus, the data-pruning pick
    k-means centroids can't give.  Iterative (k-1 scans, argmin rides a
    struct aggregate), so rows-only here; exactness pinned against a
    numpy reference in pytest."""
    return similarity.kcenter_coreset(
        load(spark, sf_dir, "embeddings"), k=12
    )


@query("emb_pca_project")  # no oracle: eigendecomposition is not SQL
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed PCA (``similarity.pca_embeddings``):
    exact-decimal second-moment sums from ONE corpus scan (map-side
    combined into d*(d+1)/2 rows) make the covariance — hence the
    eigenbasis and every projection — bit-identical across
    partitionings; eigh on the driver's d x d matrix,
    sign-canonicalized components, Arrow projection pass.  Summary =
    per-label mean of the first principal component in exact decimal
    (rows-only entry; numpy parity + invariance pinned in pytest)."""
    emb = load(spark, sf_dir, "embeddings")
    pc = similarity.pca_embeddings(emb, k=4)
    return (
        pc.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (F.sum(F.expr("pc[0]").cast("decimal(38,18)"))
             / F.count(F.lit(1))).cast("double").alias("pc0_mean"),
        )
        .orderBy("label")
    )


@query("emb_kmeans_clusters")  # no oracle: iterative (Lloyd's) algorithm
def emb_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic spherical k-means over the embedding corpus
    (``similarity.kmeans_embeddings``) — per-cluster size/anchor
    summary.  Iterative driver-state loop (k x d centroids, corpus only
    scanned), min-id init and exact-decimal means make the clustering
    reproducible across runs and partitionings; no SQL oracle can
    replay the loop, so this is a rows-only entry with determinism
    pinned in pytest."""
    assigned = similarity.kmeans_embeddings(
        load(spark, sf_dir, "embeddings"), k=8, iters=3
    )
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("anchor_vec_id"),
        )
        .orderBy("cluster")
    )


@query("emb_kmeans_quality")  # no oracle: iterative float loop (pytest-pinned)
def emb_kmeans_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality telemetry (``similarity.kmeans_quality``):
    per-cluster cohesion (mean member-to-own-centroid cosine), the
    most-confusable rival centroid + its similarity, and the
    silhouette-style cohesion-minus-separation margin — the numbers
    that say whether cluster-balanced sampling / semantic sharding can
    trust this clustering.  One extra corpus scan after the k-means
    run + a k×k centroid cross join; geometry pinned in
    ``tests/test_operators.py::TestKmeansQuality`` on separated
    synthetic clusters (rows-only: float cosines over an iterative
    loop).  iters=2: the telemetry's job is the cohesion/separation
    READOUT, not the best clustering — each extra Lloyd iteration is a
    full corpus scan, so the audit entry spends the minimum that still
    reflects converged-ish centroids."""
    return similarity.kmeans_quality(
        load(spark, sf_dir, "embeddings"), k=8, iters=2
    )


@query("emb_cluster_balanced_sample")  # no oracle: k-means upstream (iterative)
def emb_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus sampling (the topic-balancing step of
    cluster-based pruning pipelines): spherical k-means over the
    embeddings, then AT MOST ``cap`` vectors kept per cluster, chosen
    deterministically — rank within the cluster by (md5 of the id, id)
    via the histogram rank plan (``relational.grouped_rank_exact`` over
    the hash prefix — no per-cluster single-task sort) and keep rank <=
    cap.  The hash order makes the kept set a pseudo-random but
    repeatable draw; per-cluster output summary so the driver's
    rows-only check pins shape."""
    cap = 40
    emb = load(spark, sf_dir, "embeddings")
    assigned = similarity.kmeans_embeddings(emb, k=8, iters=3)
    # the rank plan consumes its input twice (histogram + join-back) and
    # the k-means assignment is an opaque Arrow pass Catalyst cannot
    # dedupe — materialize the assignment once (same convention as
    # pipeline_curation_v2's `sized` checkpoint)
    keyed = assigned.withColumn(
        "hash_bucket",
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("long"),
    ).transform(ckpt_lazy)
    ranked = relational.grouped_rank_exact(
        keyed, "cluster", "hash_bucket", "vec_id", out_rank="rk", out_n="n"
    )
    kept = ranked.where(F.col("rk") <= cap)
    return (
        kept.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("vec_id").alias("first_kept_id"),
        )
        .orderBy("cluster")
    )


@query(
    "label_text_quality",
    oracle=f"""
    SELECT e.label,
           COUNT(*) AS n_docs,
           CAST(SUM(q.quality_ppm) AS BIGINT) AS total_quality_ppm,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM (SELECT doc_id, {P.quality_score_ppm_from_tokens('text', 'toks', DUCK)} AS quality_ppm
          FROM (SELECT doc_id, text, {P.tokens('text', DUCK)} AS toks FROM documents)) q
    JOIN documents d ON d.doc_id = q.doc_id
    JOIN embeddings e ON e.vec_id = d.doc_id
    GROUP BY e.label
    """,
)
def label_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: text quality aggregated by embedding cluster
    label (documents ⨝ embeddings on doc_id=vec_id).  Integer ppm sums →
    exact; the embeddings side carries only (vec_id, label) after pruning."""
    docs = textops.with_quality_score(load(spark, sf_dir, "documents"), "text")
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    joined = docs.join(emb, docs.doc_id == emb.vec_id)
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("quality_ppm").cast("bigint").alias("total_quality_ppm"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH pairs AS ({_duck_minhash_pairs_oracle()}),
    survivors AS (
      SELECT * FROM documents WHERE doc_id NOT IN (SELECT doc_id_b FROM pairs)
    ),
    profiled AS (
      SELECT doc_id, lang,
             {P.lang_id_from_tokens('toks', DUCK)} AS lang_pred,
             {P.quality_score_ppm_from_tokens('text', 'toks', DUCK)} AS quality_ppm
      FROM (SELECT doc_id, lang, text, {P.tokens('text', DUCK)} AS toks FROM survivors)
    )
    SELECT lang_pred, COUNT(*) AS n_docs,
           CAST(SUM(quality_ppm) AS BIGINT) AS total_quality_ppm
    FROM profiled WHERE quality_ppm >= 400000
    GROUP BY lang_pred
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-data-pipeline story in one plan: MinHash-LSH dedup →
    language ID + quality scoring → quality filter → per-language corpus
    stats.  The dedup signature pass and the lang-ID/quality profile
    read the same documents, so the fused
    ``signature_profile_vectorized`` pass scans/tokenizes the corpus
    ONCE (checkpointed at the fan point); the survivor anti-join then
    keeps the already-computed profile columns — same ``portable_py``
    calls and the same survivor set as the two-pass plan, identical
    values."""
    docs = load(spark, sf_dir, "documents")
    fused = dedup.signature_profile_vectorized(
        docs, "doc_id", "text", n=3, k=16
    ).transform(ckpt_lazy)
    pairs = dedup.minhash_lsh_pairs_from_signatures(
        fused, "doc_id", k=16, bands=4, threshold=0.3
    )
    dropped = pairs.select(F.col("doc_id_b").alias("doc_id")).distinct()
    profiled = fused.select(
        F.col("_id").alias("doc_id"), "lang_pred", "quality_ppm"
    ).join(dropped, on="doc_id", how="left_anti")
    return (
        profiled.where(F.col("quality_ppm") >= 400000)
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("quality_ppm").cast("bigint").alias("total_quality_ppm"),
        )
    )


# --------------------------------------------------------------------------
# 4. Similarity search (north-star)
# --------------------------------------------------------------------------
def _duck_cosine(a: str, b: str) -> str:
    return P.cosine(P.cast_double_array(a, DUCK), P.cast_double_array(b, DUCK), DUCK)


@query(
    "ann_topk_brute",
    oracle=f"""
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_duck_cosine('q.embedding', 'c.embedding')} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_duck_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id ASC
             ) AS rank
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ) t WHERE rank <= 5
    """,
)
def ann_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


@query(
    "ann_topk_vectorized",
    oracle=ORACLES["ann_topk_brute"],
)
def ann_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same results as ann_topk_brute (bit-identical cosines — the numpy
    path replays portable.dot's fold order), via the Arrow/numpy scan."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_vectorized(
        emb, emb.where(F.col("vec_id") < 10), k=5
    )


@query(
    "ann_topk_ivf",
    oracle=f"""
    WITH centroids AS (SELECT vec_id AS centroid_id, embedding AS cvec
                       FROM embeddings WHERE vec_id % 50 = 0),
    assign AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_duck_cosine('e.embedding', 'c.cvec')} DESC, c.centroid_id ASC
               ) AS rn
        FROM embeddings e CROSS JOIN centroids c
      ) WHERE rn = 1
    )
    SELECT query_id, centroid_id, neighbor_id, cosine, rank FROM (
      SELECT q.vec_id AS query_id, q.centroid_id,
             c.vec_id AS neighbor_id,
             {_duck_cosine('q.embedding', 'c.embedding')} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_duck_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id ASC
             ) AS rank
      FROM assign q JOIN assign c
        ON q.centroid_id = c.centroid_id AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ) t WHERE rank <= 5
    """,
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.where(F.col("vec_id") % 50 == 0)
    # queries ⊆ corpus → assign cells once (vectorized — bit-identical to
    # the HOF assignment), filter the query side from it
    cells = similarity.assign_cells_vectorized(emb, centroids).transform(ckpt_lazy)  # corpus side + broadcast query side both read the one Arrow pass
    return similarity.ivf_topk_from_cells(cells, cells.where(F.col("vec_id") < 10), k=5)


def _lsh_sig_duck() -> str:
    return similarity.hyperplane_signature("embedding", 6, 64)(DUCK)


@query(
    "ann_topk_lsh",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding, {_lsh_sig_duck()} AS bucket FROM embeddings)
    SELECT query_id, bucket, neighbor_id, cosine, rank FROM (
      SELECT q.vec_id AS query_id, q.bucket, c.vec_id AS neighbor_id,
             {_duck_cosine('q.embedding', 'c.embedding')} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_duck_cosine('q.embedding', 'c.embedding')} DESC, c.vec_id ASC
             ) AS rank
      FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ) t WHERE rank <= 5
    """,
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    # bucket the corpus once (vectorized signature — same sign pattern as
    # the SQL expression); the query side filters the bucketed frame, so
    # checkpoint the opaque Arrow pass at the fan point (same shared-
    # sides fix as the IVF cell assignments) or it runs once per side
    bucketed = similarity.with_lsh_bucket_vectorized(emb).transform(ckpt_lazy)
    c = bucketed.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("embedding").alias("_cvec"), "bucket")
    q = bucketed.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec"), "bucket")
    from ayeaye_spark.functions import portable as _P
    from pyspark.sql import Window as _W
    scored = (c.join(F.broadcast(q), on="bucket")
              .where(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cosine", F.expr(_P.cosine(
                  _P.cast_double_array("_qvec", SPARK),
                  _P.cast_double_array("_cvec", SPARK), SPARK))))
    w = _W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("query_id", "bucket", "neighbor_id", "cosine", "rank"))


# --------------------------------------------------------------------------
# round-2 breadth: corpus profiling / cross-modal quality queries
# --------------------------------------------------------------------------

shared_sql(
    "docs_source_stats",
    """
    SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars, MIN(doc_id) AS first_doc
    FROM documents GROUP BY source ORDER BY source
    """,
    needs=("documents",),
)

shared_sql(
    "events_daily_active_users",
    """
    SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS dau,
           COUNT(*) AS n_events
    FROM events GROUP BY CAST(ts AS DATE) ORDER BY day
    """,
    needs=("events",),
)


@query(
    "docs_repetition_score",
    oracle=f"""
    SELECT doc_id,
           CAST({P.size(P.tokens('text', DUCK), DUCK)} AS BIGINT) AS n_tokens,
           CAST({P.size(P.distinct(P.tokens('text', DUCK), DUCK), DUCK)} AS BIGINT)
             AS n_distinct,
           {P.int_div(
               f"CAST({P.size(P.distinct(P.tokens('text', DUCK), DUCK), DUCK)} AS BIGINT) * 1000000",
               f"CAST({P.size(P.tokens('text', DUCK), DUCK)} AS BIGINT)", DUCK)}
             AS distinct_ppm
    FROM documents
    """,
)
def docs_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: distinct-token ratio in integer ppm
    (low ratio = TEMPLATE/boilerplate-heavy doc — the standard cheap
    repetition filter in corpus curation).  Shuffle-free scan; exact
    integer arithmetic on both engines."""
    docs = load(spark, sf_dir, "documents")
    toks = P.tokens("text", SPARK)
    n = f"CAST({P.size(toks, SPARK)} AS BIGINT)"
    nd = f"CAST({P.size(P.distinct(toks, SPARK), SPARK)} AS BIGINT)"
    return docs.select(
        "doc_id",
        F.expr(n).alias("n_tokens"),
        F.expr(nd).alias("n_distinct"),
        F.expr(P.int_div(f"{nd} * 1000000", n, SPARK)).alias("distinct_ppm"),
    )


@query(
    "docs_token_histogram",
    oracle=f"""
    SELECT {P.int_div(f"CAST({P.token_count('text', DUCK)} AS BIGINT)", "20", DUCK)}
             AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST({P.token_count('text', DUCK)} AS BIGINT)) AS BIGINT) AS total_tokens
    FROM documents GROUP BY 1 ORDER BY bucket
    """,
)
def docs_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (20-token buckets): the length profile a
    curation pipeline reads before setting min/max-length filters.
    Map-side combinable aggregate over a shuffle-free scan."""
    docs = load(spark, sf_dir, "documents")
    ntok = f"CAST({P.token_count('text', SPARK)} AS BIGINT)"
    return (
        docs.select(
            F.expr(P.int_div(ntok, "20", SPARK)).alias("bucket"),
            F.expr(ntok).alias("_ntok"),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("_ntok").alias("total_tokens"))
        .orderBy("bucket")
    )


@query(
    "emb_label_agreement",
    oracle=f"""
    WITH {_duck_embedding_pairs_cte()}
    SELECT COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS same_label_pairs,
           {P.int_div("CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) * 1000000", "COUNT(*)", DUCK)}
             AS agreement_ppm
    FROM pairs WHERE cosine >= 0.4
    """,
)
def emb_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space sanity metric: of near-duplicate vector pairs
    (cosine ≥ 0.4), what fraction share a cluster label?  Joins the
    size-gated near-dup operator with the label column — integer counts
    and ppm, so the check is exact while the pair generation reuses the
    production path."""
    emb = load(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dup_pairs(emb, threshold=0.4)
    lab = emb.select("vec_id", "label")
    labeled = (
        pairs.join(lab.withColumnRenamed("vec_id", "vec_id_a")
                   .withColumnRenamed("label", "la"), on="vec_id_a")
        .join(lab.withColumnRenamed("vec_id", "vec_id_b")
              .withColumnRenamed("label", "lb"), on="vec_id_b")
    )
    agg = labeled.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("la") == F.col("lb"), 1).otherwise(0)).cast("bigint").alias("same_label_pairs"),
    )
    return agg.withColumn(
        "agreement_ppm",
        F.expr(P.int_div("same_label_pairs * 1000000", "n_pairs", SPARK)),
    )


def _duck_boilerplate_oracle(n: int = 3, min_df: int = 2) -> str:
    token_hashes = P.hash_array(P.tokens("text", DUCK), DUCK)
    shingles = P.token_hash_ngrams("th", n, DUCK)
    return f"""
    WITH hashed AS (
      SELECT doc_id, list_distinct(sh) AS hs
      FROM (SELECT doc_id, {shingles} AS sh
            FROM (SELECT doc_id, {token_hashes} AS th FROM documents))
    ),
    ex AS (SELECT doc_id, unnest(hs) AS h FROM hashed),
    freq AS (SELECT h, COUNT(*) AS df FROM ex GROUP BY h)
    SELECT e.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.df >= {min_df} THEN 1 ELSE 0 END) AS BIGINT)
             AS shared_shingles,
           CASE WHEN COUNT(*) = 0 THEN 0
                ELSE CAST(SUM(CASE WHEN f.df >= {min_df} THEN 1 ELSE 0 END) AS BIGINT)
                     * 1000000 // COUNT(*) END AS boilerplate_ppm
    FROM ex e JOIN freq f ON e.h = f.h
    GROUP BY e.doc_id
    """


@query("docs_boilerplate_score", oracle=_duck_boilerplate_oracle())
def docs_boilerplate_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate signal: per doc, the ppm of its
    distinct 3-gram shingles shared by ≥2 documents (headers/footers/
    chrome detection before near-dup passes).  Inverted-index shape —
    one shingling pass, hash-keyed df count, no self-join."""
    return dedup.boilerplate_score(
        load(spark, sf_dir, "documents"), "doc_id", "text", n=3, min_df=2
    )


shared_sql(
    "docs_stratified_sample",
    f"""
    SELECT lang, doc_id, n_chars, rk FROM (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY {sampling.bucket_expr('doc_id')}, doc_id
             ) AS rk
      FROM documents
    ) t WHERE rk <= 10 ORDER BY lang, rk
    """,
    needs=("documents",),
)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a streaming source, ts normalized by the same
    dtype dispatch as the batch loader (:func:`_normalize_events_ts`)."""
    _ensure_session_defaults(spark)
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file source needs a DIRECTORY; glob-filter to the events file
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_events_ts(raw, schema["ts"].dataType)


def _drain_stream(spark: SparkSession, agg: DataFrame, sink: str,
                  output_mode: str = "complete") -> DataFrame:
    """Run an availableNow streaming aggregate to a memory sink and
    return the drained result.  One FIXED sink name per query:
    availableNow queries terminate inside run_to_memory, so
    re-invocations replace the table instead of accumulating one
    fully-materialized memory table per call.  The result is detached
    from the sink (localCheckpoint) and the temp view dropped, so
    nothing outlives the call.

    State parallelism: a stateful streaming query creates one state
    store per shuffle partition, and each store pays per-micro-batch
    commit I/O — at acceptance-drain volume that fixed cost dominates
    (32 partitions: ~6 s; 4: ~2 s for the same drain, same result).
    These drains are BOUNDED acceptance harnesses, so the query runs
    with a small state parallelism and the session's setting is
    restored after; production streams, where state actually has
    volume, keep the session's partitioning (a new query pins its
    state partition count from the conf at first start)."""
    from .streaming import events as streamops

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, str(min(int(prev), 4)))
        out = streamops.run_to_memory(
            agg, sink, output_mode=output_mode
        ).transform(ckpt_eager)
    finally:
        spark.conf.set(key, prev)
    spark.catalog.dropTempView(sink)
    return out


@query("docs_stream_decontam")  # no oracle: streaming drain, rows-only check
def docs_stream_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest decontamination: documents arrive as a stream
    and each micro-batch is anti-joined (STREAM-STATIC left_anti, a
    supported incremental join — the static fingerprint side broadcasts)
    against the eval slice's normalized-text fingerprints, then rolled
    up per language in complete mode.  The batch twin (identical ops on
    the batch frame) is asserted equal in ``tests/test_streaming.py``;
    the drain itself is a rows-only driver check like every stream."""
    _ensure_session_defaults(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eval_fp = (
        dedup.with_fingerprint(docs.where(F.col("doc_id") % 5 == 0), "text")
        .select("fingerprint").distinct()
    )
    incoming = dedup.with_fingerprint(
        raw.where(F.col("doc_id") % 5 != 0), "text"
    )
    survivors = incoming.join(F.broadcast(eval_fp), on="fingerprint",
                              how="left_anti")
    agg = survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    return _drain_stream(spark, agg, "docs_stream_decontam_sink")


@query("docs_stream_quality_monitor")  # no oracle: streaming drain, rows-only check
def docs_stream_quality_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-ingest quality monitor: documents arrive as a
    stream; every micro-batch scores quality (exact integer ppm) and
    the Gopher gate in the scan projection, and a complete-mode
    per-language rollup tracks docs seen, gate pass count, and the
    EXACT mean quality (integer sum + div — associative, so streaming
    partial aggregation is safe).  The live dashboard you run beside a
    crawl ingest: a souring source shows up as a dropping pass rate
    within one micro-batch.  The batch twin (identical ops on the batch
    frame) is asserted equal in ``tests/test_streaming.py``; stream
    drains are rows-only driver checks by nature."""
    _ensure_session_defaults(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    scored = textops.with_gopher_flags(
        textops.with_quality_score(raw, "text", out_col="qp"), "text"
    )
    agg = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("gopher_pass").cast("long")).alias("n_pass"),
        F.expr("sum(qp) div count(1)").alias("mean_quality_ppm"),
    )
    return _drain_stream(spark, agg, "docs_stream_quality_monitor_sink")


@query("events_stream_hourly_counts")  # no oracle: streaming drain, rows-only check
def events_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming in the acceptance surface: the hourly
    windowed count+sum over events executed as a WATERMARKED STREAM
    (file source → availableNow micro-batches → memory sink), returned
    as the drained batch result.  The same plan runs as a normal
    aggregate in ``events_hourly_window`` — that query is the
    oracle-checked twin; this one proves the streaming execution path
    end-to-end (rows-only driver check: stream drains are engine-side
    by nature)."""
    from .streaming import events as streamops

    stream = _events_stream(spark, sf_dir)
    agg = streamops.windowed_counts(stream, window="1 hour", group_cols=["event_type"])
    return _drain_stream(spark, agg, "events_stream_hourly_sink")


@query("events_stream_cdc_upsert")  # no oracle: streaming drain + FS sink
def events_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-apply to a serving table: the events stream MERGEs
    into a parquet target per micro-batch
    (``streaming.sinks.merge_upsert_sink`` — per-batch last-writer
    dedupe, anti-join merge, staging + guarded rename swap), keyed on
    user_id with last-writer-wins by (ts, event_id).  The returned
    frame is the serving table itself: one latest-event row per user,
    which must equal the batch ``max_by`` twin — pinned in
    ``tests/test_streaming.py`` (rows-only driver check: the loop is a
    streaming drain by nature)."""
    import tempfile

    from .streaming.sinks import merge_upsert_sink

    import shutil

    tmp = tempfile.mkdtemp(prefix="ayeaye_cdc_")
    try:
        target = f"{tmp}/serving"
        stream = _events_stream(spark, sf_dir).select(
            "event_id", "user_id", "event_type", "ts"
        )
        q = (
            stream.writeStream.foreachBatch(
                merge_upsert_sink(
                    target, key="user_id", order_col="ts",
                    tiebreak_cols=["event_id"],
                )
            )
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # EAGER checkpoint pins the result in the block manager, so the
        # scratch serving table + checkpoint can be removed immediately
        # (no per-invocation tempdir leak)
        return spark.read.parquet(target).transform(ckpt_eager)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "orders_monthly_gapless",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
             date_trunc('month', MAX(o_orderdate)) AS hi
      FROM orders
    ),
    cal AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS m FROM bounds)
    SELECT strftime(m, '%Y-%m') AS month, COUNT(o_orderkey) AS n_orders
    FROM cal LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
    GROUP BY 1
    """,
)
def orders_monthly_gapless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gapless monthly order counts via a RECURSIVE CTE (Spark 4's
    ``WITH RECURSIVE``): the calendar spine is generated by recursion
    from the data's own bounds, then left-joined so empty months appear
    as zero — the classic report-completeness pattern.  The recursion
    depth is #months (tiny, driver-bounded); the join and aggregate are
    ordinary distributed ops.  Oracle: DuckDB ``generate_series``
    (recursion-free but value-identical)."""
    register_views(spark, sf_dir, "orders")
    # the stop bound rides IN the recursion row — a correlated
    # `(SELECT hi FROM bounds)` in the step re-executes the bounds
    # aggregate (an orders scan) every iteration: measured 19s vs 2s
    return spark.sql("""
        WITH RECURSIVE bounds AS (
          SELECT CAST(date_trunc('MONTH', MIN(o_orderdate)) AS DATE) AS lo,
                 CAST(date_trunc('MONTH', MAX(o_orderdate)) AS DATE) AS hi
          FROM orders
        ),
        cal(m, hi) AS (
          SELECT lo, hi FROM bounds
          UNION ALL
          SELECT add_months(m, 1), hi FROM cal WHERE m < hi
        )
        SELECT date_format(m, 'yyyy-MM') AS month,
               COUNT(o_orderkey) AS n_orders
        FROM cal LEFT JOIN orders
          ON CAST(date_trunc('MONTH', o_orderdate) AS DATE) = m
        GROUP BY month
    """)


@query(
    "customer_segment_scd2",
    oracle="""
    WITH upd AS (
      SELECT o_custkey AS c_custkey, MAX(o_orderpriority) AS segment,
             o_orderdate AS ts
      FROM orders WHERE o_orderkey % 97 = 0
      GROUP BY o_custkey, o_orderdate
    ),
    ukeys AS (SELECT DISTINCT c_custkey FROM upd),
    cur AS (
      SELECT c_custkey, c_mktsegment AS segment,
             TIMESTAMP '1990-01-01' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM customer
    ),
    chain AS (
      SELECT c.c_custkey, c.segment, c.valid_from AS _vf
      FROM cur c JOIN ukeys u ON u.c_custkey = c.c_custkey
      UNION ALL
      SELECT c_custkey, segment, ts FROM upd
    ),
    ver AS (
      SELECT c_custkey, segment, _vf AS valid_from,
             LEAD(_vf) OVER (PARTITION BY c_custkey ORDER BY _vf) AS valid_to
      FROM chain
    )
    SELECT * FROM ver
    UNION ALL
    SELECT c.* FROM cur c
    WHERE c.c_custkey NOT IN (SELECT c_custkey FROM ukeys)
    """,
)
def customer_segment_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge on the acceptance surface: the current customer-segment
    dimension (open since 1990-01-01) merged with a deterministic sample
    of orders as segment-change events (one update per (custkey, date) —
    MAX priority breaks same-day ties so the version chain is total-
    ordered and cross-engine deterministic).  Anti-join + union + one
    lead() window — the Delta-less MERGE emulation, one shuffle on the
    key (``operators/scd.py``)."""
    from .operators.scd import scd2_apply

    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    current = customer.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    updates = (
        orders.where(F.col("o_orderkey") % 97 == 0)
        .groupBy(F.col("o_custkey").alias("c_custkey"), F.col("o_orderdate").alias("ts"))
        .agg(F.max("o_orderpriority").alias("segment"))
    )
    return scd2_apply(
        current, updates, key="c_custkey", ts_col="ts", attr_cols=["segment"]
    )


@query(
    "events_salted_type_counts",
    oracle="""
    SELECT event_type, CAST(SUM(user_id) AS BIGINT) AS sum_user_id, COUNT(*) AS n_rows
    FROM events GROUP BY event_type
    """,
)
def events_salted_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage SALTED aggregate over the (low-cardinality, skewed)
    event_type key — the skew pattern for keys whose partials
    concentrate on one reducer.  Sum/count are decomposable, so the
    result is value-identical to the plain aggregate; integer sum
    (user_id) keeps it order-independent and oracle-exact.  The salt is
    a deterministic content hash (no RNG — repeatable runs)."""
    events = load(spark, sf_dir, "events")
    # salt from the consumed columns only — the scan stays pruned to
    # (event_type, user_id); see PLANS.md
    return relational.salted_aggregate(
        events, ["event_type"], sum_cols=["user_id"], count=True, buckets=16,
        salt_source_cols=["event_type", "user_id"],
    )


@query("events_stream_sessions")  # no oracle: streaming drain, rows-only check
def events_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (dynamic 30-minute gap) per user as a watermarked
    stream — ``F.session_window`` state merges adjacent windows across
    micro-batches, the streaming-native form of gap sessionization.  The
    oracle-checked batch counterpart is ``events_sessionize`` (lag +
    running-sum formulation); ``tests/test_catalog.py`` holds this
    drain's session count per user equal to the batch twin's."""
    from .streaming import events as streamops

    stream = _events_stream(spark, sf_dir)
    agg = streamops.session_aggregate(stream, gap="30 minutes", by=["user_id"])
    return _drain_stream(spark, agg, "events_stream_sessions_sink")


def _duck_incremental_oracle(n: int = 3, k: int = 16, bands: int = 4,
                             threshold: float = 0.3, split_at: int = 800) -> str:
    """Oracle for incremental dedup: band-collision pairs over the tagged
    corpus, then the drop rule (new-vs-old drops new; new-vs-new drops
    the larger id)."""
    bkt = sampling.bucket_expr("doc_id")
    return f"""
    WITH tagged AS (
      SELECT doc_id, text, {bkt} >= {split_at} AS is_new FROM documents
    ),
    s AS ({_duck_minhash_sig_cte(n, k, source_sql="tagged", extra_cols=("is_new",))}),
    matched AS (
      SELECT a.doc_id AS ida, b.doc_id AS idb, a.is_new AS a_new, b.is_new AS b_new
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE ({_duck_band_match(k, bands)})
        AND (a.is_new OR b.is_new)
        AND {P.jaccard('a.hashset', 'b.hashset', DUCK)} >= {threshold}
    ),
    dropped AS (
      SELECT DISTINCT CASE WHEN a_new AND NOT b_new THEN ida
                           WHEN b_new AND NOT a_new THEN idb
                           WHEN a_new AND b_new THEN idb END AS doc_id
      FROM matched WHERE a_new OR b_new
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d
    WHERE {sampling.bucket_expr('d.doc_id')} >= {split_at}
      AND d.doc_id NOT IN (SELECT doc_id FROM dropped WHERE doc_id IS NOT NULL)
    """


@query("dedup_incremental_survivors", oracle=_duck_incremental_oracle())
def dedup_incremental_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl-batch dedup: treat the hash-bucket tail (≥800)
    as a NEW batch folded into the existing deduplicated corpus —
    survivors are new docs that near-duplicate neither the existing
    corpus nor an earlier new doc.  The existing side is read, never
    rewritten: the 100 TB shape for continuous ingestion."""
    docs = sampling.with_bucket(load(spark, sf_dir, "documents"), "doc_id")
    existing = docs.where(F.col("bucket") < 800)
    increment = docs.where(F.col("bucket") >= 800)
    out = dedup.minhash_dedup_incremental(
        existing, increment, "doc_id", "text", n=3, k=16, bands=4, threshold=0.3
    )
    return out.select("doc_id", "lang", "n_chars")


def _duck_corr_oracle(cols: list[str], table: str, scale: int = 100) -> str:
    """DuckDB twin of ``relational.correlation_matrix``: same integer
    scaling, HUGEINT-exact moment sums, identical final double expr."""
    pred = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    xs = ", ".join(
        f"CAST(round({c} * {scale}) AS BIGINT) AS x_{c}" for c in cols
    )
    sums = ["CAST(COUNT(*) AS HUGEINT) AS n"]
    for c in cols:
        sums.append(f"SUM(CAST(x_{c} AS HUGEINT)) AS s_{c}")
        sums.append(f"SUM(CAST(x_{c} AS HUGEINT) * x_{c}) AS ss_{c}")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pairs:
        sums.append(f"SUM(CAST(x_{a} AS HUGEINT) * x_{b}) AS sp_{a}_{b}")
    branches = []
    for a, b in pairs:
        num = f"(n * sp_{a}_{b} - s_{a} * s_{b})"
        da = f"(n * ss_{a} - s_{a} * s_{a})"
        db = f"(n * ss_{b} - s_{b} * s_{b})"
        branches.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y, "
            f"CASE WHEN {da} = 0 OR {db} = 0 THEN NULL ELSE "
            f"CAST({num} AS DOUBLE) / "
            f"sqrt(CAST({da} AS DOUBLE) * CAST({db} AS DOUBLE)) END AS corr "
            f"FROM m"
        )
    union = " UNION ALL ".join(branches)
    return f"""
    WITH x AS (SELECT {xs} FROM {table} WHERE {pred}),
    m AS (SELECT {", ".join(sums)} FROM x)
    {union}
    """


@query(
    "lineitem_spearman_quantity_discount",
    oracle="""
    WITH e AS (
      SELECT CAST(round(l_quantity * 1) AS BIGINT) AS va,
             CAST(round(l_discount * 100) AS BIGINT) AS vb
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
    ha AS (SELECT va, COUNT(*) AS cnt FROM e GROUP BY va),
    ra AS (SELECT va,
                  2 * COALESCE(SUM(cnt) OVER (ORDER BY va
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + cnt + 1 AS r
           FROM ha),
    hb AS (SELECT vb, COUNT(*) AS cnt FROM e GROUP BY vb),
    rb AS (SELECT vb,
                  2 * COALESCE(SUM(cnt) OVER (ORDER BY vb
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + cnt + 1 AS r
           FROM hb),
    j AS (SELECT ra.r AS x, rb.r AS y
          FROM e JOIN ra USING (va) JOIN rb USING (vb)),
    m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                 SUM(CAST(x AS HUGEINT)) AS sx,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx,
                 SUM(CAST(y AS HUGEINT)) AS sy,
                 SUM(CAST(y AS HUGEINT) * y) AS syy,
                 SUM(CAST(x AS HUGEINT) * y) AS sxy
          FROM j)
    SELECT 'l_quantity' AS col_x, 'l_discount' AS col_y,
           CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0
                THEN NULL ELSE
             CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)) END AS rho
    FROM m
    """,
)
def lineitem_spearman_quantity_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation WITHOUT a row-level rank window
    (``relational.spearman_correlation``): tie-averaged ranks from
    per-column value histograms (the only window runs over the tiny
    distinct-value frame — the engine's standard histogram-rank
    contract), then the exact-decimal Pearson machinery.  Value-exact
    vs the identical SQL construction."""
    return relational.spearman_correlation(
        load(spark, sf_dir, "lineitem"), "l_quantity", "l_discount",
        scale_a=1, scale_b=100,
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query(
    "lineitem_correlation_matrix",
    oracle=_duck_corr_oracle(_CORR_COLS, "lineitem"),
)
def lineitem_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation of every lineitem money/quantity column
    pair in ONE scan (``relational.correlation_matrix``): integer-scaled
    inputs, decimal/HUGEINT-exact moment sums (order-independent), and a
    final correctly-rounded double expression — bit-identical in both
    engines, unlike a float-sum ``corr()`` whose value depends on
    partitioning."""
    return relational.correlation_matrix(
        load(spark, sf_dir, "lineitem"), _CORR_COLS, scale=100
    )


@query(
    "lineitem_price_quartiles_exact",
    oracle="""
    SELECT l_returnflag,
           MAX(CASE WHEN rn = GREATEST(CAST(CEIL(n * 0.25) AS BIGINT), 1)
                    THEN l_extendedprice END) AS p25,
           MAX(CASE WHEN rn = GREATEST(CAST(CEIL(n * 0.50) AS BIGINT), 1)
                    THEN l_extendedprice END) AS p50,
           MAX(CASE WHEN rn = GREATEST(CAST(CEIL(n * 0.75) AS BIGINT), 1)
                    THEN l_extendedprice END) AS p75
    FROM (
      SELECT l_returnflag, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice ASC) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ) t
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def lineitem_price_quartiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 order statistics per return flag.  The oracle
    sorts each group with a window; the Spark side uses the scalable
    histogram locate-then-sort plan (`relational.exact_group_quantiles`)
    — with only 3 groups, a per-group global sort runs as 3 giant
    tasks, while the histogram plan's only sort touches the single
    located bucket per target rank."""
    li = load(spark, sf_dir, "lineitem")
    q = relational.exact_group_quantiles(
        li, "l_returnflag", "l_extendedprice", bucket_width=100.0
    )
    return q.select(
        "l_returnflag",
        F.col("q_25").alias("p25"),
        F.col("q_50").alias("p50"),
        F.col("q_75").alias("p75"),
    ).orderBy("l_returnflag")

@query(
    "events_user_activity_deciles",
    oracle="""
    SELECT decile, COUNT(*) AS n_users, CAST(SUM(n_events) AS BIGINT) AS total_events,
           MIN(n_events) AS min_events, MAX(n_events) AS max_events
    FROM (
      SELECT user_id, n_events,
             NTILE(10) OVER (ORDER BY n_events DESC, user_id ASC) AS decile
      FROM (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id) u
    ) t GROUP BY decile ORDER BY decile
    """,
)
def events_user_activity_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-decile profile WITHOUT the global NTILE window: an
    unpartitioned ``NTILE(10) OVER (ORDER BY ...)`` moves every per-user
    row to ONE task (the "WindowExec: No Partition Defined" wall).  The
    per-decile aggregates don't depend on which TIED user lands on which
    side of a boundary, so ``relational.ntile_summary`` computes them
    from the activity-count histogram alone — the only ordered window
    runs over one row per DISTINCT count.  Bit-identical to the oracle's
    NTILE form by the tie-interchangeability argument."""
    per_user = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return relational.ntile_summary(
        per_user, "n_events", n_tiles=10, descending=True, tile_col="decile"
    ).select(
        "decile",
        F.col("n_rows").alias("n_users"),
        F.col("total").alias("total_events"),
        F.col("min_value").alias("min_events"),
        F.col("max_value").alias("max_events"),
    )


@query(
    "docs_quality_percentile_by_lang",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {P.quality_score_ppm_from_tokens('text', 'toks', DUCK)} AS quality_ppm
      FROM (SELECT doc_id, lang, text, {P.tokens('text', DUCK)} AS toks FROM documents)
    ),
    ranked AS (
      SELECT doc_id, lang, quality_ppm,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY quality_ppm ASC, doc_id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM scored
    )
    SELECT doc_id, lang, quality_ppm,
           CASE WHEN n = 1 THEN 0
                ELSE (rk - 1) * 1000000 // (n - 1) END AS pct_ppm
    FROM ranked
    """,
)
def docs_quality_percentile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality percentile in integer ppm — the rank-based
    normalization a curation pipeline uses to compare quality ACROSS
    languages (raw scores aren't comparable between languages; ranks
    are).  ``(rank-1) * 1e6 div (n-1)`` is pure integer math — exact on
    both engines, unlike ``percent_rank``'s float division.

    The rank comes from ``relational.grouped_rank_exact`` (value
    histogram + in-bucket tie rank), NOT ``row_number() OVER (PARTITION
    BY lang)`` — ~5 languages would mean 5 single-task sorts of the
    whole corpus at 100x; the histogram plan's windows run over one row
    per distinct ppm value and per (lang, ppm) bucket.  The oracle
    keeps the naive window form."""
    docs = textops.with_quality_score(load(spark, sf_dir, "documents"), "text")
    # score ONCE: the rank plan fans into histogram + main branches
    scored = docs.select("doc_id", "lang", "quality_ppm").transform(ckpt_lazy)
    ranked = relational.grouped_rank_exact(
        scored, "lang", "quality_ppm", "doc_id", out_rank="rk", out_n="n",
        tie_bucket_expr=F.expr("doc_id div 1048576"),  # tie-mass split
    )
    return ranked.withColumn(
        "pct_ppm",
        F.expr(
            "CASE WHEN n = 1 THEN 0L ELSE (rk - 1) * 1000000 div (n - 1) END"
        ),
    ).select("doc_id", "lang", "quality_ppm", "pct_ppm")


@query("events_stream_exactly_once_dedup")  # no oracle: streaming drain
def events_stream_exactly_once_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery made exactly-once in-stream: the events
    stream UNIONED WITH ITSELF (every event delivered twice) passes
    through state-backed ``dropDuplicatesWithinWatermark`` on event_id,
    then the hourly windowed aggregate — the drained result must equal
    the single-delivery batch aggregate, proving the dedup state
    actually suppressed the second copies (pinned against the
    ``events_hourly_window`` batch twin in ``tests/test_streaming.py``).
    The span-covering watermark makes the suppression exhaustive for
    the bounded replay; production picks a watermark sized to the
    source's redelivery horizon so state stays bounded (rows-only
    driver check: stream drains are engine-side by nature)."""
    from .streaming import events as streamops

    doubled = _events_stream(spark, sf_dir).unionByName(
        _events_stream(spark, sf_dir)
    )
    deduped = streamops.dedup_within_watermark(
        doubled, key_cols=["event_id"], watermark="3650 days"
    )
    agg = streamops.windowed_counts(
        deduped, window="1 hour", group_cols=["event_type"], watermark=None
    )
    return _drain_stream(spark, agg, "events_stream_dedup_sink")


@query("events_stream_hll_state")  # no oracle: sketch state, rows-only check
def events_stream_hll_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-count maintenance over the event stream with
    MERGEABLE HLL sketches (``streaming.sinks.hll_state_sink``): each
    micro-batch folds ``hll_sketch_agg(user_id)`` per event_type into a
    versioned parquet sketch-state table via ``hll_union_agg`` — history
    is NEVER rescanned, state is one ~2^12-byte sketch per group, and a
    replayed batch_id skips its already-committed fold (exactly-once).
    This is the 100 TB shape for "distinct users per key, forever":
    exact streaming distinct needs unbounded per-key value state, the
    sketch is constant-size and composes across any later slicing.
    Returns the final per-type estimates; the incremental-fold ==
    one-shot-sketch == exact-count equalities are pinned in
    ``tests/test_streaming.py::TestHllStateSink`` (estimates are
    approximate-by-design at this cardinality → rows-only check)."""
    import tempfile

    from .streaming.sinks import hll_state_sink, read_hll_state

    _ensure_session_defaults(spark)
    with tempfile.TemporaryDirectory(prefix="hll_state_") as tmp:
        state = f"{tmp}/state"
        sink = hll_state_sink(
            state, group_cols=["event_type"], value_col="user_id"
        )
        q = (
            _events_stream(spark, sf_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # detach from the TemporaryDirectory before it is removed
        return read_hll_state(spark, state).transform(ckpt_eager)


@query("docs_stream_incremental_dedup")  # no oracle: streaming drain
def docs_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingest with NEAR-DUP dedup-on-arrival
    (``streaming.sinks.minhash_dedup_sink``): each micro-batch's
    documents are MinHash-LSH checked against the versioned survivor
    state (existing-vs-existing candidates pruned pre-verify, so
    steady-state cost scales with the batch, not the corpus) and the
    accepted set folds forward; a replayed batch_id skips its
    committed fold (exactly-once).  The 100 TB crawl-pipeline shape —
    re-deduplicating the whole corpus per arriving batch is the thing
    this avoids.  Returns the final survivor count + id checksum (one
    row); arrival-order acceptance semantics and replay idempotency
    are pinned in ``tests/test_streaming.py::TestMinhashDedupSink``."""
    import tempfile

    from .streaming.sinks import minhash_dedup_sink, read_dedup_state

    _ensure_session_defaults(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    with tempfile.TemporaryDirectory(prefix="dedup_state_") as tmp:
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        sink = minhash_dedup_sink(
            f"{tmp}/state", id_col="doc_id", text_col="text",
            n=3, k=16, bands=4, threshold=0.5,
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = read_dedup_state(spark, f"{tmp}/state").agg(
            F.count(F.lit(1)).cast("long").alias("n_survivors"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        return out.transform(ckpt_eager)  # detach before the tempdir goes


@query("events_stream_theta_overlap")  # no oracle: sketch state, rows-only
def events_stream_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_theta_audience_overlap``: per-type
    THETA sketches of the user audience are maintained incrementally by
    ``streaming.sinks.theta_state_sink`` (versioned folds, replay-skip
    exactly-once, stream never rescanned) and the view∩purchase /
    view∖purchase estimates are computed FROM THE STORED STATE after
    the drain — set algebra on state bytes, the thing plain HLL state
    cannot do.  Exactness in the sub-nominal regime and the
    incremental-fold algebra are pinned in
    ``tests/test_streaming.py::TestThetaStateSink``."""
    import tempfile

    from .streaming.sinks import read_theta_state, theta_state_sink

    _ensure_session_defaults(spark)
    with tempfile.TemporaryDirectory(prefix="theta_state_") as tmp:
        sink = theta_state_sink(
            f"{tmp}/state", group_cols=["event_type"], value_col="user_id"
        )
        q = (
            _events_stream(spark, sf_dir)
            .where(F.col("event_type").isin("view", "purchase"))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wide = read_theta_state(spark, f"{tmp}/state").groupBy().agg(
            F.max(F.when(F.col("event_type") == "view", F.col("sketch")))
            .alias("sv"),
            F.max(F.when(F.col("event_type") == "purchase", F.col("sketch")))
            .alias("sp"),
        )
        out = wide.selectExpr(
            "CAST(theta_sketch_estimate(sv) AS BIGINT) AS view_users",
            "CAST(theta_sketch_estimate(sp) AS BIGINT) AS purchase_users",
            "CAST(theta_sketch_estimate(theta_intersection(sv, sp)) AS BIGINT)"
            "  AS both_users",
            "CAST(theta_sketch_estimate(theta_difference(sv, sp)) AS BIGINT)"
            "  AS view_only_users",
        )
        return out.transform(ckpt_eager)  # detach before the tempdir goes


def _duck_repeated_spans_oracle(
    n: int = 5, min_docs: int = 2, src: str = "documents"
) -> str:
    """``src`` parameterizes the corpus relation so composite pipelines
    can run the span profile over an already-filtered CTE."""
    token_hashes = P.hash_array(P.tokens("text", DUCK), DUCK)
    grams = P.token_hash_ngrams_all("th", n, DUCK)
    return f"""
    WITH th AS (SELECT doc_id, {token_hashes} AS th FROM {src}),
    g AS (SELECT doc_id, {grams} AS garr, {P.size('th', DUCK)} AS ntok FROM th),
    pos AS (SELECT doc_id, ntok, unnest(garr) AS sh,
                   unnest(range(1, len(garr) + 1)) AS pos
            FROM g),
    dup AS (SELECT sh FROM pos GROUP BY sh
            HAVING COUNT(DISTINCT doc_id) >= {min_docs}),
    hits AS (SELECT p.doc_id, p.ntok, p.pos FROM pos p JOIN dup d USING (sh)),
    w AS (SELECT doc_id, ntok, pos,
                 lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM hits)
    SELECT doc_id, ntok AS total_tokens,
           CAST(SUM(CASE WHEN prev IS NULL OR pos - prev > {n} THEN 1 ELSE 0 END)
             AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN prev IS NULL THEN {n} ELSE LEAST(pos - prev, {n}) END)
             AS BIGINT) AS dup_tokens,
           CAST(SUM(CASE WHEN prev IS NULL THEN {n} ELSE LEAST(pos - prev, {n}) END)
             * 1000000 // ntok AS BIGINT) AS dup_ppm
    FROM w GROUP BY doc_id, ntok
    """


def _duck_weighted_jaccard_oracle(n: int = 3, threshold: float = 0.4) -> str:
    """DuckDB twin of ``dedup.weighted_jaccard_pairs``: same tf weights
    over positional n-gram hashes, same sum-min / (Wa+Wb-sum-min)."""
    toks = P.tokens("coalesce(text, '')", DUCK)
    token_hashes = P.hash_array(toks, DUCK)
    grams = ("th" if n == 1
             else P.token_hash_ngrams_all("th", n, DUCK))
    return f"""
    WITH t AS (SELECT doc_id, {token_hashes} AS th FROM documents),
    g AS (SELECT doc_id, {grams} AS garr FROM t),
    w AS (SELECT doc_id, h, COUNT(*) AS w
          FROM (SELECT doc_id, unnest(garr) AS h FROM g) GROUP BY doc_id, h),
    tot AS (SELECT doc_id, SUM(w) AS wt FROM w GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
                     SUM(LEAST(a.w, b.w)) AS m
              FROM w a JOIN w b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
    SELECT i.ida AS doc_id_a, i.idb AS doc_id_b,
           CAST(i.m AS DOUBLE) / (ta.wt + tb.wt - i.m) AS weighted_jaccard
    FROM inter i
    JOIN tot ta ON ta.doc_id = i.ida
    JOIN tot tb ON tb.doc_id = i.idb
    WHERE CAST(i.m AS DOUBLE) / (ta.wt + tb.wt - i.m) >= {threshold}
    """


@query("docs_weighted_jaccard_pairs", oracle=_duck_weighted_jaccard_oracle())
def docs_weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tf-weighted (multiset) Jaccard near-dup pairs over
    positional trigram multiplicities — separates same-vocabulary /
    different-emphasis pairs that distinct-set Jaccard scores
    identically (``dedup.weighted_jaccard_pairs``; one inverted-index
    equi-join computes sum-min, totals join back)."""
    return dedup.weighted_jaccard_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.4,
    )


@query(
    "docs_crosscorpus_jaccard_join",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, doc_id % 5 = 0 AS is_eval,
             list_distinct({P.token_hash_ngrams('th', 3, DUCK)}) AS hashset
      FROM (SELECT doc_id, {P.hash_array(P.tokens('text', DUCK), DUCK)} AS th
            FROM documents)
    )
    SELECT a.doc_id AS eval_id_a, b.doc_id AS train_id_b,
           {P.jaccard('a.hashset', 'b.hashset', DUCK)} AS jaccard
    FROM s a JOIN s b ON a.is_eval AND NOT b.is_eval
    WHERE {P.jaccard('a.hashset', 'b.hashset', DUCK)} >= 0.5
    """,
)
def docs_crosscorpus_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus R-S similarity join at a Jaccard threshold
    (``dedup.ngram_jaccard_join``, prefix-filter candidates): an eval
    slice (every 5th doc) probed against the remaining training corpus
    — contamination detection where the shared-count variant
    (``contamination_pairs``) is too blunt.  Cross-table pairs only;
    one shared inverted index over the union, side tag instead of the
    self-join's id ordering."""
    docs = load(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 5 == 0).withColumnRenamed("doc_id", "eval_id")
    tr = docs.where(F.col("doc_id") % 5 != 0).withColumnRenamed("doc_id", "train_id")
    return dedup.ngram_jaccard_join(
        ev, tr, "eval_id", "train_id", "text",
        n=3, threshold=0.5, method="prefix",
    )


def _duck_tfidf_cosine_oracle(n: int = 3, threshold: float = 0.5) -> str:
    """DuckDB twin of ``dedup.tfidf_cosine_pairs``: same integer-scaled
    log-free idf weights, exact HUGEINT sums, and the identical final
    correctly-rounded double divide/multiply/sqrt expression."""
    toks = P.tokens("coalesce(text, '')", DUCK)
    token_hashes = P.hash_array(toks, DUCK)
    grams = "th" if n == 1 else P.token_hash_ngrams_all("th", n, DUCK)
    return f"""
    WITH t AS (SELECT doc_id, {token_hashes} AS th FROM documents),
    g AS (SELECT doc_id, {grams} AS garr FROM t),
    tfq AS (SELECT doc_id, h, COUNT(*) AS tf
            FROM (SELECT doc_id, unnest(garr) AS h FROM g) GROUP BY doc_id, h),
    dfq AS (SELECT h, COUNT(*) AS df FROM tfq GROUP BY h),
    w AS (SELECT doc_id, tfq.h, (tf * 1000000) // df AS w
          FROM tfq JOIN dfq USING (h)),
    n2 AS (SELECT doc_id, SUM(CAST(w AS HUGEINT) * w) AS n2
           FROM w GROUP BY doc_id),
    dot AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
                   SUM(CAST(a.w AS HUGEINT) * b.w) AS dot
            FROM w a JOIN w b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id)
    SELECT d.ida AS doc_id_a, d.idb AS doc_id_b,
           CAST(d.dot AS DOUBLE)
             / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) AS cosine
    FROM dot d
    JOIN n2 na ON na.doc_id = d.ida
    JOIN n2 nb ON nb.doc_id = d.idb
    WHERE CAST(d.dot AS DOUBLE)
            / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) >= {threshold}
    """


@query("docs_tfidf_cosine_pairs", oracle=_duck_tfidf_cosine_oracle())
def docs_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tf-idf cosine near-dup pairs over trigram frequencies
    (``dedup.tfidf_cosine_pairs``): inverted-index dot product over
    shared terms + squared-norm joins; log-free integer idf so the
    oracle is bit-deterministic (see operator docstring)."""
    return dedup.tfidf_cosine_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.5,
    )


def _duck_remove_spans_oracle(n: int = 5, min_docs: int = 2) -> str:
    """DuckDB twin of ``dedup.remove_repeated_spans``: same canonical-
    first-occurrence rule (row_number over (doc, pos)), same token-
    coverage removal, same single-space token-stream rejoin."""
    toks = P.tokens("coalesce(text, '')", DUCK)
    token_hashes = P.hash_array(toks, DUCK)
    grams = P.token_hash_ngrams_all("th", n, DUCK)
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks, {token_hashes} AS th FROM documents),
    g AS (SELECT doc_id, toks, {grams} AS garr FROM t),
    pos AS (SELECT doc_id, unnest(garr) AS sh,
                   unnest(range(1, len(garr) + 1)) AS pos
            FROM g),
    dup AS (SELECT sh FROM pos GROUP BY sh
            HAVING COUNT(DISTINCT doc_id) >= {min_docs}),
    hits AS (SELECT p.doc_id, p.pos, p.sh FROM pos p JOIN dup USING (sh)),
    rem AS (SELECT doc_id, pos FROM (
              SELECT h.*, row_number() OVER (PARTITION BY sh
                                             ORDER BY doc_id, pos) AS rn
              FROM hits h)
            WHERE rn > 1),
    cov AS (SELECT DISTINCT doc_id, cp FROM (
              SELECT doc_id, unnest(range(pos, pos + {n})) AS cp FROM rem)),
    tok AS (SELECT doc_id, unnest(toks) AS tok,
                   unnest(range(1, len(toks) + 1)) AS tp
            FROM g),
    kept AS (SELECT t2.doc_id, t2.tok, t2.tp
             FROM tok t2 LEFT JOIN cov c
               ON t2.doc_id = c.doc_id AND t2.tp = c.cp
             WHERE c.cp IS NULL),
    agg AS (SELECT doc_id, COUNT(*) AS kept_n,
                   string_agg(tok, ' ' ORDER BY tp) AS clean
            FROM kept GROUP BY doc_id)
    SELECT g.doc_id,
           CAST(len(g.toks) AS BIGINT) AS total_tokens,
           CAST(len(g.toks) - COALESCE(a.kept_n, 0) AS BIGINT) AS removed_tokens,
           CAST(CASE WHEN len(g.toks) = 0 THEN 0
                ELSE (len(g.toks) - COALESCE(a.kept_n, 0)) * 1000000
                     // len(g.toks) END AS BIGINT) AS removed_ppm,
           COALESCE(a.clean, '') AS clean_text
    FROM g LEFT JOIN agg a USING (doc_id)
    """


@query("docs_remove_repeated_spans", oracle=_duck_remove_spans_oracle())
def docs_remove_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup surgery: cut every cross-document repeated
    5-token window except its corpus-wide canonical first occurrence and
    emit the rewritten token stream per document (suffix-array-style
    substring dedup, distributed — see ``dedup.remove_repeated_spans``)."""
    return dedup.remove_repeated_spans(
        load(spark, sf_dir, "documents"), "doc_id", "text", n=5, min_docs=2
    )


@query("docs_repeated_spans", oracle=_duck_repeated_spans_oracle())
def docs_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile: per document, coverage by
    5-token spans that also occur in ≥2 documents — the signal behind
    suffix-array-style exact substring dedup (near-verbatim syndication,
    template paragraphs that survive document-level near-dup passes).
    Interval-union math over window start positions is pure integer
    arithmetic, so both engines produce identical rows."""
    return dedup.repeated_span_profile(
        load(spark, sf_dir, "documents"), "doc_id", "text", n=5, min_docs=2
    )


@query(
    "ann_range_search",
    oracle=f"""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_duck_cosine('q.embedding', 'c.embedding')} AS cosine
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 10
      AND {_duck_cosine('q.embedding', 'c.embedding')} >= 0.3
    """,
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search: every corpus vector within
    cosine ≥ 0.3 of each probe vector — the fixed-similarity complement
    of top-k retrieval (dedup sweeps / recall evaluation ask "everything
    this similar", not "the k best").  Same scan shape as the top-k
    family: probes broadcast, one corpus pass, no window at all.  The
    fold-order dot product is bit-identical on both engines, so the
    threshold cut selects identical pairs."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_range_search(
        emb, emb.where(F.col("vec_id") < 10), threshold=0.3
    )


@query(
    "docs_source_quality_filter",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             {P.quality_score_ppm_from_tokens('text', 'toks', DUCK)} AS quality_ppm
      FROM (SELECT doc_id, source, text, {P.tokens('text', DUCK)} AS toks
            FROM documents)
    ),
    stats AS (
      SELECT source, CAST({P.int_div('SUM(quality_ppm)', 'COUNT(*)', DUCK)}
               AS BIGINT) AS source_mean_ppm
      FROM scored GROUP BY source
    )
    SELECT s.doc_id, s.source, s.quality_ppm, st.source_mean_ppm
    FROM scored s JOIN stats st USING (source)
    WHERE st.source_mean_ppm >= 645000
    """,
)
def docs_source_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/source-reputation curation: keep documents whose SOURCE
    averages quality ≥ 0.645 (integer ppm) — the domain-level cut a web
    pipeline applies before per-document filters.  Broadcast-join of the
    tiny per-source aggregate back onto the corpus; the corpus is never
    shuffled."""
    kept = textops.source_quality_filter(
        load(spark, sf_dir, "documents"), "text", "source", min_mean_ppm=645_000
    )
    return kept.select("doc_id", "source", "quality_ppm", "source_mean_ppm")


@query(
    "docs_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({P.tokens('text', DUCK)}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS term_df FROM tf GROUP BY term),
    scored AS (
      SELECT t.doc_id, t.term, t.tf, d.term_df,
             t.tf * 1000000 // d.term_df AS score_ppm
      FROM tf t JOIN dfreq d USING (term)
    )
    SELECT doc_id, term, tf, term_df, score_ppm, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id
        ORDER BY score_ppm DESC, tf DESC, term ASC) AS rank
      FROM scored
    ) r WHERE rank <= 5
    """,
)
def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 characteristic terms by integer-exact tf/df
    (the rank shape of tf-idf without float logarithms): keyword
    extraction / topical fingerprinting over the corpus."""
    return textops.tfidf_top_terms(
        load(spark, sf_dir, "documents"), "doc_id", "text", k=5
    )


_BM25_TERMS = ("dup", "spark", "vector")


@query(
    "docs_bm25_topk",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {P.tokens('text', DUCK)} AS toks FROM documents
    ),
    tl AS (
      SELECT doc_id, CAST({P.size('toks', DUCK)} AS BIGINT) AS dl,
             unnest(toks) AS term
      FROM base
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM({P.size('toks', DUCK)}) AS BIGINT) AS total_toks
      FROM base
    ),
    tf AS (
      SELECT doc_id, term, dl, COUNT(*) AS tf
      FROM tl WHERE term IN ('dup', 'spark', 'vector')
      GROUP BY 1, 2, 3
    ),
    dfq AS (SELECT term, COUNT(*) AS term_df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             (((2 * (s.n_docs - d.term_df) + 1) * 1000000)
                // (2 * d.term_df + 1))
             * ((44 * s.total_toks * tf.tf * 1000000)
                // (20 * s.total_toks * tf.tf + 6 * s.total_toks
                    + 18 * tf.dl * s.n_docs)) AS contrib
      FROM tf JOIN dfq d USING (term) CROSS JOIN stats s
    )
    SELECT doc_id, COUNT(*) AS n_terms_matched,
           CAST(SUM(contrib) AS BIGINT) AS bm25_score
    FROM scored GROUP BY doc_id
    ORDER BY bm25_score DESC, doc_id
    LIMIT 20
    """,
)
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (``operators/text.py:bm25_topk``): top-20
    documents for a 3-term query mixing one rare term (idf dominates)
    with two common ones (saturation dominates) — the targeted-curation
    primitive.  Exact rational BM25 (k1=6/5, b=3/4 multiplied through
    by 20*T) with a log-free rational idf, all in 64-bit integer
    arithmetic, so both engines agree bit-for-bit; the top-k is a
    per-partition heap (``TakeOrderedAndProject``), never a global
    sort."""
    return textops.bm25_topk(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        list(_BM25_TERMS), topk=20,
    )


def _duck_hybrid_rrf_oracle() -> str:
    dense_cos = _duck_cosine("q.embedding", "c.embedding")
    return f"""
    WITH bm AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25_score DESC, doc_id) AS r
      FROM ({ORACLES['docs_bm25_topk']})
    ),
    dn AS (
      SELECT doc_id, r FROM (
        SELECT c.vec_id AS doc_id,
               ROW_NUMBER() OVER (ORDER BY {dense_cos} DESC, c.vec_id) AS r
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id = 0
      ) t WHERE r <= 20
    ),
    f AS (
      SELECT doc_id,
             CAST((bm.r IS NOT NULL)::INT + (dn.r IS NOT NULL)::INT AS BIGINT)
               AS n_lists,
             CAST(CASE WHEN bm.r IS NULL THEN 0
                       ELSE 1000000 // (60 + bm.r) END
                + CASE WHEN dn.r IS NULL THEN 0
                       ELSE 1000000 // (60 + dn.r) END AS BIGINT) AS rrf_ppm
      FROM bm FULL JOIN dn USING (doc_id)
    )
    SELECT doc_id, n_lists, rrf_ppm,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_ppm DESC, doc_id) AS BIGINT)
             AS rank
    FROM f ORDER BY rrf_ppm DESC, doc_id LIMIT 10
    """


@query("docs_hybrid_rrf", oracle=_duck_hybrid_rrf_oracle())
def docs_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion
    (``relational.rrf_fuse``): the BM25 keyword top-20 (same 3-term
    query as ``docs_bm25_topk``) fused with the dense cosine top-20
    for the doc-0 embedding — score = Σ 1/(60 + rank), the standard
    combiner for incomparable score scales.  Contributions are exact
    integer ppm, so the fusion is value-exact end to end (both input
    rankings carry full tie-breaks).  The fused frame is ≤40 rows; the
    final top-10 is a TakeOrdered over it."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    bm = textops.bm25_topk(
        docs, "doc_id", "text", list(_BM25_TERMS), topk=20
    ).withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("bm25_score"), F.asc("doc_id"))),
    ).select("doc_id", "rank")
    dn = similarity.cosine_topk(
        emb, emb.where(F.col("vec_id") == 0), k=20
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return relational.rrf_fuse([bm, dn], "doc_id", k0=60, topk=10)


@query(
    "docs_length_midspread",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, lang, CAST({P.token_count('text', DUCK)} AS BIGINT) AS ntok
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, ntok,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY ntok ASC, doc_id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM sized
    )
    SELECT doc_id, lang, ntok FROM ranked
    WHERE rk * 4 >= n AND rk * 4 <= 3 * n
    """,
)
def docs_length_midspread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language interquartile length filter: keep documents whose
    token-count RANK sits in [n/4, 3n/4] of their language — the
    outlier-trim a curation pass applies per group (too-short and
    too-long tails dropped).  Rank inequalities ``rk*4 >= n`` /
    ``rk*4 <= 3n`` are pure integer comparisons — exact per-group
    quantile cuts with no float percentile on either engine.

    Ranks via ``relational.grouped_rank_exact`` (histogram + in-bucket
    tie rank keyed on (lang, ntok)) — never a per-language single-task
    sort; the oracle keeps the naive window form."""
    docs = textops.with_token_counts(load(spark, sf_dir, "documents"), "text")
    # tokenize ONCE: the rank plan fans into histogram + main branches
    sized = docs.select(
        "doc_id", "lang", F.col("ws_tokens").cast("long").alias("ntok")
    ).transform(ckpt_lazy)
    ranked = relational.grouped_rank_exact(
        sized, "lang", "ntok", "doc_id", out_rank="rk", out_n="n",
        tie_bucket_expr=F.expr("doc_id div 1048576"),  # tie-mass split
    )
    return ranked.where(
        (F.col("rk") * 4 >= F.col("n")) & (F.col("rk") * 4 <= 3 * F.col("n"))
    ).select("doc_id", "lang", "ntok")


@query(
    "dedup_simhash60_near_pairs",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {P.simhash60_from_hashes('th', DUCK)} AS simhash
      FROM (SELECT doc_id, {P.hash_array(P.tokens('text', DUCK), DUCK)} AS th
            FROM documents)
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash60_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-fingerprint SimHash near-dup pairs: 60-bit fingerprints,
    Hamming ≤ 3 via 4 × 15-bit pigeonhole bands — the CORPUS-SCALE
    variant of ``dedup_simhash_near_pairs``.  Width is the scale knob:
    banding buckets by chunk value, and 15-bit chunks give 32768 keys
    per band (occupancy n/32768) where the 32-bit fingerprint's 8-bit
    chunks give 256 — the difference between a workable candidate
    volume and a quadratic blowup on a billion-document corpus.  Same
    recall-1.0 pigeonhole guarantee; the oracle is the plain quadratic
    Hamming filter, feasible only at gate scale."""
    return dedup.simhash_near_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        max_hamming=3, bands=4, fp_bits=60,
    )


def _duck_curation_v2_oracle() -> str:
    tokens = P.tokens("text", DUCK)
    quality = P.quality_score_ppm_from_tokens("text", "toks", DUCK)
    token_hashes = P.hash_array(P.tokens("text", DUCK), DUCK)
    grams = P.token_hash_ngrams_all("th", 5, DUCK)
    return f"""
    WITH scored AS (
      SELECT doc_id, lang, source, {quality} AS quality_ppm,
             CAST({P.token_count('text', DUCK)} AS BIGINT) AS ntok
      FROM (SELECT doc_id, lang, source, text, {tokens} AS toks FROM documents)
    ),
    src_stats AS (
      SELECT source, CAST({P.int_div('SUM(quality_ppm)', 'COUNT(*)', DUCK)}
               AS BIGINT) AS source_mean_ppm
      FROM scored GROUP BY source
    ),
    stage1 AS (
      SELECT d.doc_id, d.lang, d.source, d.text
      FROM documents d JOIN src_stats s USING (source)
      WHERE s.source_mean_ppm >= 645000
    ),
    th AS (SELECT doc_id, {token_hashes} AS th FROM stage1),
    g AS (SELECT doc_id, {grams} AS garr FROM th),
    pos AS (SELECT doc_id, unnest(garr) AS sh,
                   unnest(range(1, len(garr) + 1)) AS pos FROM g),
    dup AS (SELECT sh FROM pos GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
    hits AS (SELECT p.doc_id, p.pos FROM pos p JOIN dup d USING (sh)),
    w AS (SELECT doc_id, pos,
                 lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM hits),
    span AS (
      SELECT doc_id,
             SUM(CASE WHEN prev IS NULL THEN 5 ELSE LEAST(pos - prev, 5) END)
               AS dup_tokens
      FROM w GROUP BY doc_id
    ),
    stage2 AS (
      SELECT s1.doc_id, s1.lang, s1.source, sc.ntok
      FROM stage1 s1
      JOIN scored sc USING (doc_id)
      LEFT JOIN span sp ON sp.doc_id = s1.doc_id
      WHERE COALESCE(sp.dup_tokens * 1000000 // sc.ntok, 0) < 500000
    ),
    ranked AS (
      SELECT doc_id, lang, source, ntok,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY ntok ASC, doc_id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM stage2
    )
    SELECT doc_id, lang, source, ntok FROM ranked
    WHERE rk * 4 >= n AND rk * 4 <= 3 * n
    """


@query("pipeline_curation_v2", oracle=_duck_curation_v2_oracle())
def pipeline_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline composing this round's operators,
    value-exact against one composed DuckDB oracle:

    1. source-reputation cut (keep docs whose SOURCE mean quality ≥
       0.645 — broadcast of the tiny per-source aggregate);
    2. exact-substring trim on the FILTERED corpus (drop docs that are
       ≥50% covered by 5-token spans shared with other survivors);
    3. per-language interquartile length trim (integer rank cuts).

    Stage order is part of the contract — the span profile and the
    quantile ranks are computed over each stage's survivor population,
    exactly as the oracle's CTE chain does.  Stage 3's ranks come from
    the histogram plan (``relational.grouped_rank_exact``) — same
    departitioning as ``docs_length_midspread``; the oracle keeps the
    window form."""
    docs = load(spark, sf_dir, "documents")
    stage1 = textops.source_quality_filter(
        docs, "text", "source", min_mean_ppm=645_000
    )
    prof = dedup.repeated_span_profile(stage1, "doc_id", "text", n=5, min_docs=2)
    stage2 = (
        stage1.join(prof.select("doc_id", "dup_ppm"), on="doc_id", how="left")
        .where(F.coalesce(F.col("dup_ppm"), F.lit(0)) < 500_000)
    )
    sized = textops.with_token_counts(stage2, "text").select(
        "doc_id", "lang", "source", F.col("ws_tokens").cast("long").alias("ntok")
    ).transform(ckpt_lazy)  # rank plan fans into histogram + main
    ranked = relational.grouped_rank_exact(
        sized, "lang", "ntok", "doc_id", out_rank="rk", out_n="n",
        tie_bucket_expr=F.expr("doc_id div 1048576"),  # tie-mass split
    )
    return ranked.where(
        (F.col("rk") * 4 >= F.col("n")) & (F.col("rk") * 4 <= 3 * F.col("n"))
    ).select("doc_id", "lang", "source", "ntok")


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH hs AS (
      SELECT doc_id, list_distinct(sh) AS hs
      FROM (SELECT doc_id, {P.token_hash_ngrams('th', 3, DUCK)} AS sh
            FROM (SELECT doc_id, {P.hash_array(P.tokens('text', DUCK), DUCK)} AS th
                  FROM documents))
    ),
    e AS (SELECT doc_id, len(hs) AS sz, unnest(hs) AS h FROM hs),
    inter AS (
      SELECT a.doc_id AS ida, b.doc_id AS idb,
             a.sz AS sza, b.sz AS szb, COUNT(*) AS i
      FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT ida AS doc_id_a, idb AS doc_id_b,
           i * 1000000 // sza AS a_in_b_ppm,
           i * 1000000 // szb AS b_in_a_ppm
    FROM inter
    WHERE GREATEST(i * 1000000 // sza, i * 1000000 // szb) >= 800000
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric set-containment pairs at ≥0.8 (integer ppm over
    distinct 3-gram shingle hashes) — the subset-duplication detector
    symmetric Jaccard misses: a short document quoted verbatim inside a
    much longer one has containment ≈ 1 but Jaccard ≈ small/large ≈ 0.
    Inverted-index equi-join (candidates lossless at any positive
    threshold), exact integer intersection counts."""
    return dedup.containment_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, min_containment_ppm=800_000,
    )


def _duck_pq_oracle(m: int = 4, dim: int = 64, ks: int = 16, k: int = 5) -> str:
    sub = dim // m

    def block_dot(a: str, b: str, blk: int) -> str:
        sa = P.array_slice(P.cast_double_array(a, DUCK), blk * sub + 1, sub, DUCK)
        sb = P.array_slice(P.cast_double_array(b, DUCK), blk * sub + 1, sub, DUCK)
        return P.dot(sa, sb, DUCK)

    def case_dot(a: str, b: str) -> str:
        arms = " ".join(
            f"WHEN {blk} THEN {block_dot(a, b, blk)}" for blk in range(m)
        )
        return f"CASE b.b {arms} END"

    blocks_values = ", ".join(f"({blk})" for blk in range(m))
    p_cols = ", ".join(
        f"SUM(CASE WHEN qt.b = {blk} THEN qt.pdot END) AS p{blk}"
        for blk in range(m)
    )
    fixed_sum = "p0"
    for blk in range(1, m):
        fixed_sum = f"({fixed_sum} + p{blk})"
    return f"""
    WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
                   WHERE vec_id < {ks}),
    blocks(b) AS (VALUES {blocks_values}),
    enc AS (
      SELECT e.vec_id, b.b, c.cid, {case_dot('e.embedding', 'c.cvec')} AS d
      FROM embeddings e CROSS JOIN cents c CROSS JOIN blocks b
    ),
    codes AS (
      SELECT vec_id, b, cid AS code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, b
                                     ORDER BY d DESC, cid ASC) AS rn
        FROM enc) t WHERE rn = 1
    ),
    qt AS (
      SELECT q.vec_id AS query_id, b.b, c.cid,
             {case_dot('q.embedding', 'c.cvec')} AS pdot
      FROM embeddings q CROSS JOIN cents c CROSS JOIN blocks b
      WHERE q.vec_id < 10
    ),
    adc AS (
      SELECT qt.query_id, codes.vec_id AS neighbor_id, {p_cols}
      FROM codes JOIN qt ON qt.b = codes.b AND qt.cid = codes.code
      WHERE codes.vec_id <> qt.query_id
      GROUP BY qt.query_id, codes.vec_id
    )
    SELECT query_id, neighbor_id, approx_ip, rank FROM (
      SELECT query_id, neighbor_id, {fixed_sum} AS approx_ip,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY {fixed_sum} DESC, neighbor_id ASC) AS rank
      FROM adc) r
    WHERE rank <= {k}
    """


@query("ann_topk_pq", oracle=_duck_pq_oracle())
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k: corpus encoded to m=4 sub-block
    codes against a 16-entry deterministic codebook (256 bytes/vector →
    4 small ints — the memory lever for billion-vector search); queries
    build one tiny lookup table of exact sub-block inner products and
    each corpus vector scores as the fixed-order sum of the entries its
    codes select.  Search never reads the original corpus vectors.
    Codebook k-means is an offline job at scale; the fixed id-prefix
    codebook keeps the whole pipeline engine-exact."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        emb.where(F.col("vec_id") < 16),
    )


@query(
    "events_value_mad_outliers",
    oracle="""
    WITH ranked AS (
      SELECT event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value ASC, event_id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    med AS (
      SELECT event_type, value AS med FROM ranked
      WHERE rk = CAST(FLOOR((n + 1) / 2) AS BIGINT)
    ),
    dev AS (
      SELECT r.event_id, r.event_type, r.value, m.med,
             ABS(r.value - m.med) AS adev
      FROM ranked r JOIN med m USING (event_type)
    ),
    dev_ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY adev ASC, event_id ASC) AS drk,
             COUNT(*) OVER (PARTITION BY event_type) AS dn
      FROM dev
    ),
    mad AS (
      SELECT event_type, adev AS mad FROM dev_ranked
      WHERE drk = CAST(FLOOR((dn + 1) / 2) AS BIGINT)
    )
    SELECT d.event_id, d.event_type, d.value, d.med, q.mad
    FROM dev d JOIN mad q USING (event_type)
    WHERE d.adev > 3 * q.mad
    """,
)
def events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outliers per event type: both medians
    picked as ELEMENTS (engine-exact, no float percentile) via the
    histogram LOCATE-then-sort plan (`relational.exact_group_quantiles`)
    — type-1 rank ceil(n/2) equals the oracle's (n+1) div 2 element for
    every n, and the located bucket is the only data ever sorted.  The
    former formulation ranked EVERY row twice (two full
    grouped_rank_exact passes) just to keep one row per group; locating
    the median's bucket does a fraction of that work at any scale.  The
    tiny per-type median frames broadcast back; the oracle keeps the
    window form."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    med = relational.exact_group_quantiles(
        ev, "event_type", "value", quantiles=(0.5,)
    ).select("event_type", F.col("q_50").alias("med"))
    med = med.transform(ckpt_lazy)  # one row/type: pin so the
    # locate subplan runs once, not once per downstream reuse of dev
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = relational.exact_group_quantiles(
        dev, "event_type", "adev", quantiles=(0.5,)
    ).select("event_type", F.col("q_50").alias("mad"))
    mad = mad.transform(ckpt_lazy)
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(F.col("adev") > 3 * F.col("mad"))
        .select("event_id", "event_type", "value", "med", "mad")
    )
# MAD outlier notes: lower-median by rank (never the even-count average
# — picking an ELEMENT is engine-exact where averaging two doubles
# invites ulp drift; rank ceil(n/2) == (n+1) div 2 for odd AND even n),
# and the comparison multiplies exact doubles — the robust-statistics
# complement of the z-score outliers query (means/stddevs are dragged
# by the very outliers they're meant to find; medians aren't).


@query(
    "events_hourly_gapfill_lerp",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    spans AS (SELECT event_type, MIN(h) AS lo, MAX(h) AS hi
              FROM hourly GROUP BY 1),
    grid AS (
      SELECT s.event_type,
             unnest(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS h
      FROM spans s
    ),
    j AS (
      SELECT g.event_type, g.h, hr.n
      FROM grid g LEFT JOIN hourly hr USING (event_type, h)
    ),
    marked AS (
      SELECT *,
        last_value(CAST(n AS DOUBLE) IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN n IS NOT NULL THEN h END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        first_value(CAST(n AS DOUBLE) IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN n IS NOT NULL THEN h END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM j
    )
    SELECT event_type, h,
           CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
                WHEN pv IS NOT NULL AND nv IS NOT NULL
                THEN pv + (nv - pv) *
                     (CAST(epoch(h) - epoch(pt) AS DOUBLE) /
                      CAST(epoch(nt) - epoch(pt) AS DOUBLE))
                WHEN pv IS NOT NULL THEN pv ELSE nv END AS filled,
           n IS NULL AS is_interpolated
    FROM marked
    """,
)
def events_hourly_gapfill_lerp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: hourly event counts per type put on a
    gapless hourly grid, missing hours LINEARLY INTERPOLATED between
    the nearest observed hours (edges extend flat) — the resample step
    a monitoring/feature pipeline needs before window math assumes
    evenly-spaced points.  The interpolation expression is fixed-order
    IEEE arithmetic over integer epoch seconds, so both engines produce
    bit-identical doubles even where the division is inexact."""
    events = load(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    return relational.gapfill_interpolate(
        hourly, ts_col="h", group_cols=["event_type"], value_col="n",
        step_seconds=3600,
    )


def _duck_ivfpq_oracle(
    m: int = 4, dim: int = 64, ks: int = 16, nprobe: int = 2, k: int = 5
) -> str:
    sub = dim // m

    def cast(c: str) -> str:
        return P.cast_double_array(c, DUCK)

    def block_dot(a: str, b: str, blk: int) -> str:
        sa = P.array_slice(cast(a), blk * sub + 1, sub, DUCK)
        sb = P.array_slice(cast(b), blk * sub + 1, sub, DUCK)
        return P.dot(sa, sb, DUCK)

    def case_dot(a: str, b: str) -> str:
        arms = " ".join(f"WHEN {blk} THEN {block_dot(a, b, blk)}" for blk in range(m))
        return f"CASE b.b {arms} END"

    blocks_values = ", ".join(f"({blk})" for blk in range(m))
    p_cols = ", ".join(
        f"SUM(CASE WHEN qt.b = {blk} THEN qt.pdot END) AS p{blk}" for blk in range(m)
    )
    fixed = "b0"
    for blk in range(m):
        fixed = f"({fixed} + p{blk})"
    return f"""
    WITH cc AS (SELECT vec_id AS cell, embedding AS ccvec FROM embeddings
                WHERE vec_id % 50 = 0),
    cb AS (SELECT vec_id AS cid, embedding AS cbvec FROM embeddings
           WHERE vec_id < {ks}),
    blocks(b) AS (VALUES {blocks_values}),
    asn AS (
      SELECT vec_id, cell, rvec FROM (
        SELECT e.vec_id, c.cell,
               {P.array_sub(cast('e.embedding'), cast('c.ccvec'), DUCK)} AS rvec,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {P.dot(cast('e.embedding'), cast('c.ccvec'), DUCK)} DESC,
                          c.cell ASC) AS rn
        FROM embeddings e CROSS JOIN cc c) t WHERE rn = 1
    ),
    enc AS (
      SELECT a.vec_id, b.b, kk.cid, {case_dot('a.rvec', 'kk.cbvec')} AS d
      FROM asn a CROSS JOIN cb kk CROSS JOIN blocks b
    ),
    codes AS (
      SELECT vec_id, b, cid AS code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, b
                                     ORDER BY d DESC, cid ASC) AS rn
        FROM enc) t WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, cell, base, qres FROM (
        SELECT q.vec_id AS query_id, c.cell,
               {P.dot(cast('q.embedding'), cast('c.ccvec'), DUCK)} AS base,
               {P.array_sub(cast('q.embedding'), cast('c.ccvec'), DUCK)} AS qres,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {P.dot(cast('q.embedding'), cast('c.ccvec'), DUCK)} DESC,
                          c.cell ASC) AS rn
        FROM embeddings q CROSS JOIN cc c WHERE q.vec_id < 10) t
      WHERE rn <= {nprobe}
    ),
    qt AS (
      SELECT p.query_id, p.cell, p.base, kk.cid, b.b,
             {case_dot('p.qres', 'kk.cbvec')} AS pdot
      FROM probes p CROSS JOIN cb kk CROSS JOIN blocks b
    ),
    adc AS (
      SELECT qt.query_id, codes.vec_id AS neighbor_id,
             MIN(qt.base) AS b0, {p_cols}
      FROM codes
      JOIN asn cm ON cm.vec_id = codes.vec_id
      JOIN qt ON qt.cell = cm.cell AND qt.b = codes.b AND qt.cid = codes.code
      WHERE codes.vec_id <> qt.query_id
      GROUP BY qt.query_id, codes.vec_id
    )
    SELECT query_id, neighbor_id, approx_ip, rank FROM (
      SELECT query_id, neighbor_id, {fixed} AS approx_ip,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY {fixed} DESC, neighbor_id ASC) AS rank
      FROM adc) r
    WHERE rank <= {k}
    """


@query("ann_topk_ivfpq", oracle=_duck_ivfpq_oracle())
def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the composed billion-vector architecture — coarse cells
    route each query to its 2 best inverted lists, and within a list
    vectors are PQ codes of their RESIDUAL scored by asymmetric
    distance.  Search touches only the (id, cell, codes) rows of the
    probed cells: the memory lever (codes, not vectors) and the compute
    lever (nprobe/n_cells of the corpus) at once.  Deterministic
    id-derived centroids/codebook keep the whole pipeline engine-exact
    (k-means training is an offline job at scale)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        coarse=emb.where("vec_id % 50 = 0"),
        codebook=emb.where(F.col("vec_id") < 16),
        nprobe=2,
    )


shared_sql(
    "orders_priciest_line_lateral",
    """
    SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
    FROM orders o, LATERAL (
      SELECT l_linenumber, l_extendedprice FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
      ORDER BY l_extendedprice DESC, l_linenumber ASC LIMIT 1
    ) t
    WHERE o.o_totalprice > 400000
    """,
    ("orders", "lineitem"),
)
# LATERAL notes: the correlated per-order top-1 subquery — Catalyst
# decorrelates it into a join + per-key window rather than executing it
# per row, so the lateral FORM costs what the window formulation costs;
# deterministic via the (price DESC, linenumber ASC) total order.


@query(
    "dedup_nearest_neighbor",
    oracle=f"""
    WITH pairs AS ({_duck_minhash_pairs_oracle()}),
    sym AS (
      SELECT doc_id_a AS doc_id, doc_id_b AS neighbor_id, jaccard FROM pairs
      UNION ALL
      SELECT doc_id_b AS doc_id, doc_id_a AS neighbor_id, jaccard FROM pairs
    )
    SELECT doc_id, neighbor_id, jaccard FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY jaccard DESC, neighbor_id ASC) AS rn
      FROM sym) t WHERE rn = 1
    """,
)
def dedup_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document nearest near-duplicate: for every document with at
    least one LSH-confirmed near-dup, its single most-similar partner —
    the per-item report a dedup REVIEW surface wants (which doc is this
    a copy of, and how close?), where the pairs query answers the
    corpus-level question.  Symmetrize the pair list (each pair serves
    both endpoints), then a per-doc top-1 window; candidate volume and
    shuffles are those of the underlying banded LSH join."""
    from pyspark.sql import Window as W

    # both union branches of the symmetrization read the pair pipeline
    pairs = dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, k=16, bands=4, threshold=0.3,
    ).transform(ckpt_lazy)
    sym = pairs.select(
        F.col("doc_id_a").alias("doc_id"),
        F.col("doc_id_b").alias("neighbor_id"),
        "jaccard",
    ).unionAll(
        pairs.select(
            F.col("doc_id_b").alias("doc_id"),
            F.col("doc_id_a").alias("neighbor_id"),
            "jaccard",
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("jaccard"), F.asc("neighbor_id"))
    return (
        sym.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "neighbor_id", "jaccard")
    )


def _duck_semantic_assign(modulus: int = 50) -> str:
    """Shared assignment CTE text: IVF cell per vector, centroids =
    ``vec_id % modulus = 0`` (deterministic, engine-independent)."""
    return f"""
    centroids AS (SELECT vec_id AS centroid_id, embedding AS cvec
                  FROM embeddings WHERE vec_id % {modulus} = 0),
    assign AS (
      SELECT vec_id, embedding, label, centroid_id FROM (
        SELECT e.vec_id, e.embedding, e.label, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_duck_cosine('e.embedding', 'c.cvec')} DESC, c.centroid_id ASC
               ) AS rn
        FROM embeddings e CROSS JOIN centroids c
      ) WHERE rn = 1
    )"""


@query(
    "dedup_semantic_pairs",
    oracle=f"""
    WITH {_duck_semantic_assign()}
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, a.centroid_id,
           {_duck_cosine('a.embedding', 'b.embedding')} AS cosine
    FROM assign a JOIN assign b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    WHERE {_duck_cosine('a.embedding', 'b.embedding')} >= 0.4
    """,
)
def dedup_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (arXiv:2303.09540):
    cluster the embedding space (IVF assignment, centroids broadcast),
    then near-dup search ONLY within a cluster — candidate volume drops
    from |corpus|² to Σ|cell|², the shape that makes embedding-level
    dedup feasible at billions of documents.  Cell-bucketed self-join,
    no all-pairs; the oracle replays the identical assignment."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup_pairs(
        emb, emb.where(F.col("vec_id") % 50 == 0), threshold=0.4
    )


@query(
    "dedup_semantic_survivors",
    oracle=f"""
    WITH {_duck_semantic_assign()},
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {_duck_cosine('a.embedding', 'b.embedding')} >= 0.4
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def dedup_semantic_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-set: min-id survivor per within-cell near-dup
    group (same deterministic rule as the MinHash survivor pass) — one
    anti-join against the distinct dropped-id set."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup_survivors(
        emb, emb.where(F.col("vec_id") % 50 == 0), threshold=0.4
    ).select("vec_id", "label")


@query(
    "customer_upsert_merge",
    oracle="""
    WITH upd AS (
      SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal,
             'UPDATED' AS c_mktsegment
      FROM customer WHERE c_custkey % 10 = 3
      UNION ALL
      SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal,
             'INSERTED' AS c_mktsegment
      FROM customer WHERE c_custkey % 100 = 7
    )
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM upd
    """,
)
def customer_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (SCD1 upsert) emulation: a deterministic update batch
    derived from the customer table itself — every ``% 10 = 3`` key gets
    a balance bump + segment overwrite (WHEN MATCHED), every ``% 100 =
    7`` key re-enters under a fresh key (WHEN NOT MATCHED INSERT).  One
    anti-join + union (``operators/scd.py:merge_upsert``); complements
    the SCD2 history merge of ``customer_segment_scd2``."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    updates = cust.where(F.col("c_custkey") % 10 == 3).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    ).unionByName(
        cust.where(F.col("c_custkey") % 100 == 7).select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            "c_name",
            "c_acctbal",
            F.lit("INSERTED").alias("c_mktsegment"),
        )
    )
    from .operators.scd import merge_upsert

    return merge_upsert(cust, updates, key="c_custkey")


@query(
    "docs_seeded_shuffle",
    oracle="""
    SELECT doc_id,
           md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
           ROW_NUMBER() OVER (
             ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS shuffle_pos
    FROM documents
    """,
)
def docs_seeded_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic corpus shuffle (epoch ordering for training
    runs): md5(seed:id) shuffle key + exact global position.  The
    position comes from the two-phase distributed prefix sum over 65536
    contiguous key-prefix buckets — no single-partition window
    (``operators/sampling.py:seeded_shuffle``); a new seed is a new
    permutation, the same seed reproduces bit-identically anywhere."""
    return sampling.seeded_shuffle(
        load(spark, sf_dir, "documents"), "doc_id", seed="epoch0"
    ).select("doc_id", "shuffle_key", "shuffle_pos")


def _duck_temperature_mixture_oracle(budget: int) -> str:
    isq = "CAST(floor(sqrt(supply_tokens)) AS BIGINT)"
    corr = (
        f"(({isq}) - CAST(({isq}) * ({isq}) > supply_tokens AS BIGINT)"
        f" + CAST((({isq}) + 1) * (({isq}) + 1) <= supply_tokens AS BIGINT))"
    )
    return f"""
    WITH sup AS (
      SELECT source,
             CAST(SUM({P.size(P.tokens('text', DUCK), DUCK)}) AS BIGINT)
               AS supply_tokens
      FROM documents GROUP BY source
    ),
    w AS (SELECT source, supply_tokens, {corr} AS weight FROM sup),
    tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw FROM w)
    SELECT source, supply_tokens, CAST(weight AS BIGINT) AS weight,
           CAST(weight * 1000000 // tw AS BIGINT) AS weight_ppm,
           CAST(weight * {budget} // tw AS BIGINT) AS allocated_tokens,
           CAST(CASE WHEN supply_tokens = 0 THEN 0 ELSE
             weight * {budget} // tw * 1000000 // supply_tokens END AS BIGINT)
             AS epochs_ppm
    FROM w, tot
    """


@query(
    "docs_temperature_mixture",
    oracle=_duck_temperature_mixture_oracle(1_000_000),
)
def docs_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-τ=0.5 per-source mixture plan
    (``sampling.temperature_mixture``): the standard multilingual /
    multi-domain pretraining reweighting — sampling weight ∝
    isqrt(token supply), which up-weights low-resource sources vs
    proportional sampling.  τ=1/2 has an exact integer form (float-
    sqrt + two-sided perfect-square correction, identical in both
    engines), so mixture shares, per-source token allocations against
    the budget, and the up-sampling factor (``epochs_ppm`` > 1e6 means
    the source repeats) are all value-exact.  One map-side-combined
    aggregate to #sources rows; arithmetic after that."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.expr(P.size(P.tokens("text", SPARK), SPARK)).cast("long").alias("_tok"),
    )
    return sampling.temperature_mixture(
        tok, group_col="source", token_col="_tok", budget_tokens=1_000_000
    )


@query(
    "docs_domain_mix",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             CAST({P.size(P.tokens('text', DUCK), DUCK)} AS BIGINT) AS ws_tokens
      FROM documents WHERE source IN ('src0', 'src1', 'src2')
    ),
    wts AS (SELECT * FROM (VALUES ('src0', 500), ('src1', 300), ('src2', 200))
            AS t(source, w)),
    tot AS (SELECT source, SUM(ws_tokens) AS t FROM tok GROUP BY source),
    feas AS (SELECT MIN(t * 1000 // w) AS b FROM tot JOIN wts USING (source)),
    bud AS (SELECT source, w * (SELECT b FROM feas) // 1000 AS bt FROM wts),
    cum AS (SELECT doc_id, source, ws_tokens,
                   SUM(ws_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS c
            FROM tok)
    SELECT doc_id, source, ws_tokens
    FROM cum JOIN bud USING (source) WHERE c <= bt
    """,
)
def docs_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction: pick the LARGEST corpus matching
    50/30/20 domain weights exactly with no upsampling — feasible total
    ``B = min_s (supply_s * ΣW) // w_s``, each domain fills its share
    ``w_s*B // ΣW`` greedily in id order (exact integer math, engine-
    independent kept set).  Per-domain running sums use the GROUPED
    two-phase prefix sum (``operators/sampling.py``): no domain ever
    occupies a single partition, which a plain ``PARTITION BY source``
    window would force at 100 TB."""
    docs = textops.with_token_counts(load(spark, sf_dir, "documents"), "text")
    return sampling.domain_mix_budget(
        docs.select("doc_id", "source", "ws_tokens"),
        group_col="source",
        id_col="doc_id",
        token_col="ws_tokens",
        weights={"src0": 500, "src1": 300, "src2": 200},
    ).select("doc_id", "source", "ws_tokens")


@query(
    "docs_gopher_filter",
    oracle=f"""
    SELECT doc_id,
           CAST({P.size('toks', DUCK)} AS BIGINT) AS n_words,
           {P.mean_token_len_ppm('toks', DUCK)} AS mean_word_len_ppm,
           {P.symbol_token_ppm('text', 'toks', DUCK)} AS symbol_ppm,
           {P.bullet_line_ppm('text', DUCK)} AS bullet_ppm,
           {P.ellipsis_line_ppm('text', DUCK)} AS ellipsis_ppm,
           {P.alpha_token_ppm('toks', DUCK)} AS alpha_word_ppm,
           CAST({P.stopword_hits_from_tokens('toks', 'en', DUCK)} AS BIGINT)
             AS stop_hits,
           {P.gopher_pass('text', 'toks', DUCK)} AS gopher_pass
    FROM (SELECT doc_id, text, {P.tokens('text', DUCK)} AS toks FROM documents)
    """,
)
def docs_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality profile (Rae et al., arXiv:2112.11446 App.
    A1.1): word-count bounds, mean word length, symbol-to-word ratio,
    bullet/ellipsis line fractions, alphabetic-word fraction, stopword
    presence — each as exact integer ppm plus the composed pass/fail.
    One tokenization, one scan, no shuffle
    (``operators/text.py:with_gopher_flags``)."""
    return textops.with_gopher_flags(
        load(spark, sf_dir, "documents"), "text"
    ).select(
        "doc_id", "n_words", "mean_word_len_ppm", "symbol_ppm", "bullet_ppm",
        "ellipsis_ppm", "alpha_word_ppm", "stop_hits", "gopher_pass",
    )


shared_sql(
    "events_trailing_7d",
    """
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(27,2))) OVER (
                  PARTITION BY user_id ORDER BY ts
                  RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS sum_7d,
           COUNT(*) OVER (
                  PARTITION BY user_id ORDER BY ts
                  RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
             AS n_7d
    FROM events
    """,
    needs=("events",),
)
# trailing-window notes: RANGE (value-based) frames are deterministic
# under ties where ROWS frames are not — same-timestamp events always
# share a frame, so no order-dependence; the decimal cast keeps the
# running double sum exact (see ``dsum``).  One hash shuffle on user_id.


@query("events_heavy_users_approx")  # sketch: no oracle by design
def events_heavy_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via Spark 4's ``approx_top_k`` sketch (space-saving
    style, mergeable partial state — ONE pass, map-side combined, no
    full groupBy materialization at 100 TB).  Approximate by design →
    rows-only check; the exact twin ``events_heavy_users_exact`` is the
    oracle-verified counterpart."""
    _ensure_session_defaults(spark)
    load(spark, sf_dir, "events").createOrReplaceTempView("_hh_events")
    return spark.sql(
        """
        SELECT t.item AS user_id, t.count AS n_events
        FROM (SELECT explode(approx_top_k(user_id, 10)) AS t
              FROM _hh_events)
        """
    )


shared_sql(
    "events_heavy_users_exact",
    """
    SELECT user_id, COUNT(*) AS n_events
    FROM events GROUP BY user_id
    ORDER BY n_events DESC, user_id ASC LIMIT 10
    """,
    needs=("events",),
)


@query(
    "docs_chunk_sequences",
    oracle=f"""
    WITH t AS (SELECT doc_id, {P.tokens('text', DUCK)} AS toks FROM documents),
    c AS (SELECT doc_id, toks,
                 CASE WHEN len(toks) <= 32 THEN 1
                      ELSE 1 + (len(toks) - 32 + 23) // 24 END AS nc
          FROM t)
    SELECT doc_id, k AS chunk_idx,
           array_to_string(list_slice(toks, 1 + k * 24, k * 24 + 32), ' ')
             AS chunk_text,
           CAST(len(list_slice(toks, 1 + k * 24, k * 24 + 32)) AS BIGINT)
             AS n_tokens
    FROM (SELECT doc_id, toks, unnest(range(0, nc)) AS k FROM c)
    """,
)
def docs_chunk_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: every document split into 32-token
    windows advancing by 24 (8-token overlap) — the training-sequence /
    retrieval-indexing preparation step.  Exact integer chunk counts,
    one tokenization, explode fan-out with NO shuffle
    (``operators/text.py:chunk_documents``)."""
    return textops.chunk_documents(
        load(spark, sf_dir, "documents"), "doc_id", "text", chunk=32, step=24
    )


shared_sql(
    "events_funnel_conversion",
    """
    WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_buy
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_buy
    """,
    needs=("events",),
)
# funnel notes: strictly-ordered view→click→purchase per user via three
# map-side-combined MIN aggregates chained by joins — no per-user
# sequence materialization, no window over the event stream; each stage
# halves (or better) the carried row set.  Deterministic: MIN(ts) only.


@query(
    "events_top_paths",
    oracle="""
    WITH paths AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             string_agg(event_type, ',' ORDER BY ts, event_id) AS path
      FROM events GROUP BY user_id, CAST(ts AS DATE))
    SELECT path, COUNT(*) AS n_user_days
    FROM paths GROUP BY path
    ORDER BY n_user_days DESC, path ASC LIMIT 20
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: each user-day's exact ordered
    event-type sequence (``operators/relational.py:event_paths`` —
    sorted-struct aggregation, partition-order-independent where a bare
    ``collect_list`` is not), then the 20 most common paths.  Two hash
    shuffles: (user, day) grouping, then path counting with map-side
    combine."""
    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    paths = relational.event_paths(
        ev,
        group_cols=["user_id", "day"],
        order_cols=["ts", "event_id"],
        value_col="event_type",
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_user_days"))
        .orderBy(F.desc("n_user_days"), F.asc("path"))
        .limit(20)
    )


@query(
    "docs_quality_sql_udf",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(q) AS BIGINT) AS total_quality_ppm
    FROM (SELECT lang, {P.quality_score_ppm('text', DUCK)} AS q FROM documents)
    GROUP BY lang
    """,
)
def docs_quality_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL UDF surface: the quality score packaged as ``CREATE
    TEMPORARY FUNCTION ... RETURNS BIGINT RETURN <expr>`` — a DECLARED
    function Catalyst inlines into the plan (whole-stage codegen, no
    Python worker), i.e. the reusable-function story without the UDF
    serialization tax.  Same expression text as the operator library,
    so results stay oracle-exact."""
    _ensure_session_defaults(spark)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION ayeaye_quality_ppm(s STRING) "
        f"RETURNS BIGINT RETURN {P.quality_score_ppm('s', SPARK)}"
    )
    load(spark, sf_dir, "documents").createOrReplaceTempView("_sqludf_docs")
    return spark.sql(
        """
        SELECT lang, COUNT(*) AS n_docs,
               SUM(ayeaye_quality_ppm(text)) AS total_quality_ppm
        FROM _sqludf_docs GROUP BY lang
        """
    )


# NOTE (round 13, VERDICT r12 item 7): an earlier duplicate
# ``ann_ivf_recall`` definition lived here and was silently shadowed by
# the registration near the end of this module (same Spark body, older
# composed oracle) — both QUERIES[...] and ORACLES[...] always held the
# later one, so deleting the shadowed copy changes nothing observable.


@query(
    "events_interarrival_stats",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts)
               - LAG(epoch_us(ts))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events)
    SELECT user_id,
           COUNT(gap_us) AS n_gaps,
           CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
           MIN(gap_us) AS min_gap_us,
           MAX(gap_us) AS max_gap_us
    FROM g GROUP BY user_id
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap profile (bot/burst detection, session
    tuning): lag over the (ts, event_id) total order, aggregated in
    EXACT integer epoch MICROseconds (``unix_micros``/``epoch_us`` —
    second-granularity epoch functions disagree on sub-second rounding
    across engines; microsecond integers never do).  One shuffle on user_id."""
    _ensure_session_defaults(spark)
    load(spark, sf_dir, "events").createOrReplaceTempView("_gap_events")
    return spark.sql(
        """
        WITH g AS (
          SELECT user_id,
                 unix_micros(ts)
                   - LAG(unix_micros(ts))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
          FROM _gap_events)
        SELECT user_id,
               COUNT(gap_us) AS n_gaps,
               SUM(gap_us) AS total_gap_us,
               MIN(gap_us) AS min_gap_us,
               MAX(gap_us) AS max_gap_us
        FROM g GROUP BY user_id
        """
    )


@query(
    "events_deciles_by_type",
    oracle="""
    SELECT event_type, event_id, value,
           NTILE(10) OVER (PARTITION BY event_type
                           ORDER BY value, event_id) AS decile
    FROM events
    """,
)
def events_deciles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row equal-frequency decile per event type (the feature-
    discretization step), WITHOUT the per-type window: ~5 types means 5
    single-task sorts of every event at 100x.  ``relational.with_ntile``
    computes the exact rank on the (type, floor(value)) histogram plan —
    the coarse bucket keeps the histogram small for the continuous value
    while in-bucket ranking restores the (value, id) total order — then
    NTILE's closed form maps (rank, n) to the tile.  Bit-identical to
    the oracle's window; deterministic via the event_id tie-break."""
    ev = load(spark, sf_dir, "events").select("event_type", "event_id", "value")
    return relational.with_ntile(
        ev, "event_type", "value", "event_id",
        n_tiles=10, out_col="decile",
        bucket_expr=F.floor(F.col("value")).cast("long"),
    ).select("event_type", "event_id", "value", "decile")


shared_sql(
    "orders_yoy_growth",
    """
    WITH yearly AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS order_year,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_cents,
             COUNT(*) AS n_orders
      FROM orders GROUP BY EXTRACT(YEAR FROM o_orderdate))
    SELECT order_year, revenue_cents, n_orders,
           revenue_cents - LAG(revenue_cents) OVER (ORDER BY order_year)
             AS yoy_delta_cents,
           CASE WHEN LAG(revenue_cents) OVER (ORDER BY order_year) IS NULL
                THEN NULL
                ELSE (revenue_cents - LAG(revenue_cents) OVER (ORDER BY order_year))
                     * 1000000 / LAG(revenue_cents) OVER (ORDER BY order_year)
           END AS yoy_growth_ppm
    FROM yearly
    """,
    needs=("orders",),
)
# YoY notes: o_totalprice is a DOUBLE holding a 2-decimal value — the
# DECIMAL(18,2) cast (the dsum rule) makes the cents conversion exact
# and engine-identical (bare double*100→BIGINT truncates in Spark but
# rounds in DuckDB); cents are then EXACT BIGINTs, so deltas
# and integer-ppm growth are engine-independent; the lag window runs
# over the tiny per-year aggregate (#years rows), not the orders table.


shared_sql(
    "orders_segment_revenue_share",
    """
    WITH seg AS (
      SELECT c.c_mktsegment,
             CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_cents,
             COUNT(*) AS n_orders
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment)
    SELECT c_mktsegment, revenue_cents, n_orders,
           revenue_cents * 1000000 / SUM(revenue_cents) OVER () AS share_ppm
    FROM seg
    """,
    needs=("orders", "customer"),
)
# ratio-to-report notes: the window-over-aggregate runs on 5 segment
# rows.  `/` on BIGINTs is double division in BOTH engines; the
# numerator is computed as an exact int64 product first, and the same
# two integers convert+divide to the same IEEE double everywhere — so
# the shares compare bit-exactly without a decimal detour.


def _zorder_sql(d: str) -> str:
    """One template, both dialects: quantize each key to 8 bits against
    its max (integer division — exact, locality-preserving), then the
    Morton interleave."""
    xq = P.int_div("l_orderkey * 256", "mo + 1", d)
    yq = P.int_div("l_suppkey * 256", "ms + 1", d)
    key = P.zorder_key2("xq", "yq", 8, d)
    return f"""
    WITH m AS (SELECT MAX(l_orderkey) AS mo, MAX(l_suppkey) AS ms FROM lineitem),
    q AS (SELECT l_orderkey, l_linenumber, l_suppkey,
                 {xq} AS xq, {yq} AS yq
          FROM lineitem CROSS JOIN m)
    SELECT l_orderkey, l_linenumber, l_suppkey, {key} AS zkey FROM q
    """


@query("lineitem_zorder_keys", oracle=_zorder_sql(DUCK))
def lineitem_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys over (l_orderkey, l_suppkey): the
    multi-dimensional clustering key behind OPTIMIZE ZORDER-style data
    skipping — a range-partitioned write on ``zkey`` gives every file a
    tight min/max envelope on BOTH columns, so point/range filters on
    either dimension skip most files on footer stats alone
    (``functions/portable.py:zorder_key2``; layout effect pinned by
    ``test_scale_plans.py::TestZOrderLayout``).  The max-bounds frame is
    one broadcast row; the key itself is pure projection arithmetic."""
    _ensure_session_defaults(spark)
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_zorder_sql(SPARK))


shared_sql(
    "events_kanonymity_audit",
    """
    WITH cells AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             COUNT(DISTINCT user_id) AS k
      FROM events GROUP BY event_type, CAST(ts AS DATE))
    SELECT event_type,
           COUNT(*) AS n_cells,
           MIN(k) AS min_k,
           CAST(SUM(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT) AS cells_below_5
    FROM cells GROUP BY event_type
    """,
    needs=("events",),
)
# k-anonymity notes: the privacy audit before releasing joined/derived
# data — every (quasi-identifier) cell's distinct-subject count, rolled
# up to the re-identification risk summary.  Two map-side-combined
# aggregates; the distinct-count stage shuffles (cell, user) pairs,
# never raw events.


@query(
    "docs_lang_token_totals_arrow",
    oracle=f"""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM({P.size(P.tokens('text', DUCK), DUCK)}) AS BIGINT)
             AS total_tokens
    FROM documents GROUP BY lang
    """,
)
def docs_lang_token_totals_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``applyInArrow`` modality (Arrow-native grouped UDF, no
    pandas conversion): per-language doc/token totals with token counts
    computed JVM-side so only constant-width (lang, count) rows cross
    the Python boundary (``operators/text.py:lang_token_totals_arrow``).
    Exact integers; the built-in groupBy twin is the production path —
    this pins the modality against it."""
    return textops.lang_token_totals_arrow(
        load(spark, sf_dir, "documents"), "text"
    )


@query(
    "orders_table_profile",
    oracle="""
    SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR),
           CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', COUNT(*),
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT o_orderdate),
           CAST(MIN(o_orderdate) AS VARCHAR),
           CAST(MAX(o_orderdate) AS VARCHAR)
    FROM orders
    """,
)
def orders_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-profiling summary (nulls / distincts / min / max
    per column, long format) — the pre/post-load dataset health check
    (``operators/relational.py:table_profile``).  A single aggregate row
    computes every column's stats with map-side combine, then a tiny
    ``stack``; the oracle's per-column UNION reads the table once per
    column — at scale the single-pass shape is the point."""
    return relational.table_profile(
        load(spark, sf_dir, "orders"),
        ["o_custkey", "o_orderstatus", "o_orderdate"],
    )


@query(
    "orders_ship_lag_stats",
    oracle="""
    WITH lag AS (
      SELECT o.o_orderpriority,
             date_diff('day', o.o_orderdate, MIN(l.l_shipdate)) AS lag_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate)
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           MIN(lag_days) AS min_lag,
           MAX(lag_days) AS max_lag,
           CAST(SUM(lag_days) AS BIGINT) AS total_lag_days
    FROM lag GROUP BY o_orderpriority
    """,
)
def orders_ship_lag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-shipment lag per priority class: integer day
    differences (exact on both engines — the dialects differ only in
    argument order, ``datediff(end, start)`` vs ``date_diff('day',
    start, end)``), aggregated with min/max/total so no float mean is
    compared.  One join shuffle on orderkey + two map-side-combined
    aggregates."""
    _ensure_session_defaults(spark)
    register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        WITH lag AS (
          SELECT o.o_orderpriority,
                 datediff(MIN(l.l_shipdate), o.o_orderdate) AS lag_days
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate)
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               MIN(lag_days) AS min_lag,
               MAX(lag_days) AS max_lag,
               SUM(lag_days) AS total_lag_days
        FROM lag GROUP BY o_orderpriority
        """
    )


_EXPECTATION_RULES = {
    "orderkey_not_null": "o_orderkey IS NOT NULL",
    "totalprice_positive": "o_totalprice > 0",
    "orderdate_in_range": "o_orderdate BETWEEN DATE '1992-01-01' AND DATE '1998-12-31'",
    "status_in_domain": "o_orderstatus IN ('O', 'F', 'P')",
}


@query(
    "orders_expectations",
    oracle="\n    UNION ALL\n".join(
        f"""SELECT '{name}' AS rule,
           CAST(SUM(CASE WHEN {pred} THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
    FROM orders"""
        for name, pred in _EXPECTATION_RULES.items()
    ),
)
def orders_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (the assertion layer a
    pipeline runs before trusting a load): row-level predicates →
    violation counts, ALL computed in one aggregate pass over one scan
    (``plans/checks.py:expectation_report``); the oracle's per-rule
    UNION shows the multi-scan shape the operator avoids.  NULL
    predicate results count as violations in both engines (CASE falls
    through identically)."""
    return checks.expectation_report(
        load(spark, sf_dir, "orders"), _EXPECTATION_RULES
    )


@query(
    "customer_merge_diff",
    oracle="""
    WITH upd AS (
      SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal,
             'UPDATED' AS c_mktsegment
      FROM customer WHERE c_custkey % 10 = 3
      UNION ALL
      SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal,
             'INSERTED' AS c_mktsegment
      FROM customer WHERE c_custkey % 100 = 7
    ),
    merged AS (
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
      UNION ALL
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM upd
    )
    SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'added'
                WHEN n.c_custkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type
    FROM customer o FULL OUTER JOIN merged n ON o.c_custkey = n.c_custkey
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
       OR NOT (o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal
               AND o.c_mktsegment IS NOT DISTINCT FROM n.c_mktsegment)
    """,
)
def customer_merge_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style diff between a dimension and its MERGE result
    (``operators/relational.py:table_diff``): one null-safe full outer
    join on the key emits only the churn — here exactly the updated
    (``changed``) and inserted (``added``) keys the upsert batch
    touched, which the test in ``tests/test_operators.py`` pins."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    merged = QUERIES["customer_upsert_merge"](spark, sf_dir)
    return relational.table_diff(
        cust, merged, key="c_custkey",
        compare_cols=["c_acctbal", "c_mktsegment"],
    )


@query(
    "events_user_skew_report",
    oracle="""
    WITH counts AS (
      SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id),
    top AS (SELECT c FROM counts ORDER BY c DESC, user_id ASC LIMIT 10),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
                   MAX(c) AS max_key_rows
            FROM counts),
    tk AS (SELECT CAST(SUM(c) AS BIGINT) AS topk_rows FROM top)
    SELECT n_rows, n_keys, max_key_rows,
           CAST(max_key_rows * 1000000 // n_rows AS BIGINT) AS top1_ppm,
           CAST(topk_rows * 1000000 // n_rows AS BIGINT) AS top10_ppm
    FROM tot CROSS JOIN tk
    """,
)
def events_user_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnosis for the user_id key — the one-row report that
    decides salting / AQE-skew-split / broadcast strategy before a big
    join or agg (``operators/relational.py:skew_report``).  The only
    real shuffle carries one row per distinct key (map-side combine);
    shares are exact integer ppm."""
    return relational.skew_report(
        load(spark, sf_dir, "events"), ["user_id"], top_k=10
    )


@query(
    "docs_udtf_token_positions",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         w -> w <> '') AS ws
      FROM documents WHERE doc_id < 10)
    SELECT doc_id, unnest(ws) AS word,
           CAST(unnest(range(0, len(ws))) AS INT) AS pos
    FROM s
    """,
)
def docs_udtf_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface in the acceptance catalog: the registered
    Arrow-optimized ``split_tokens`` table function applied via LATERAL
    (``functions/udtf_registry.py:SplitTokens``) — one row per token
    with its position.  The built-in posexplode twin is the hot path
    (documented on the class); this pins the UDTF modality's results
    against the oracle on a bounded probe set."""
    from .functions.udtf_registry import register_udtfs

    _ensure_session_defaults(spark)
    register_udtfs(spark)
    load(spark, sf_dir, "documents").where(
        F.col("doc_id") < 10
    ).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, s.word, s.pos "
        "FROM _udtf_docs d, LATERAL split_tokens(d.text) s"
    )


@query(
    "events_incremental_daily_value",
    # the oracle is the FULL recompute — the merged incremental result
    # must equal it exactly, which is the operator's contract
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY CAST(ts AS DATE)
    """,
)
def events_incremental_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance
    (``operators/relational.py:incremental_agg_merge``): the daily
    rollup is split at a cutoff into a 'persisted' aggregate and a
    late-arriving batch, then the batch's partial aggregate folds in
    WITHOUT rescanning history.  The oracle is the full recompute —
    exact equality (decimal sums) IS the operator's contract."""
    ev = load(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )

    def daily(df: DataFrame) -> DataFrame:
        return df.groupBy("day").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(27,2)")).alias("_dec_value"),
        )

    cutoff = "2024-01-20"
    prev = daily(ev.where(F.col("day") < F.lit(cutoff)))
    late = daily(ev.where(F.col("day") >= F.lit(cutoff)))
    merged = relational.incremental_agg_merge(
        prev, late, keys=["day"], count_col="n_rows", sum_cols=["_dec_value"]
    )
    return merged.select(
        "day", "n_rows", F.col("_dec_value").cast("double").alias("total_value")
    )


def _duck_dedup_agreement_oracle() -> str:
    return f"""
    WITH mh AS ({ORACLES['dedup_minhash_lsh_pairs']}),
    sh AS ({ORACLES['dedup_simhash_near_pairs']}),
    m AS (SELECT doc_id_a, doc_id_b FROM mh),
    s2 AS (SELECT doc_id_a, doc_id_b FROM sh)
    SELECT CASE WHEN s2.doc_id_a IS NULL THEN 'minhash_only'
                WHEN m.doc_id_a IS NULL THEN 'simhash_only'
                ELSE 'both' END AS found_by,
           COUNT(*) AS n_pairs
    FROM m FULL OUTER JOIN s2
      ON m.doc_id_a = s2.doc_id_a AND m.doc_id_b = s2.doc_id_b
    GROUP BY 1
    """


@query("dedup_method_agreement", oracle=_duck_dedup_agreement_oracle())
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method evaluation: how the MinHash-LSH and SimHash pair
    sets overlap (both / only-one counts) — the comparison a curation
    team runs when choosing thresholds, analogous to ``ann_ivf_recall``
    on the vector side.  Same parameters (and results) as the two pair
    catalog entries, but the corpus is scanned/tokenized ONCE: the
    fused ``two_signature_vectorized`` pass emits both signatures,
    checkpointed at the fan point so each pair pipeline reads the
    materialized blocks instead of re-running the Arrow scan; one full
    outer join over the two candidate-pair sets, grouped into a 3-row
    report."""
    sig = dedup.two_signature_vectorized(
        load(spark, sf_dir, "documents"), "doc_id", "text", n=3, k=16,
    ).transform(ckpt_lazy)
    mh = dedup.minhash_lsh_pairs_from_signatures(
        sig, "doc_id", k=16, bands=4, threshold=0.3,
    ).select("doc_id_a", "doc_id_b").alias("m")
    sh = dedup.hamming_near_pairs(
        sig.select(F.col("_id").alias("doc_id"), "simhash"),
        "doc_id", "simhash", fp_bits=32, max_hamming=3, bands=4,
    ).select("doc_id_a", "doc_id_b").alias("s")
    joined = mh.join(
        sh,
        (F.col("m.doc_id_a") == F.col("s.doc_id_a"))
        & (F.col("m.doc_id_b") == F.col("s.doc_id_b")),
        "full_outer",
    )
    return (
        joined.select(
            F.when(F.col("s.doc_id_a").isNull(), F.lit("minhash_only"))
            .when(F.col("m.doc_id_a").isNull(), F.lit("simhash_only"))
            .otherwise(F.lit("both"))
            .alias("found_by")
        )
        .groupBy("found_by")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "docs_gopher_vectorized",
    oracle=ORACLES["docs_gopher_filter"],
)
def docs_gopher_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same results as ``docs_gopher_filter`` (same oracle, bit-equal
    integers) via ONE Arrow pass per document
    (``operators/text.py:gopher_vectorized``): the expression chain
    re-traverses the token array per rule, the vectorized twin
    tokenizes once — the scale path when the rule set grows."""
    return textops.gopher_vectorized(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query(
    "docs_hashed_classifier_score",
    oracle=f"""
    WITH w AS (
      SELECT range AS wid,
             CAST((range * 2654435761) % 1000003 - 500001 AS BIGINT) AS w
      FROM range(1024)),
    f AS (
      SELECT doc_id,
             unnest({P.transform(P.hash_array(P.tokens('text', DUCK), DUCK),
                                 'h', 'h % 1024', DUCK)}) AS wid
      FROM documents)
    SELECT f.doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(w.w) AS BIGINT) AS score_total,
           CAST(SUM(w.w) * 1000000 // COUNT(*) AS BIGINT) AS score_per_token_ppm,
           SUM(w.w) > 0 AS keep
    FROM f JOIN w USING (wid)
    GROUP BY f.doc_id
    """,
)
def docs_hashed_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, fastText/CCNet architecture: a
    linear classifier over hashed token features
    (``operators/text.py:hashed_linear_score``).  The weight table (a
    trained model is ~dim rows) broadcast-joins the exploded feature
    stream — one tokenization pass, one map-side-combined per-doc
    aggregate; integer weights keep the scores oracle-exact.  Swap
    ``default_hashed_weights`` for a parquet of trained weights and
    nothing else changes."""
    return textops.hashed_linear_score(
        load(spark, sf_dir, "documents"), "doc_id", "text", dim=1024
    )


def _duck_calibration_oracle() -> str:
    """Compose the verified hashed-scorer oracle with the Gopher label
    and an NTILE over the total order (score, doc_id)."""
    return f"""
    WITH scored AS ({ORACLES['docs_hashed_classifier_score']}),
    lbl AS (
      SELECT doc_id,
             CASE WHEN {P.gopher_pass('text', 'toks', DUCK)} THEN 1 ELSE 0 END AS l
      FROM (SELECT doc_id, text, {P.tokens('text', DUCK)} AS toks FROM documents)
    ),
    t AS (
      SELECT s.doc_id, s.score_per_token_ppm AS sc, lbl.l,
             NTILE(10) OVER (ORDER BY s.score_per_token_ppm ASC, s.doc_id ASC)
               AS bin
      FROM scored s JOIN lbl USING (doc_id)
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(l) AS BIGINT) AS n_positive,
           CAST(SUM(l) * 1000000 // COUNT(*) AS BIGINT) AS positive_ppm,
           CAST(SUM(sc) // COUNT(*) AS BIGINT) AS mean_score_ppm
    FROM t GROUP BY bin
    """


@query("docs_classifier_calibration", oracle=_duck_calibration_oracle())
def docs_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) curve of the hashed linear quality
    classifier against the Gopher rule labels
    (``text.classifier_calibration``): score-decile bins × observed
    positive rate, all exact integer ppm.  The oracle replays the
    identical scorer, label and NTILE-over-(score, id) — NTILE is safe
    to oracle here because the ORDER BY carries a full id tie-break,
    while the Spark side computes the same tile via the histogram-
    decomposed exact rank (no global single-task window)."""
    docs = load(spark, sf_dir, "documents")
    labeled = textops.with_gopher_flags(docs, "text").select(
        "doc_id", "text", F.col("gopher_pass").cast("long").alias("label")
    )
    return textops.classifier_calibration(
        labeled, "doc_id", "text", "label", dim=1024, n_bins=10
    )


def _duck_curation_v3_oracle() -> str:
    """Compose the session's verified stages: Gopher rules → hashed
    linear classifier → semantic (embedding) dedup survivor → rollup."""
    return f"""
    WITH gop AS (
      SELECT doc_id, lang, source, text
      FROM (SELECT doc_id, lang, source, text,
                   {P.tokens('text', DUCK)} AS toks FROM documents)
      WHERE {P.gopher_pass('text', 'toks', DUCK)}
    ),
    w AS (
      SELECT range AS wid,
             CAST((range * 2654435761) % 1000003 - 500001 AS BIGINT) AS w
      FROM range(1024)),
    clf AS (
      SELECT f.doc_id FROM (
        SELECT doc_id,
               unnest({P.transform(P.hash_array(P.tokens('text', DUCK), DUCK),
                                   'h', 'h % 1024', DUCK)}) AS wid
        FROM gop) f
      JOIN w USING (wid)
      GROUP BY f.doc_id HAVING SUM(w.w) > 0
    ),
    {_duck_semantic_assign()},
    sem_dropped AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b
        ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      WHERE {_duck_cosine('a.embedding', 'b.embedding')} >= 0.4
    ),
    kept AS (
      SELECT g.doc_id, g.lang, g.source,
             {P.size(P.tokens('g.text', DUCK), DUCK)} AS n_tokens
      FROM gop g
      JOIN clf c ON c.doc_id = g.doc_id
      WHERE g.doc_id NOT IN (SELECT vec_id FROM sem_dropped)
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM kept GROUP BY lang
    """


def _duck_curation_v4_oracle() -> str:
    """Composite oracle for the round-6 curation stack: substring
    surgery → quality on the REWRITTEN text → exact fingerprint dedup
    of the clean text → per-language rollup of survivors."""
    clean_toks = P.tokens("clean_text", DUCK)
    quality = P.quality_score_ppm_from_tokens("clean_text", clean_toks, DUCK)
    fp = P.fingerprint("clean_text", DUCK)
    return f"""
    WITH surgery AS ({_duck_remove_spans_oracle()}),
    scored AS (
      SELECT s.doc_id, s.total_tokens, s.removed_tokens, s.clean_text,
             {quality} AS q
      FROM surgery s
      WHERE s.total_tokens - s.removed_tokens > 0
    ),
    kept AS (SELECT * FROM scored WHERE q >= 550000),
    fp AS (
      SELECT {fp} AS fingerprint, MIN(doc_id) AS keep_id
      FROM kept GROUP BY {fp}
    ),
    survivors AS (
      SELECT k.* FROM kept k JOIN fp ON fp.keep_id = k.doc_id
    )
    SELECT d.lang, COUNT(*) AS n_docs,
           CAST(SUM(s.total_tokens - s.removed_tokens) AS BIGINT)
             AS kept_tokens,
           CAST(SUM(s.removed_tokens) AS BIGINT) AS cut_tokens
    FROM survivors s JOIN documents d ON d.doc_id = s.doc_id
    GROUP BY d.lang
    """


@query("pipeline_curation_v4", oracle=_duck_curation_v4_oracle())
def pipeline_curation_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 curation stack as ONE composed lazy plan: exact-
    substring surgery (cut cross-doc repeated 5-token spans, keep the
    canonical occurrence) → quality scoring of the REWRITTEN text →
    exact fingerprint dedup of the clean text (min-id survivor) →
    per-language rollup.  Each stage's oracle is individually verified
    elsewhere (docs_remove_repeated_spans / doc_quality / dedup_exact);
    this verifies the composition end-to-end, including that quality is
    computed AFTER the surgery (boilerplate removal changes scores)."""
    docs = load(spark, sf_dir, "documents")
    surgery = dedup.remove_repeated_spans(docs, "doc_id", "text", n=5, min_docs=2)
    # clean feeds the quality pass AND the kept join: materialize the
    # rewritten corpus once instead of replaying the span surgery
    clean = surgery.where(
        F.col("total_tokens") - F.col("removed_tokens") > 0
    ).transform(ckpt_lazy)
    q = textops.profile_vectorized(clean, "doc_id", "clean_text").select(
        "doc_id", "quality_ppm"
    )
    # kept feeds BOTH the fingerprint aggregate and the survivor join —
    # materialize once instead of re-running surgery+quality per branch
    kept = (
        clean.join(q, on="doc_id")
        .where(F.col("quality_ppm") >= 550_000)
        .transform(ckpt_lazy)
    )
    fp = dedup.fingerprint_dedup(kept, "clean_text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    survivors = kept.join(fp, on="doc_id")
    return (
        survivors.join(docs.select("doc_id", "lang"), on="doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("total_tokens") - F.col("removed_tokens"))
            .cast("bigint").alias("kept_tokens"),
            F.sum("removed_tokens").cast("bigint").alias("cut_tokens"),
        )
    )


@query("pipeline_curation_v3", oracle=_duck_curation_v3_oracle())
def pipeline_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session's curation stack as ONE composed lazy plan: Gopher
    format/repetition rules → hashed linear classifier (broadcast
    weight table) → SemDeDup semantic survivor (embedding cell join on
    vec_id = doc_id) → per-language corpus rollup.  Three filters and a
    dedup, still a single Catalyst plan with no intermediate
    materialization; every stage's oracle is already individually
    verified, and the composition is verified here end-to-end."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")

    gop = textops.with_gopher_flags(docs, "text").where(
        F.col("gopher_pass")
    ).select("doc_id", "lang", "source", "text")
    clf = textops.hashed_linear_score(gop, "doc_id", "text", dim=1024).where(
        F.col("keep")
    ).select("doc_id")
    # anti-join the DROPPED set, not inner-join the survivors: a
    # document with no embedding row cannot be a semantic duplicate and
    # must pass through (the embeddings table covers only part of the
    # corpus at some scale factors — sf0.1 has 2000 vectors / 5000 docs)
    sem_dropped = similarity.semantic_dedup_pairs(
        emb, emb.where(F.col("vec_id") % 50 == 0), threshold=0.4
    ).select(F.col("vec_id_b").alias("doc_id")).distinct()
    kept = (
        textops.with_token_counts(gop, "text")
        .join(clf, on="doc_id")
        .join(sem_dropped, on="doc_id", how="left_anti")
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").cast("bigint").alias("total_tokens"),
    )


# The `items` WITH-CTE below: Spark inlines a CTE into ALL its
# references (5 in association_rules, 2 in market_basket), so lineitem
# is scanned once per reference.  Round 12 measured a materialization
# barrier SLOWER at sf0.1 (twice, reverted): the five cheap
# broadcast-join subtrees overlap inside one job locally.  At 100 TB
# the 5x lineitem scan dominates instead, so round 13 gates an eager
# checkpoint of `items` on the lineitem input size (guide §5
# cache-when-reused) — sf-scale keeps the measured-faster inlined plan,
# cluster scale scans lineitem once.  AYEAYE_BRAND_MATERIALIZE=0/1
# overrides the gate (plan capture / pytest of the gated path).
_BRAND_ITEMS_MAT_BYTES = 8 << 30  # ~SF 30+; any real cluster corpus


def _input_table_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of a source parquet table (file or directory);
    'unknown' (non-local path) counts as huge so the scale path wins."""
    import os

    p = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isdir(p):
            return sum(e.stat().st_size for e in os.scandir(p) if e.is_file())
        return os.path.getsize(p)
    except OSError:
        return 1 << 62


def _brand_items_view(spark: SparkSession, sf_dir: str) -> str:
    """Register the basket `items` frame (DISTINCT order x brand) as a
    temp view, eagerly materialized only above the size gate; returns
    the view name."""
    import os

    li = load(spark, sf_dir, "lineitem")
    pt = load(spark, sf_dir, "part")
    items = (
        li.alias("l")
        .join(pt.alias("p"), F.col("l.l_partkey") == F.col("p.p_partkey"))
        .select("l.l_orderkey", "p.p_brand")
        .distinct()
    )
    force = os.environ.get("AYEAYE_BRAND_MATERIALIZE")
    if force is not None:
        materialize = force == "1"
    else:
        materialize = _input_table_bytes(sf_dir, "lineitem") > _BRAND_ITEMS_MAT_BYTES
    if materialize:
        items = items.transform(ckpt_eager)
    items.createOrReplaceTempView("_brand_items_v")
    return "_brand_items_v"


_MARKET_BASKET_SQL_TMPL = """
    WITH items AS ({items_body})
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           COUNT(*) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY a.p_brand, b.p_brand
    ORDER BY n_orders DESC, brand_a ASC, brand_b ASC LIMIT 25
    """

_BRAND_ITEMS_CTE_BODY = """
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey"""


@query(
    "brand_market_basket",
    oracle=_MARKET_BASKET_SQL_TMPL.format(items_body=_BRAND_ITEMS_CTE_BODY),
)
def brand_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-basket brand pair mining — the self-join is keyed on the
    ORDER (baskets are small, so pair fan-out is bounded by
    max-basket-size², never |table|²); distinct-first collapses repeat
    brands before pairing.  The `items` frame comes from the size-gated
    view (see ``_brand_items_view``): inlined per-reference at sf
    scale, scanned once at cluster scale.  Full ORDER BY tie-break, so
    results are identical either way."""
    _ensure_session_defaults(spark)
    v = _brand_items_view(spark, sf_dir)
    return spark.sql(
        _MARKET_BASKET_SQL_TMPL.format(items_body=f"SELECT * FROM {v}")
    )


def _association_rules_sql(d: str, items_body: str | None = None) -> str:
    conf = P.int_div("p.n_ab * 1000000", "ca.n", d)
    # lift = (n_ab * N) / (n_a * n_b), compounded as two floor
    # divisions so every intermediate stays far inside int64
    # (n_ab*1e6 <= ~6e11; conf_ppm*N <= ~1.5e11) — identical floor
    # compounding in both engines
    lift = P.int_div(f"({conf}) * t.n_orders", "cb.n", d)
    return f"""
    WITH items AS ({items_body or _BRAND_ITEMS_CTE_BODY}),
    t AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
    c AS (SELECT p_brand, COUNT(*) AS n FROM items GROUP BY p_brand),
    p AS (
      SELECT a.p_brand AS antecedent, b.p_brand AS consequent,
             COUNT(*) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
      GROUP BY 1, 2
    )
    SELECT p.antecedent, p.consequent,
           CAST(p.n_ab AS BIGINT) AS n_ab,
           CAST({P.int_div('p.n_ab * 1000000', 't.n_orders', d)} AS BIGINT)
             AS support_ppm,
           CAST({conf} AS BIGINT) AS confidence_ppm,
           CAST({lift} AS BIGINT) AS lift_ppm
    FROM p
    JOIN c ca ON ca.p_brand = p.antecedent
    JOIN c cb ON cb.p_brand = p.consequent
    CROSS JOIN t
    WHERE p.n_ab >= 20
    ORDER BY lift_ppm DESC, antecedent ASC, consequent ASC
    LIMIT 25
    """


@query("brand_association_rules", oracle=_association_rules_sql(DUCK))
def brand_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: directional antecedent →
    consequent with exact integer support / confidence / lift in ppm
    (lift compounded as two floor divisions so every intermediate
    stays inside int64 — the same floor order in both engines), top 25
    by lift with a min-support floor.  The basket self-join is keyed
    on the ORDER (pair fan-out bounded by basket size², never
    |table|²); margins and the order total are tiny joins after the
    pair count.  The classic recommendation/affinity primitive,
    value-exact.  The `items` frame comes from the size-gated view
    (``_brand_items_view``): inlined into all five CTE references at sf
    scale (measured faster — the broadcast subtrees overlap in one
    job), materialized once above the lineitem-bytes gate so 100 TB
    stops scanning lineitem five times."""
    _ensure_session_defaults(spark)
    v = _brand_items_view(spark, sf_dir)
    return spark.sql(_association_rules_sql(SPARK, items_body=f"SELECT * FROM {v}"))


shared_sql(
    "events_type_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
    needs=("events",),
)
# transition notes: first-order Markov counts over the per-user total
# order — one shuffle on user_id for the lag window, then a map-side-
# combined count on the (prev, next) pair; the matrix is |types|² rows.


def _burst_sql(epoch_us_fn: str, intdiv: str) -> str:
    """One template, both dialects: the exact-microsecond epoch function
    (unix_micros vs epoch_us) and the integer-division operator
    (div vs //) differ."""
    return f"""
    WITH hourly AS (
      SELECT event_type,
             {epoch_us_fn}(ts) {intdiv} 3600000000 AS hour_idx,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    trail AS (
      SELECT event_type, hour_idx, n,
             CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY hour_idx
                          RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT) AS trail_n,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY hour_idx
                            RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail_hours
      FROM hourly)
    SELECT event_type, hour_idx, n, trail_n, trail_hours,
           n * trail_hours * 1000000 / trail_n AS rate_vs_trailing_ppm
    FROM trail
    WHERE trail_hours >= 6 AND n * trail_hours * 1000000 / trail_n >= 1500000
    """


@query("events_burst_detection", oracle=_burst_sql("epoch_us", "//"))
def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst/anomaly surfacing: hours where a type's event rate is at
    least 1.5x its trailing-24h average (1.5x rather than 2x so the
    record is non-trivial at every test scale — larger fixtures smooth
    hourly rates toward 1x, and a threshold nothing crosses certifies
    nothing).  The RANGE frame runs over the HOURLY aggregate (types x
    hours rows), never raw events; the epoch-hour index is exact
    integer microseconds and the 1.5x test multiplies BIGINTs before
    the double division, so both engines produce identical quotients."""
    _ensure_session_defaults(spark)
    register_views(spark, sf_dir, "events")
    return spark.sql(_burst_sql("unix_micros", "div"))
# burst notes: anomaly surfacing — hours where a type's event rate is
# ≥1.5x its trailing-24h average.  The RANGE frame runs over the HOURLY
# aggregate (tiny: types × hours), not raw events; the epoch-hour index
# is exact integer math and the 2x test multiplies before dividing
# (BIGINT product → identical double quotient on both engines).


@query(
    "docs_dedup_rate_by_source",
    oracle=f"""
    WITH pairs AS ({_duck_minhash_pairs_oracle()}),
    dropped AS (SELECT DISTINCT doc_id_b AS doc_id FROM pairs)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dropped,
           CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 0 ELSE 1 END) * 1000000
             // COUNT(*) AS BIGINT) AS dup_ppm
    FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def docs_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability: per-source duplicate rates from the
    MinHash pass (which domains are syndication-heavy — the report that
    drives source-level curation policy).  One banded-LSH candidate
    pass, then a left join + rollup over the narrow (doc, source)
    projection; exact integer ppm."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, k=16, bands=4, threshold=0.3
    )
    dropped = pairs.select(F.col("doc_id_b").alias("doc_id")).distinct() \
        .withColumn("_d", F.lit(1))
    return (
        docs.select("doc_id", "source")
        .join(dropped, on="doc_id", how="left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("_d"), F.lit(0))).alias("n_dropped"),
        )
        .withColumn("dup_ppm", F.expr("n_dropped * 1000000 div n_docs"))
    )


@query("events_stream_trending")  # no oracle: streaming drain, rows-only check
def events_stream_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending detection on a stream: SLIDING-window counts (1 hour
    window, 30 minute slide — overlapping windows are the streaming-
    stateful part) drained availableNow, then the top-2 event types per
    window ranked on the drained frame.  The batch twin (same sliding
    window + rank over the static table) is pinned equal in
    ``tests/test_streaming.py``; deterministic ties on event_type."""
    from pyspark.sql import Window as W

    from .streaming import events as streamops

    stream = _events_stream(spark, sf_dir)
    agg = streamops.windowed_counts(
        stream, window="1 hour", slide="30 minutes", group_cols=["event_type"]
    )
    drained = _drain_stream(spark, agg, "events_stream_trending_sink")
    w = W.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        drained.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 2)
        .select("window_start", "window_end", "event_type", "n_events", "rank")
    )


def _rfm_sql(datediff_days: str) -> str:
    """One template, both dialects: only the day-difference call
    differs (Spark ``datediff(end, start)`` vs DuckDB
    ``date_diff('day', start, end)``)."""
    return f"""
    WITH anchor AS (SELECT MAX(o_orderdate) AS maxd FROM orders),
    rfm AS (
      SELECT o_custkey,
             MIN({datediff_days}) AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS monetary_cents
      FROM orders CROSS JOIN anchor
      GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey,
             CASE WHEN recency_days <= 180 THEN 3
                  WHEN recency_days <= 720 THEN 2 ELSE 1 END AS r_score,
             CASE WHEN frequency >= 20 THEN 3
                  WHEN frequency >= 10 THEN 2 ELSE 1 END AS f_score,
             CASE WHEN monetary_cents >= 200000000 THEN 3
                  WHEN monetary_cents >= 100000000 THEN 2 ELSE 1 END AS m_score
      FROM rfm)
    SELECT r_score, f_score, m_score, COUNT(*) AS n_customers
    FROM scored GROUP BY r_score, f_score, m_score
    """


@query(
    "customer_rfm_segments",
    oracle=_rfm_sql("date_diff('day', o_orderdate, maxd)"),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) customer segmentation with
    FIXED band boundaries — quantile bands would need a window over the
    full per-customer aggregate (not tiny at 1e9 customers; the
    histogram-locate plan exists for that case, see
    lineitem_price_quartiles_exact).  Integer day differences, decimal-
    cents money, one group-by shuffle on the customer key."""
    _ensure_session_defaults(spark)
    register_views(spark, sf_dir, "orders")
    return spark.sql(_rfm_sql("datediff(maxd, o_orderdate)"))
# RFM notes: recency/frequency/monetary segmentation with FIXED band
# boundaries — quantile-based bands would need a window over the full
# per-customer aggregate (not tiny at 1e9 customers; the exact-quantile
# histogram-locate plan exists for that, see
# lineitem_price_quartiles_exact).  Date subtraction yields integer
# days in both engines; money goes through the decimal-cents rule.


@query(
    "docs_weighted_sample",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             CAST({P.size(P.tokens('text', DUCK), DUCK)} AS BIGINT) AS w
      FROM documents),
    cum AS (SELECT doc_id, w, SUM(w) OVER (ORDER BY doc_id) AS c FROM tok),
    par AS (SELECT GREATEST(1, MAX(c) // 50) AS stride FROM cum),
    p2 AS (SELECT stride, stride // 2 AS off FROM par)
    SELECT doc_id, w AS weight,
           CAST(CASE WHEN c >= off THEN (c - off) // stride ELSE -1 END
            - CASE WHEN c - w >= off THEN (c - w - off) // stride ELSE -1 END
             AS BIGINT) AS n_hits
    FROM cum CROSS JOIN p2
    WHERE (CASE WHEN c >= off THEN (c - off) // stride ELSE -1 END
           - CASE WHEN c - w >= off THEN (c - w - off) // stride ELSE -1 END) > 0
    """,
)
def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sampling without floats: systematic (survey)
    sampling over cumulative integer token weights — ~50 documents
    selected with probability proportional to length, the same rows on
    any engine or partitioning (A-ES exponential keys need float powers
    and are not cross-engine exact).  Built on the distributed prefix
    sum (``operators/sampling.py:systematic_weighted_sample``); the
    oracle replays the identical selection with a plain window."""
    docs = textops.with_token_counts(load(spark, sf_dir, "documents"), "text")
    return sampling.systematic_weighted_sample(
        docs.select("doc_id", F.col("ws_tokens").cast("long").alias("weight")),
        id_col="doc_id",
        weight_col="weight",
        n=50,
    ).select("doc_id", "weight", "n_hits")


@query(
    "docs_token_counts_arrow",
    oracle=f"""
    SELECT doc_id,
           CAST({P.size(P.tokens('text', DUCK), DUCK)} AS BIGINT) AS ws_tokens
    FROM documents
    """,
)
def docs_token_counts_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` modality pin (non-grouped Arrow-native UDF —
    RecordBatches in, zero pandas): whitespace token counts equal to
    the expression path exactly via the parity-pinned Python tokenizer
    (``operators/text.py:token_counts_map_arrow``).  Completes the
    UDF-surface matrix in the value-verified catalog."""
    return textops.token_counts_map_arrow(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


def _rolling_active_sql(week_ago: str) -> str:
    """One template, both dialects: only 'day minus 6 days' differs
    (Spark ``date_sub(day, 6)`` vs DuckDB ``day - 6``).

    COUNT(DISTINCT) over a sliding frame is unsupported in both
    engines' window functions — the exact formulation is a day-spine
    join: each day joins its trailing week of events and re-counts
    distinct users.  The spine is #days rows (broadcast); the fan-out
    is 7x the events table, shuffled as narrow (day, user) pairs with
    the distinct collapsing map-side."""
    return f"""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    dau AS (SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS dau
            FROM events GROUP BY CAST(ts AS DATE)),
    wau AS (
      SELECT d.day, COUNT(DISTINCT e.user_id) AS wau
      FROM days d JOIN events e
        ON CAST(e.ts AS DATE) BETWEEN {week_ago} AND d.day
      GROUP BY d.day)
    SELECT day, dau, wau FROM dau JOIN wau USING (day)
    """


@query(
    "events_rolling_active_users",
    oracle=_rolling_active_sql("d.day - 6"),
)
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth analytics: daily and trailing-7-day distinct active users
    per day.  Sliding COUNT(DISTINCT) has no window form in either
    engine; the exact plan is the day-spine join (see template notes) —
    the spine broadcasts, the re-counted pairs stay narrow."""
    _ensure_session_defaults(spark)
    register_views(spark, sf_dir, "events")
    return spark.sql(_rolling_active_sql("date_sub(d.day, 6)"))


@query(
    "customer_pareto_80",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey),
    cum AS (
      SELECT o_custkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, o_custkey ASC) AS c
      FROM per_cust),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t, COUNT(*) AS n FROM per_cust)
    SELECT COUNT(*) AS n_top_customers,
           MAX(n) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS top_cents,
           MAX(t) AS total_cents
    FROM cum CROSS JOIN tot
    WHERE (c - cents) * 5 < t * 4
    """,
)
def customer_pareto_80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: how many top customers carry 80% of
    revenue (a customer is counted while the running total BEFORE it is
    under the 80% line — exact integer cents, ``cum*5 < total*4``, no
    float thresholds).  The running total uses the distributed prefix
    sum bucketed on the revenue magnitude — the per-customer aggregate
    is NOT tiny at 1e9 customers, so no single-partition window."""
    per_cust = load(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.expr(
            "SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))"
        ).alias("cents")
    )
    cum = sampling._bucketed_cumsum(
        per_cust,
        token_col="cents",
        order_cols=[F.desc("cents"), F.asc("o_custkey")],
        bucket_expr_sql="(-cents) div 1000000",
        out_col="c",
    )
    tot = per_cust.agg(
        F.sum("cents").alias("t"), F.count(F.lit(1)).alias("n")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .where((F.col("c") - F.col("cents")) * 5 < F.col("t") * 4)
        .agg(
            F.count(F.lit(1)).alias("n_top_customers"),
            F.max("n").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("top_cents"),
            F.max("t").alias("total_cents"),
        )
    )


@query(
    "customer_spend_quartiles_exact",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey)
    SELECT 'all' AS grp,
           MAX(CASE WHEN rn = GREATEST(CAST(CEIL(n * 0.25) AS BIGINT), 1)
                    THEN cents END) AS p25,
           MAX(CASE WHEN rn = GREATEST(CAST(CEIL(n * 0.50) AS BIGINT), 1)
                    THEN cents END) AS p50,
           MAX(CASE WHEN rn = GREATEST(CAST(CEIL(n * 0.75) AS BIGINT), 1)
                    THEN cents END) AS p75
    FROM (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents ASC, o_custkey ASC) AS rn,
             COUNT(*) OVER () AS n
      FROM per_cust
    ) t
    """,
)
def customer_spend_quartiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quartiles of a DERIVED aggregate (per-customer lifetime
    spend in exact cents): the histogram locate-then-sort plan runs on
    the per-customer frame — at 1e9 customers the oracle's global-sort
    window is a wall; the histogram plan's only sort touches the single
    located bucket per rank.  Distribution analysis of aggregates is
    the everyday form of this pattern (order-size, session-length,
    spend distributions)."""
    per_cust = load(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.expr(
            "SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))"
        ).alias("cents")
    ).withColumn("grp", F.lit("all"))
    q = relational.exact_group_quantiles(
        per_cust, "grp", "cents", bucket_width=1_000_000.0
    )
    # exact_group_quantiles works in doubles; cents are exact integers
    # < 2^53 so the cast back to BIGINT is lossless and matches the
    # oracle's integer order-statistics dtype (driver hash is
    # dtype-sensitive)
    return q.select(
        "grp",
        F.col("q_25").cast("long").alias("p25"),
        F.col("q_50").cast("long").alias("p50"),
        F.col("q_75").cast("long").alias("p75"),
    )


shared_sql(
    "part_type_rollup",
    """
    SELECT COALESCE(split_part(p_type, ' ', 1), 'ALL') AS tier1,
           COALESCE(split_part(p_type, ' ', 2), 'ALL') AS tier2,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_retail
    FROM part
    GROUP BY ROLLUP (split_part(p_type, ' ', 1), split_part(p_type, ' ', 2))
    """,
    needs=("part",),
)
# hierarchy notes: dimension levels DERIVED from a delimited string
# (split_part is identical in both engines) feeding ROLLUP — the
# category-tree report without a materialized dimension table.


shared_sql(
    "events_diurnal_profile",
    """
    SELECT EXTRACT(HOUR FROM ts) AS hour_of_day, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY EXTRACT(HOUR FROM ts), event_type
    """,
    needs=("events",),
)


@query(
    "emb_label_cohesion",
    oracle=f"""
    WITH anchors AS (
      SELECT label, MIN(vec_id) AS anchor_id FROM embeddings GROUP BY label),
    av AS (SELECT a.label, e.embedding AS avec
           FROM anchors a JOIN embeddings e ON e.vec_id = a.anchor_id)
    SELECT e.label,
           COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN {_duck_cosine('e.embedding', 'av.avec')} >= 0.5
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_cohesive,
           CAST(SUM(CASE WHEN {_duck_cosine('e.embedding', 'av.avec')} >= 0.5
                    THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS cohesive_ppm
    FROM embeddings e JOIN av ON av.label = e.label
    GROUP BY e.label
    """,
)
def emb_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label quality: per label, the fraction of
    vectors within cosine 0.5 of the label's ANCHOR (its min-id member
    — a deterministic representative; a float-mean centroid would need
    order-dependent float sums that no oracle can replay).  Integer
    counts/ppm; the anchor frame broadcasts, one corpus scan."""
    emb = load(spark, sf_dir, "embeddings")
    anchors = emb.groupBy("label").agg(F.min("vec_id").alias("anchor_id"))
    av = anchors.join(
        emb.select(F.col("vec_id").alias("anchor_id"),
                   F.col("embedding").alias("_avec")),
        on="anchor_id",
    ).select("label", "_avec")
    from ayeaye_spark.operators.similarity import _cos

    return (
        emb.join(F.broadcast(av), on="label")
        .withColumn("_cohesive",
                    (F.expr(_cos("embedding", "_avec", None)) >= 0.5)
                    .cast("long"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("_cohesive").alias("n_cohesive"),
        )
        .withColumn("cohesive_ppm", F.expr("n_cohesive * 1000000 div n_vecs"))
    )


@query(
    "docs_lang_confusion",
    oracle=f"""
    SELECT lang AS declared, {P.lang_id_from_tokens('toks', DUCK)} AS predicted,
           COUNT(*) AS n_docs
    FROM (SELECT lang, {P.tokens('text', DUCK)} AS toks FROM documents)
    GROUP BY lang, {P.lang_id_from_tokens('toks', DUCK)}
    """,
)
def docs_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: the confusion matrix of declared vs
    predicted language — the accuracy report any heuristic classifier
    ships with (complementing the classifier/recall/dedup-agreement
    evaluation family).  One Arrow profiling pass (bit-identical
    vectorized lang-ID; the EXPRESSION form's giant generated CASE was
    the sweep's worst JIT-code-cache thrasher — 6-7s in-sweep vs 0.75s
    steady) + one map-side-combined count."""
    prof = textops.profile_vectorized(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        extra_cols=("lang",),
    )
    return (
        prof.groupBy(
            F.col("lang").alias("declared"),
            F.col("lang_pred").alias("predicted"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


shared_sql(
    "orders_basket_size_histogram",
    """
    SELECT n_items, COUNT(*) AS n_orders
    FROM (SELECT l_orderkey, COUNT(*) AS n_items
          FROM lineitem GROUP BY l_orderkey) b
    GROUP BY n_items ORDER BY n_items
    """,
    needs=("lineitem",),
)


@query(
    "dedup_degree_histogram",
    oracle=f"""
    WITH pairs AS ({_duck_minhash_pairs_oracle()}),
    deg AS (
      SELECT doc_id, COUNT(*) AS degree FROM (
        SELECT doc_id_a AS doc_id FROM pairs
        UNION ALL
        SELECT doc_id_b AS doc_id FROM pairs) e
      GROUP BY doc_id)
    SELECT degree, COUNT(*) AS n_docs
    FROM deg GROUP BY degree ORDER BY degree
    """,
)
def dedup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph shape observability: the degree distribution of
    the MinHash similarity graph — a heavy tail here means template/
    boilerplate hubs (and predicts big connected components) before
    the transitive-closure pass is ever run.  Symmetrize the pair list,
    two map-side-combined counts."""
    # both union branches of the symmetrization read the pair pipeline;
    # materialize it once (same fan-point fix as dedup_nearest_neighbor)
    pairs = dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, k=16, bands=4, threshold=0.3,
    ).transform(ckpt_lazy)
    deg = (
        pairs.select(F.col("doc_id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


def _conversion_time_sql(epoch_us_fn: str) -> str:
    """One template, both dialects (only the exact-microsecond epoch
    function differs): view→purchase conversion latency per user,
    aggregated in integer microseconds."""
    return f"""
    WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    p AS (SELECT e.user_id,
                 MIN({epoch_us_fn}(e.ts)) - MIN({epoch_us_fn}(v.t_view))
                   AS gap_us
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase' AND e.ts > v.t_view
          GROUP BY e.user_id)
    SELECT COUNT(*) AS n_converters,
           MIN(gap_us) AS min_gap_us,
           MAX(gap_us) AS max_gap_us,
           CAST(SUM(gap_us) AS BIGINT) AS total_gap_us
    FROM p
    """


@query(
    "events_conversion_time_stats",
    oracle=_conversion_time_sql("epoch_us"),
)
def events_conversion_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: time from a user's first view to their first
    subsequent purchase, aggregated in EXACT integer microseconds (the
    same microsecond-epoch rule as ``events_interarrival_stats``) —
    the 'how fast do converters convert' companion of the funnel
    counts.  Two map-side-combined aggregates chained by one join."""
    _ensure_session_defaults(spark)
    register_views(spark, sf_dir, "events")
    return spark.sql(_conversion_time_sql("unix_micros"))


@query(
    "docs_vocab_growth",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({P.tokens('text', DUCK)})) AS t
      FROM documents),
    first_seen AS (SELECT t, MIN(doc_id) AS doc_id FROM tok GROUP BY t),
    new_per_doc AS (
      SELECT doc_id, COUNT(*) AS new_tokens FROM first_seen GROUP BY doc_id),
    all_docs AS (
      SELECT d.doc_id, COALESCE(n.new_tokens, 0) AS new_tokens
      FROM documents d LEFT JOIN new_per_doc n ON n.doc_id = d.doc_id)
    SELECT doc_id, new_tokens,
           CAST(SUM(new_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS vocab_size
    FROM all_docs
    """,
)
def docs_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve: cumulative distinct-token
    count along the corpus order.  'Distinct so far' has no windowed
    form; the exact plan assigns each token its FIRST document (one
    hash-keyed min aggregate), counts first-appearances per document,
    and prefix-sums those counts — the cumsum is the distributed
    two-phase prefix sum, never a single-partition window over the
    corpus."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.expr(P.distinct(P.tokens("text", SPARK), SPARK))).alias("t"),
    )
    first_seen = tok.groupBy("t").agg(F.min("doc_id").alias("doc_id"))
    new_per_doc = first_seen.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("new_tokens")
    )
    all_docs = (
        docs.select("doc_id")
        .join(new_per_doc, on="doc_id", how="left")
        .withColumn("new_tokens",
                    F.coalesce(F.col("new_tokens"), F.lit(0)).cast("long"))
    )
    out = sampling._bucketed_cumsum(
        all_docs,
        token_col="new_tokens",
        order_cols=[F.asc("doc_id")],
        bucket_expr_sql="doc_id div 65536",
        out_col="vocab_size",
    )
    return out.select("doc_id", "new_tokens", "vocab_size")


shared_sql(
    "supplier_region_balance_rollup",
    """
    SELECT COALESCE(r.r_name, 'ALL') AS region,
           COALESCE(n.n_name, 'ALL') AS nation,
           COUNT(*) AS n_suppliers,
           CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS total_balance
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    needs=("supplier", "nation", "region"),
)
# geo-rollup notes: the dimension chain (nation, region — tiny)
# broadcasts; ROLLUP over the joined frame gives nation, region, and
# grand totals in one pass with coalesced subtotal labels.


@query(
    "docs_repetition_flags",
    oracle=f"""
    WITH l AS (
      SELECT doc_id, line, COUNT(*) AS c, LENGTH(line) AS len
      FROM (SELECT doc_id, unnest({P.lines('text', DUCK)}) AS line
            FROM documents)
      WHERE LENGTH(line) > 0
      GROUP BY doc_id, line
    ),
    ls AS (
      SELECT doc_id, SUM(c) AS n_lines, SUM(c - 1) AS dup_lines,
             SUM(c * len) AS tot_chars, SUM((c - 1) * len) AS dup_chars
      FROM l GROUP BY doc_id
    ),
    tk AS (
      SELECT doc_id,
             {P.hash_array(P.tokens('text', DUCK), DUCK)} AS th
      FROM documents
    ),
    tn AS (SELECT doc_id, {P.size('th', DUCK)} AS n_tokens, th FROM tk),
    g2 AS (
      SELECT doc_id, g, COUNT(*) AS c FROM (
        SELECT doc_id, unnest({P.token_hash_ngrams_all('th', 2, DUCK)}) AS g
        FROM tn) GROUP BY doc_id, g
    ),
    t2 AS (SELECT doc_id, MAX(c) AS top2 FROM g2 GROUP BY doc_id),
    g3 AS (
      SELECT doc_id, g, COUNT(*) AS c FROM (
        SELECT doc_id, unnest({P.token_hash_ngrams_all('th', 3, DUCK)}) AS g
        FROM tn) GROUP BY doc_id, g
    ),
    t3 AS (SELECT doc_id, MAX(c) AS top3 FROM g3 GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(ls.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(CASE WHEN COALESCE(ls.n_lines, 0) > 0
                THEN LEAST(ls.dup_lines * 1000000 // ls.n_lines, 1000000)
                ELSE 0 END AS BIGINT) AS dup_line_ppm,
           CAST(CASE WHEN COALESCE(ls.tot_chars, 0) > 0
                THEN LEAST(ls.dup_chars * 1000000 // ls.tot_chars, 1000000)
                ELSE 0 END AS BIGINT) AS dup_line_char_ppm,
           CAST(COALESCE(tn.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(CASE WHEN COALESCE(tn.n_tokens, 0) > 0
                THEN LEAST(COALESCE(t2.top2, 0) * 2 * 1000000 // tn.n_tokens,
                           1000000)
                ELSE 0 END AS BIGINT) AS top2_cover_ppm,
           CAST(CASE WHEN COALESCE(tn.n_tokens, 0) > 0
                THEN LEAST(COALESCE(t3.top3, 0) * 3 * 1000000 // tn.n_tokens,
                           1000000)
                ELSE 0 END AS BIGINT) AS top3_cover_ppm,
           (CAST(CASE WHEN COALESCE(ls.n_lines, 0) > 0
                 THEN LEAST(ls.dup_lines * 1000000 // ls.n_lines, 1000000)
                 ELSE 0 END AS BIGINT) <= 300000
            AND CAST(CASE WHEN COALESCE(tn.n_tokens, 0) > 0
                 THEN LEAST(COALESCE(t2.top2, 0) * 2 * 1000000 // tn.n_tokens,
                            1000000) ELSE 0 END AS BIGINT) <= 200000
            AND CAST(CASE WHEN COALESCE(tn.n_tokens, 0) > 0
                 THEN LEAST(COALESCE(t3.top3, 0) * 3 * 1000000 // tn.n_tokens,
                            1000000) ELSE 0 END AS BIGINT) <= 180000)
             AS rep_pass
    FROM documents d
    LEFT JOIN ls USING (doc_id)
    LEFT JOIN tn USING (doc_id)
    LEFT JOIN t2 USING (doc_id)
    LEFT JOIN t3 USING (doc_id)
    """,
)
def docs_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher REPETITION profile (arXiv:2112.11446 App. A1.1, the
    within-document family ``docs_gopher_filter`` doesn't cover):
    duplicate-line fraction by line and by character, token coverage of
    the most frequent word 2-/3-gram (portable rolling-hash shingles),
    and the composed pass/fail at the paper's 0.30/0.20/0.18
    thresholds — all exact integer ppm
    (``operators/text.py:with_repetition_flags``)."""
    return textops.with_repetition_flags(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query(
    "docs_dsir_importance",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS tgt,
             unnest({P.tokens('text', DUCK)}) AS tok
      FROM documents
    ),
    b AS (
      SELECT doc_id, tgt,
             ({P.char_hash('tok', DUCK)}) % 1024 AS bk
      FROM toks
    ),
    raw AS (SELECT bk, COUNT(*) AS rc FROM b GROUP BY bk),
    tgt AS (SELECT bk, COUNT(*) AS tc FROM b WHERE tgt GROUP BY bk),
    nr AS (SELECT SUM(rc) AS nr FROM raw),
    nt AS (SELECT SUM(tc) AS nt FROM tgt),
    w AS (
      SELECT raw.bk,
             COALESCE(tc, 0) * 1000000 // nt - rc * 1000000 // nr AS w
      FROM raw LEFT JOIN tgt USING (bk) CROSS JOIN nr CROSS JOIN nt
    ),
    sc AS (
      SELECT b.doc_id, COUNT(*) AS n_tokens, SUM(w.w) AS dsir_score
      FROM b JOIN w ON b.bk = w.bk GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(sc.dsir_score, 0) AS BIGINT) AS dsir_score
    FROM documents d LEFT JOIN sc USING (doc_id)
    """,
)
def docs_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data-selection score (arXiv:2302.03169): hashed
    unigram buckets (1024, portable rolling hash), bucket weight =
    target-slice frequency ppm minus raw-corpus frequency ppm (the
    integer-exact monotone sibling of the paper's log-likelihood
    ratio), document importance = sum of its tokens' bucket weights.
    Target slice here: ``lang = 'en'``.  The 1024-row weight table
    broadcasts; nothing is corpus-sized on the driver
    (``operators/text.py:dsir_importance_hashed``)."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "_is_tgt", F.col("lang") == "en"
    )
    return textops.dsir_importance_hashed(docs, "doc_id", "text", "_is_tgt")


@query(
    "docs_rare_token_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({P.tokens('text', DUCK)}) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    pd AS (
      SELECT tf.doc_id,
             SUM(tf.tf) AS n_tokens,
             SUM(CASE WHEN dfreq.df <= 2 THEN tf.tf ELSE 0 END) AS rare,
             COUNT(*) AS n_terms,
             SUM(CASE WHEN dfreq.df <= 2 THEN 1 ELSE 0 END) AS n_rare_terms
      FROM tf JOIN dfreq USING (term) GROUP BY tf.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(pd.n_terms, 0) AS BIGINT) AS n_terms,
           CAST(COALESCE(pd.n_rare_terms, 0) AS BIGINT) AS n_rare_terms,
           CAST(CASE WHEN COALESCE(pd.n_tokens, 0) > 0
                THEN pd.rare * 1000000 // pd.n_tokens
                ELSE 0 END AS BIGINT) AS rare_ppm
    FROM documents d LEFT JOIN pd USING (doc_id)
    """,
)
def docs_rare_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rare-token ratio — the LM-free rarity proxy a
    perplexity bucket gives: tokens whose corpus document frequency is
    <= 2 are rare; ``rare_ppm`` is the ppm of each document's token
    occurrences that are rare (gibberish / OCR noise up, templated
    boilerplate down).  Vocabulary join is a hash join, never broadcast
    (``operators/text.py:rare_token_stats``)."""
    return textops.rare_token_stats(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query(
    "docs_quality_retention_curve",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, {P.quality_score_ppm('text', DUCK)} AS q, n_chars
      FROM documents
    ),
    t(threshold) AS (VALUES (0), (100000), (200000), (300000), (400000),
                            (500000), (600000), (700000), (800000), (900000)),
    tot AS (SELECT COUNT(*) AS tn, SUM(n_chars) AS tw FROM scored),
    r AS (
      SELECT t.threshold, COUNT(s.doc_id) AS n_rows,
             COALESCE(SUM(s.n_chars), 0) AS total_weight
      FROM t LEFT JOIN scored s ON s.q >= t.threshold
      GROUP BY t.threshold
    )
    SELECT CAST(r.threshold AS BIGINT) AS threshold,
           CAST(r.n_rows AS BIGINT) AS n_rows,
           CAST(r.total_weight AS BIGINT) AS total_weight,
           CAST(CASE WHEN tot.tn > 0
                THEN r.n_rows * 1000000 // tot.tn ELSE 0 END AS BIGINT)
             AS row_ppm,
           CAST(CASE WHEN tot.tw > 0
                THEN r.total_weight * 1000000 // tot.tw ELSE 0 END AS BIGINT)
             AS weight_ppm
    FROM r CROSS JOIN tot
    """,
)
def docs_quality_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-calibration sweep: documents and characters surviving each
    candidate quality cutoff (0..900k ppm) — read BEFORE committing a
    threshold at corpus scale (pick the cutoff that meets the token
    budget).  One corpus pass aggregates per score bucket; the sweep is
    a reversed cumulative over that tiny frame
    (``operators/sampling.py:retention_curve``)."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "_q", F.expr(P.quality_score_ppm("text", SPARK))
    )
    return sampling.retention_curve(
        docs, "_q", "n_chars",
        thresholds=[i * 100_000 for i in range(10)],
    )


@query(
    "docs_shared_ngram_ppm",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id,
             {P.hash_array(P.tokens('text', DUCK), DUCK)} AS th
      FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest({P.token_hash_ngrams_all('th', 8, DUCK)}) AS g
      FROM toked
    ),
    gd AS (
      SELECT g, COUNT(*) AS docs FROM (
        SELECT DISTINCT doc_id, g FROM grams) GROUP BY g
    ),
    pd AS (
      SELECT grams.doc_id, COUNT(*) AS n_grams,
             SUM(CASE WHEN gd.docs >= 2 THEN 1 ELSE 0 END) AS shared_grams
      FROM grams JOIN gd USING (g) GROUP BY grams.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(pd.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(pd.shared_grams, 0) AS BIGINT) AS shared_grams,
           CAST(CASE WHEN COALESCE(pd.n_grams, 0) > 0
                THEN pd.shared_grams * 1000000 // pd.n_grams
                ELSE 0 END AS BIGINT) AS shared_ppm
    FROM documents d LEFT JOIN pd USING (doc_id)
    """,
)
def docs_shared_ngram_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span exposure (memorization-risk audit,
    Lee et al. arXiv:2107.06499 at 8-gram resolution): per document,
    the ppm of its word 8-gram occurrences that appear in >= 2
    documents — boilerplate/template spans a dedup pass missed.
    Gram->doc counts key on the rolling-hash shingle (cardinality grows
    with the corpus); the vocabulary joins back by hash, never
    broadcast (``operators/text.py:shared_ngram_profile``)."""
    return textops.shared_ngram_profile(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query(
    "events_salted_segment_join",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(e.user_id) AS BIGINT) AS sum_user_id
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def events_salted_segment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact-to-dim enrichment on the SALTED JOIN plan
    (``operators/relational.py:salted_join``): hot fact keys — detected
    distributedly by the two-pass Misra-Gries heavy-hitter operator,
    never collected — are spread over 8 salt buckets, with the dim
    side's hot rows replicated once per salt.  One scan per side, no
    broadcast requirement, and no reducer ever owns a hot key's full
    row set: the manual rewrite for single-KEY skew that AQE's
    partition-level skew handling cannot split.  Result is exactly the
    plain join (every key match pairs at one salt value)."""
    events = load(spark, sf_dir, "events").select("user_id", "event_id")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = relational.salted_join(
        events, cust, "user_id", buckets=8, hot_freq_ppm=8000
    )
    return joined.groupBy(
        F.col("c_mktsegment").alias("segment")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("user_id").cast("long").alias("sum_user_id"),
    )


@query(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    pairs AS (
      SELECT DISTINCT f.cohort_day,
             CAST(e.ts AS DATE) - f.cohort_day AS day_offset,
             e.user_id
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM pairs GROUP BY cohort_day, day_offset
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST event date,
    counted distinct per day-offset — the product-analytics staple.
    Scale shape: first-dates are one map-side-combined MIN aggregate
    (shuffle carries one row per user); the join back is keyed on the
    same user_id partitioning; the distinct stage shuffles (cohort,
    offset, user) triples, never raw events; the final count is
    cohortxoffset-sized."""
    events = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    firsts = events.groupBy("user_id").agg(
        F.min("d").alias("cohort_day")
    )
    pairs = (
        events.join(firsts, "user_id")
        .select(
            "cohort_day",
            F.datediff("d", "cohort_day").cast("long").alias("day_offset"),
            "user_id",
        )
        .distinct()
    )
    return pairs.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


@query(
    "docs_source_curation_funnel",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source,
             {P.gopher_pass('text', 'toks', DUCK)} AS gp,
             {P.fingerprint('text', DUCK)} AS fp
      FROM (SELECT doc_id, source, text, {P.tokens('text', DUCK)} AS toks
            FROM documents)
    ),
    tot AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(CASE WHEN gp THEN 1 ELSE 0 END) AS n_gopher
      FROM base GROUP BY source
    ),
    sv AS (
      SELECT arg_min(source, doc_id) AS source
      FROM base WHERE gp GROUP BY fp
    ),
    svc AS (SELECT source, COUNT(*) AS n_survivors FROM sv GROUP BY source)
    SELECT t.source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_gopher AS BIGINT) AS n_gopher,
           CAST(COALESCE(n_survivors, 0) AS BIGINT) AS n_survivors
    FROM tot t LEFT JOIN svc ON t.source = svc.source
    """,
)
def docs_source_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation funnel — the acquisition report a curation
    pipeline publishes per ingest: documents per source, Gopher-rule
    passes, and exact-dedup survivors among the passes (fingerprint
    min-id keeper, attributed to the KEEPER's source).  All three
    stages fold into two map-side-combined aggregates plus one
    fingerprint-keyed survivor aggregate; nothing is per-pair or
    corpus-collected."""
    docs = load(spark, sf_dir, "documents")
    flagged = textops.with_fingerprint(
        textops.with_gopher_flags(docs, "text"), "text"
    )
    # materialize the narrow flag projection ONCE: the totals and the
    # survivor aggregates otherwise each re-run the gopher + fingerprint
    # chains from their own scan (plan: the chains inlined per branch)
    flagged = flagged.select(
        "doc_id", "source", "gopher_pass", "fingerprint"
    ).transform(ckpt_lazy)
    tot = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("gopher_pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_gopher"),
    )
    surv = (
        flagged.where("gopher_pass")
        .groupBy("fingerprint")
        .agg(F.min_by("source", "doc_id").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_survivors"))
    )
    return tot.join(surv, "source", "left").na.fill({"n_survivors": 0})


@query(
    "lineitem_benford_audit",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM lineitem WHERE l_extendedprice >= 1
    ),
    tot AS (SELECT COUNT(*) AS t FROM digits)
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) * 1000000 // (SELECT t FROM tot) AS BIGINT)
             AS observed_ppm
    FROM digits GROUP BY digit
    """,
)
def lineitem_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of extended prices — the
    fraud/synthetic-data smoke test a quality pipeline runs on money
    columns (natural multiplicative data leads with '1' ~30.1% of the
    time; uniform synthetic data shows up flat).  One map-side-combined
    9-row aggregate over one pruned scan; comparison against the
    Benford expectation happens on the 9-row output."""
    li = load(spark, sf_dir, "lineitem").where("l_extendedprice >= 1")
    digits = li.select(
        F.substring(
            F.floor("l_extendedprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # the over() frame runs on the 9-row digit aggregate only
    return counts.withColumn(
        "observed_ppm",
        F.expr("n * 1000000 div sum(n) over ()").cast("long"),
    ).select("digit", "n", "observed_ppm")


@query(
    "events_value_trend_by_type",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CAST(epoch_ms(ts) // 1000 AS BIGINT) - 1704067200 AS x,
             CAST(value AS DECIMAL(27,6)) AS y
      FROM events
    ),
    sums AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             -- true scale is 6 (x integral, y scale 6): the down-casts
             -- are lossless and keep later products inside DECIMAL(38)
             CAST(SUM(CAST(x AS DECIMAL(38,6)) * y) AS DECIMAL(38,6))
               AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx
      FROM pts GROUP BY event_type
    ),
    parts AS (
      SELECT event_type, n,
             CAST(CAST(n AS DECIMAL(38,6)) * sxy
               - CAST(sx AS DECIMAL(38,6)) * sy AS DECIMAL(38,6)) AS num,
             CAST(n AS HUGEINT) * sxx
               - CAST(sx AS HUGEINT) * sx AS den
      FROM sums
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(CASE WHEN den = 0 THEN 0 ELSE
             (CASE WHEN num < 0 THEN -1 ELSE 1 END)
             * ((CAST(abs(num) * 1000000 AS HUGEINT) * 1000)
                // CAST(den AS HUGEINT))
           END AS BIGINT) AS slope_ppb
    FROM parts
    """,
)
def events_value_trend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type least-squares trend of event value over time (is this
    metric drifting?), exactly: x is integer seconds since a fixed
    epoch, y an exact decimal, so the normal-equation sums are exact
    and the slope emerges as integer ppb via sign-split floor division
    (both engines floor identically on non-negatives; the sign is
    extracted first).  One map-side-combined aggregate per type — the
    regression never materializes points."""
    events = load(spark, sf_dir, "events")
    # x in whole seconds past 2024-01-01T00:00Z (both engines FLOOR the
    # sub-second part: unix_timestamp here, epoch_ms // 1000 there)
    pts = events.select(
        "event_type",
        (F.unix_timestamp("ts").cast("long") - F.lit(1704067200)).alias(
            "x"
        ),
        F.col("value").cast("decimal(27,6)").alias("y"),
    )
    sums = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,6)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    parts = sums.select(
        "event_type",
        "n",
        (
            F.col("n").cast("decimal(38,6)") * F.col("sxy")
            - F.col("sx").cast("decimal(38,6)") * F.col("sy")
        ).alias("num"),
        (
            F.col("n").cast("decimal(38,0)") * F.col("sxx")
            - F.col("sx").cast("decimal(38,0)") * F.col("sx")
        ).alias("den"),
    )
    # exact integer quotient: num has scale 6, so abs(num)*1e6 is an
    # integral decimal; *1000 gives num*1e9 and `div` (truncating, both
    # operands non-negative) equals DuckDB's floor `//`
    return parts.select(
        "event_type",
        "n",
        F.when(F.col("den") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.when(F.col("num") < 0, F.lit(-1)).otherwise(F.lit(1))
            * F.expr(
                "CAST((CAST(abs(num) * 1000000 AS DECIMAL(38,0)) * 1000)"
                " div CAST(den AS DECIMAL(38,0)) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("slope_ppb"),
    )


@query(
    "customer_name_typo_pairs",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE a.c_custkey < 200 AND b.c_custkey < 200
      AND levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def customer_name_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant entity matching: customer-name pairs within edit
    distance 1, via the SymSpell deletion-neighborhood join
    (``operators/dedup.py:edit_distance_pairs``) — each name explodes
    into its len+1 one-char-deletion variants, candidates come from the
    variant equi-join (inverted index, fan-out bounded by bucket
    occupancy, never |corpus|^2), and exact ``levenshtein`` verifies.
    The oracle is the naive all-pairs form DuckDB can afford on the
    fixed 200-customer slice; the Spark plan is the one that survives
    a 100 TB entity table."""
    cust = load(spark, sf_dir, "customer").where(
        F.col("c_custkey") < 200
    )
    return dedup.edit_distance_pairs(cust, "c_custkey", "c_name").select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "dist",
    )


@query(
    "ann_topk_random_projection",
    oracle=f"""
    WITH red AS (
      SELECT vec_id,
             {P.random_project('embedding', 64, 16, 'rp', DUCK)} AS rv
      FROM embeddings
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {P.dot('q.rv', 'c.rv', DUCK)}
               / ({P.norm('q.rv', DUCK)} * {P.norm('c.rv', DUCK)}) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {P.dot('q.rv', 'c.rv', DUCK)}
                 / ({P.norm('q.rv', DUCK)} * {P.norm('c.rv', DUCK)}) DESC,
                 c.vec_id ASC
             ) AS rank
      FROM red q JOIN red c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 5
    ) t WHERE rank <= 3
    """,
)
def ann_topk_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss search: embeddings projected 64 -> 16 dims
    by a deterministic md5-derived ±1 sign matrix inlined as a literal
    (``operators/similarity.py:random_projection`` — no RNG, nothing
    shipped to executors), then exact cosine top-k in the REDUCED
    space.  The projection is one per-row JVM-side expression pass (no
    shuffle, no Python); downstream distance work drops 4x.  Fold-order
    accumulation makes the projected values — and therefore the
    ranking — bit-identical to the DuckDB replay."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    red = similarity.random_projection(
        emb, "embedding", in_dim=64, out_dim=16
    ).select("vec_id", F.col("rvec").alias("embedding"))
    return similarity.cosine_topk(
        red, red.where(F.col("vec_id") < 5), k=3
    )


_BIPARTITE_EDGES_CTE = """e0 AS (
      SELECT 's:' || source AS src, 'l:' || lang AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM documents GROUP BY source, lang
    ),
    edges AS (
      SELECT src, dst, w FROM e0
      UNION ALL SELECT dst, src, w FROM e0
    )"""


def _pagerank_oracle_sql(
    iterations: int = 5, edges_cte: str = _BIPARTITE_EDGES_CTE
) -> str:
    """Unrolled-CTE DuckDB replay of ``graph.pagerank_exact`` over any
    ``edges(src, dst, w)`` CTE (default: the source<->lang bipartite
    graph): one CTE per iteration, every value an exact integer, so it
    matches Spark bit-for-bit (no recursive CTE needed — the iteration
    count is fixed)."""
    its = []
    for i in range(iterations):
        its.append(f"""
    it{i + 1} AS (
      SELECT n.node,
             (150000000 // (SELECT n FROM nn))
             + (850000 * COALESCE(c.s, 0)) // 1000000 AS pr
      FROM nodes n LEFT JOIN (
        SELECT t.dst, SUM((p.pr * t.tw) // 1000000) AS s
        FROM it{i} p JOIN trans t ON p.node = t.src GROUP BY t.dst
      ) c ON n.node = c.dst
    )""")
    return f"""
    WITH {edges_cte},
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
    trans AS (
      SELECT e.src, e.dst, (e.w * 1000000) // o.ow AS tw
      FROM edges e JOIN outw o USING (src)
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    it0 AS (
      SELECT node, 1000000000 // (SELECT n FROM nn) AS pr FROM nodes
    ),{",".join(its)}
    SELECT node, CAST(pr AS BIGINT) AS pr_ppb FROM it{iterations}
    """


@query("docs_source_lang_pagerank", oracle=_pagerank_oracle_sql(5))
def docs_source_lang_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (5 iterations, damping 0.85) over the bipartite
    source<->lang co-occurrence graph — which sources/languages sit at
    the center of the corpus mix.  Runs on
    ``operators/graph.py:pagerank_exact``: INTEGER fixed-point
    throughout (rank in ppb, transitions in ppm, floor division), so an
    iterative algorithm that is normally float-order-dependent gets a
    full value-exact oracle — the DuckDB side replays the same
    arithmetic as unrolled CTEs.  Per iteration: one rank-edge join
    (shuffle on src) + one map-side-combined SUM by dst, the canonical
    distributed PageRank step; lineage truncated per round."""
    from .operators import graph

    docs = load(spark, sf_dir, "documents")
    e0 = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    ).select(
        F.concat(F.lit("s:"), F.col("source")).alias("src"),
        F.concat(F.lit("l:"), F.col("lang")).alias("dst"),
        "w",
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    return graph.pagerank_exact(edges, "src", "dst", "w", iterations=5)


@query(
    "parts_copurchase_triangles",
    oracle="""
    WITH li AS (
      SELECT l.l_orderkey, l.l_partkey
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderpriority = '1-URGENT'
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT x, COUNT(*) AS d
      FROM (SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0)
      GROUP BY 1
    ),
    tri AS (
      SELECT COUNT(*) AS n
      FROM e0 e1
      JOIN e0 e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN e0 e3 ON e3.u = e1.v AND e3.v = e2.v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_vertices,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges,
           (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
           (SELECT CAST(n AS BIGINT) FROM tri) AS n_triangles,
           CAST(CASE WHEN (SELECT SUM(d * (d - 1) // 2) FROM deg) = 0 THEN 0
                ELSE 3 * (SELECT n FROM tri) * 1000000
                     // (SELECT SUM(d * (d - 1) // 2) FROM deg)
           END AS BIGINT) AS clustering_ppm
    """,
)
def parts_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the urgent-order part co-purchase graph
    (``operators/graph.py:triangle_stats``): ~240k edges / 6.8M raw
    wedges at sf0.1.  The Spark path counts via degree-ordered
    orientation — wedges enumerate only from OUT-edges, bounding
    fan-out at O(sqrt(E)) per vertex even on scale-free degree
    distributions — while the oracle is the direct u<v<w triple join
    (identical count by the orientation's exactly-once guarantee,
    feasible only at gate scale).  All-integer output, bit-exact."""
    from .operators import graph

    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    li = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
    )
    return graph.triangle_stats(pairs, "pa", "pb")


@query("parts_copurchase_kcore")  # no oracle: iterative peel (pytest-pinned)
def parts_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-cluster detection on the urgent-order part co-purchase
    graph: the **k-core** (``graph.k_core``, iterative peel — per round
    one vertex-keyed degree aggregate + two anti-joins, edge list only
    shrinks) keeps exactly the parts embedded in >= k-way co-purchase
    neighborhoods — the link-farm / spam-ring shape detector of corpus
    graphs.  Peeling is a whole-graph fixpoint no single SQL statement
    expresses (aggregates aren't allowed in a recursive CTE's
    recursive term), so the driver check is rows-only and exactness is
    pinned by ``tests/test_operators.py::TestKCore`` against a pure-
    python reference peel on random graphs.  Summarized as one row per
    surviving core degree (count + min/max part key) to keep the
    output stable and small.  Scoped to one quarter of urgent orders —
    the per-round cost is a fixed number of vertex-keyed jobs, so the
    quarter scope bounds wall-time without changing the shape."""
    from .operators import graph

    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1995-04-01"))
    ).select("o_orderkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    li = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
    )
    core = graph.k_core(pairs, "pa", "pb", k=3)
    return (
        core.groupBy("degree")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.min("vertex").cast("long").alias("min_part"),
            F.max("vertex").cast("long").alias("max_part"),
        )
        .orderBy("degree")
    )


@query(
    "docs_heavy_hitter_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({P.tokens('text', DUCK)}) AS tok FROM documents
    ),
    tot AS (SELECT COUNT(*) AS t FROM toks)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) * 1000000 // (SELECT t FROM tot) AS BIGINT)
             AS freq_ppm
    FROM toks
    GROUP BY tok
    HAVING COUNT(*) * 1000000 >= 10000 * (SELECT t FROM tot)
    """,
)
def docs_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus census: every token at >= 1% of all token occurrences,
    with exact counts — on the two-pass Misra-Gries plan
    (``operators/relational.py:heavy_hitters_exact``): bounded-state
    candidate generation per partition (200 counters here, NO shuffle),
    then exact verification where only candidate keys enter the count
    shuffle.  The oracle's global GROUP BY materializes the full token
    vocabulary (corpus-sized at 100 TB: n-gram keys, URLs, user ids);
    this plan's shuffle is capped at 2e6/min_freq_ppm + 1 rows no
    matter the input.  Adversarial skew/spread cases are pinned in
    ``tests/test_operators.py:TestHeavyHittersExact``."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.expr(P.tokens("text", SPARK))).alias("tok")
    )
    return relational.heavy_hitters_exact(toks, "tok", min_freq_ppm=10_000)


@query(
    "events_peak_concurrency_daily",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) > 1800000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
      FROM gaps
    ),
    sess AS (
      SELECT user_id, sid, MIN(ts) AS st, MAX(ts) AS en
      FROM s GROUP BY user_id, sid
    ),
    bounds AS (
      SELECT st AS ts, 1 AS delta FROM sess
      UNION ALL
      SELECT en AS ts, -1 AS delta FROM sess
    ),
    sweep AS (
      SELECT ts, delta,
             SUM(delta) OVER (ORDER BY ts ASC, delta ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS conc
      FROM bounds
    )
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrent
    FROM sweep WHERE delta = 1 GROUP BY 1
    """,
)
def events_peak_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous user sessions per calendar day — the capacity
    question ("how many sessions were open at once?") answered by a
    sweep-line over session intervals, NOT a range self-join (which is
    O(sessions x active-set) and unrunnable at corpus scale).

    Sessions are the 30-min-gap sessions of ``events_session_summary``
    (ms-resolution gap, identical batch/stream/oracle semantics); the
    sweep is ``relational.interval_concurrency`` — hierarchical
    two-level prefix sum, so the only global window runs over one row
    per HOUR of timeline, never one row per session.  The oracle's
    global running sum is the naive single-task formulation of the same
    multiset of boundary values; per-day MAX over session-open instants
    is tie-run-invariant, so both plans agree exactly.  A session that
    spans midnight carries into the next day's buckets via the hourly
    carry-in, with no boundary row needed inside that day."""
    from .streaming.events import sessionize_with_timeout

    sess = sessionize_with_timeout(
        load(spark, sf_dir, "events"), gap_minutes=30
    ).select("session_start", "session_end")
    conc = relational.interval_concurrency(
        sess, "session_start", "session_end", bucket="hour"
    )
    return (
        conc.where(F.col("delta") == 1)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.max("concurrency").alias("peak_concurrent"))
    )


@query(
    "events_value_quantile_sketch_rollup",
    oracle=f"""
    WITH c AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             {P.money_cents("value", DUCK)} AS cents
      FROM events WHERE value IS NOT NULL
    ),
    b AS (
      SELECT day, {P.log2_linear_bucket("cents", DUCK)} AS bucket FROM c
    ),
    cells AS (
      SELECT day, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2
    ),
    m AS (
      SELECT CAST(date_trunc('month', day) AS DATE) AS month, bucket,
             SUM(cnt) AS cnt
      FROM cells GROUP BY 1, 2
    ),
    w AS (
      SELECT month, bucket, cnt,
             SUM(cnt) OVER (PARTITION BY month ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY month) AS n,
             {P.log2_linear_bucket_ub("bucket", DUCK)} AS ub
      FROM m
    )
    SELECT month, CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN ub END) AS BIGINT)
             AS p50_ub_cents,
           CAST(MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN ub END) AS BIGINT)
             AS p90_ub_cents,
           CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN ub END) AS BIGINT)
             AS p99_ub_cents
    FROM w GROUP BY month
    """,
)
def events_value_quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable QUANTILE rollup — the quantile analogue of
    ``events_hll_rollup_reaggregate``, but DETERMINISTIC, so unlike the
    HLL entry it carries a full value-exact oracle.  Daily
    ``(day, log2-linear bucket, count)`` cells are the stored rollup
    (DDSketch-shaped: 8 sub-buckets per octave via pure integer
    ``length(bin(cents))`` math — bit-portable across engines,
    ``functions/portable.py:log2_linear_bucket``); any coarser slice
    (here: monthly p50/p90/p99 upper bounds, < 12.5% above the true
    quantile by construction) re-aggregates the cells by SUMMING
    COUNTS — the fact table is never rescanned.

    Scale shape: two map-side-combined aggregates (events → daily
    cells → monthly cells); the only windows run over the monthly
    BUCKET frame (≤ ~150 rows per month, aggregate-first — passes the
    SinglePartition invariant).  Accuracy bound pinned against exact
    percentiles in ``tests/test_catalog.py``."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    # inline-once rule: cents is projected before the bucket expression
    cents = ev.selectExpr(
        "CAST(ts AS DATE) AS day", f"{P.money_cents('value', SPARK)} AS cents"
    )
    bucketed = cents.selectExpr(
        "day", f"{P.log2_linear_bucket('cents', SPARK)} AS bucket"
    )
    cells = bucketed.groupBy("day", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    monthly = cells.groupBy(
        F.trunc("day", "month").alias("month"), "bucket"
    ).agg(F.sum("cnt").alias("cnt"))
    wcum = (
        Window.partitionBy("month").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("month")
    w = monthly.select(
        "month",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
        F.expr(P.log2_linear_bucket_ub("bucket", SPARK)).alias("ub"),
    )
    # ranks via INTEGER division (matching the oracle's // — float /
    # would shift ceil((9n+9)/10) up whenever 10 doesn't divide evenly)
    pick = lambda rank_expr: F.min(  # noqa: E731
        F.when(F.col("cum") >= F.expr(rank_expr), F.col("ub"))
    )
    return w.groupBy("month").agg(
        F.max("n").alias("n_events"),
        pick("(n + 1) div 2").cast("long").alias("p50_ub_cents"),
        pick("(9 * n + 9) div 10").cast("long").alias("p90_ub_cents"),
        pick("(99 * n + 99) div 100").cast("long").alias("p99_ub_cents"),
    )


@query(
    "customer_basket_similarity",
    oracle="""
    WITH cb AS (
      SELECT DISTINCT o.o_custkey AS cust, c.c_nationkey AS nk,
             l.l_partkey AS t
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    sizes AS (SELECT cust, COUNT(*) AS n FROM cb GROUP BY cust),
    inter AS (
      SELECT a.cust AS ca, b.cust AS cb2, COUNT(*) AS i
      FROM cb a
      JOIN cb b ON a.t = b.t AND a.nk = b.nk AND a.cust < b.cust
      GROUP BY 1, 2
    )
    SELECT ca AS cust_a, cb2 AS cust_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.cust = ca
    JOIN sizes sb ON sb.cust = cb2
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.05
    """,
)
def customer_basket_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-market customers with overlapping purchase baskets
    (Jaccard >= 0.05 over distinct part keys, BLOCKED by nation) —
    entity-similarity on a NON-TEXT set through the generic
    inverted-index core (``dedup.set_jaccard_pairs``, the same join
    text shingles and video frame hashes use): explode each basket
    once, equi-join on (part key, nation), the match count IS the
    intersection.  The nation block is the scale lever measured here:
    UNBLOCKED, every part key fans out occupancy² candidate pairs
    corpus-wide (~9M at sf0.1, 5.2s); blocking by market divides
    occupancy per key by the block count and cut the steady-state run
    to ~2s.  Basket size is naturally bounded (a customer's distinct
    parts), and the hot-element knob (``max_item_df``) stays OFF so
    the oracle's full self-join semantics match exactly.  The
    intersection/union division follows the portable jaccard idiom
    (CAST AS DOUBLE over exact BIGINTs — identical IEEE both
    engines)."""
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"), "o_orderkey"
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), F.col("c_nationkey").alias("nation")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        # no broadcast hint on the customer dimension: it is the FULL
        # customer table (15M+ rows at 100×), and an explicit hint
        # overrides AQE — let AQE pick broadcast when the stats allow
        .join(cust, "cust")
        .select("cust", "nation", "l_partkey")
        .groupBy("cust", "nation")
        .agg(F.collect_set("l_partkey").alias("parts"))
    )
    return dedup.set_jaccard_pairs(
        baskets, "cust", "parts", threshold=0.05, block_col="nation"
    )


def _zorder_oracle_sql() -> str:
    from .operators import layout

    z = layout.zvalue_sql(["ck_b", "day_b"], bits=10)
    return f"""
    WITH pts AS (
      SELECT o_custkey,
             datediff('day', DATE '1992-01-01', o_orderdate) AS day
      FROM orders
    ),
    b AS (
      SELECT MIN(o_custkey) AS ck0, MAX(o_custkey) AS ck1,
             MIN(day) AS d0, MAX(day) AS d1
      FROM pts
    ),
    norm AS (
      SELECT p.o_custkey, p.day,
             ((CAST(p.o_custkey AS BIGINT) - b.ck0) * 1024)
               // (b.ck1 - b.ck0 + 1) AS ck_b,
             ((CAST(p.day AS BIGINT) - b.d0) * 1024)
               // (b.d1 - b.d0 + 1) AS day_b
      FROM pts p CROSS JOIN b
    )
    SELECT ({z} >> 14) AS cell,
           COUNT(*) AS n_orders,
           MIN(o_custkey) AS min_ck, MAX(o_custkey) AS max_ck,
           CAST(MIN(day) AS BIGINT) AS min_day,
           CAST(MAX(day) AS BIGINT) AS max_day
    FROM norm
    GROUP BY cell
    """


@query("orders_zorder_cells", oracle=_zorder_oracle_sql())
def orders_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-value cells over (customer, order-day): the bit
    -interleave that powers multi-dimensional file skipping
    (``operators/layout.py``).  Both dimensions are first normalized to
    ``[0, 2**bits)`` by an integer-exact affine bucket map from their
    observed min/max — the ``zvalue`` contract's precondition (round-6
    advice: feeding raw keys wraps under the ``& 1023`` mask beyond
    sf0.001 / ~year 1994, aliasing distant key regions) — so the plan
    is scale-factor-independent.  The bounds come from one tiny 2-row
    aggregate broadcast back (driver state: 4 longs); the bucket map
    and the Morton interleave are pure integer shift/AND/OR (whole
    -stage codegen, and the oracle runs the IDENTICAL arithmetic via
    ``layout.zvalue_sql``).  Grouping by the top 6 bits yields the
    coarse curve cells whose per-cell min/max spans stay tight on BOTH
    dimensions at once — exactly the footer envelopes a z-ordered
    rewrite gives every file.  One broadcast + one map-side-combined
    aggregate; no other shuffle."""
    from .operators import layout

    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias("day"),
    )
    bounds = o.agg(
        F.min("o_custkey").alias("ck0"), F.max("o_custkey").alias("ck1"),
        F.min("day").alias("d0"), F.max("day").alias("d1"),
    )
    norm = o.crossJoin(F.broadcast(bounds)).select(
        "o_custkey", "day",
        F.expr("((CAST(o_custkey AS BIGINT) - ck0) * 1024)"
               " div (ck1 - ck0 + 1)").alias("ck_b"),
        F.expr("((CAST(day AS BIGINT) - d0) * 1024)"
               " div (d1 - d0 + 1)").alias("day_b"),
    )
    z = layout.zvalue(["ck_b", "day_b"], bits=10)
    return (
        norm.withColumn("_z", z)
        .groupBy(F.shiftright("_z", 14).alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_custkey").alias("min_ck"),
            F.max("o_custkey").alias("max_ck"),
            F.min("day").cast("long").alias("min_day"),
            F.max("day").cast("long").alias("max_day"),
        )
    )


@query(
    "docs_weighted_median_quality",
    oracle=f"""
    WITH q AS (
      SELECT lang,
             CAST({P.quality_score_ppm('text', DUCK)} AS BIGINT) AS quality_ppm,
             CAST({P.token_count('text', DUCK)} AS BIGINT) AS ntok
      FROM documents WHERE text IS NOT NULL
    ),
    c AS (SELECT lang, quality_ppm,
                 SUM(ntok) OVER (PARTITION BY lang ORDER BY quality_ppm
                                 ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(ntok) OVER (PARTITION BY lang) AS W
          FROM (SELECT lang, quality_ppm, SUM(ntok) AS ntok
                FROM q WHERE ntok > 0 GROUP BY lang, quality_ppm) h)
    SELECT lang, MIN(quality_ppm) AS weighted_median,
           CAST(MIN(W) AS BIGINT) AS total_weight
    FROM c WHERE 2 * cum >= W GROUP BY lang
    """,
)
def docs_weighted_median_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted median quality per language
    (``relational.weighted_median``): the quality level at which half
    the language's TOKENS sit at-or-below — the curation center that a
    document-count median misstates when long documents skew quality.
    Histogram-prefix plan (windows bounded by distinct quality values
    per language); exact integer arithmetic, value-exact oracle."""
    docs = load(spark, sf_dir, "documents").select(
        "lang",
        F.expr(P.quality_score_ppm("text", SPARK)).cast("long")
        .alias("quality_ppm"),
        F.expr(P.token_count("text", SPARK)).cast("long").alias("ntok"),
    )
    return relational.weighted_median(docs, "lang", "quality_ppm", "ntok")


def _embedding_coverage_sql(d: str) -> str:
    # coverage_ppm via integer floor division (Spark `div` / DuckDB `//`)
    # like every other ppm metric: float `/` + CAST AS BIGINT truncates
    # in Spark but rounds-to-nearest in DuckDB, so the two engines
    # disagree whenever covered*1e6 is not an exact multiple of total.
    covered = "(SELECT COUNT(*) FROM d JOIN e ON e.vec_id = d.doc_id)"
    total = "(SELECT COUNT(*) FROM d)"
    ppm = P.int_div(f"{covered} * 1000000", total, d)
    return f"""
    WITH d AS (SELECT doc_id FROM documents),
    e AS (SELECT vec_id FROM embeddings)
    SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_docs,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_embeddings,
           CAST({covered} AS BIGINT) AS n_docs_with_embedding,
           CAST((SELECT COUNT(*) FROM e
                 WHERE NOT EXISTS (SELECT 1 FROM d WHERE d.doc_id = e.vec_id))
             AS BIGINT) AS n_orphan_embeddings,
           CAST({ppm} AS BIGINT) AS coverage_ppm
    """


@query("docs_embedding_coverage", oracle=_embedding_coverage_sql(DUCK))
def docs_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-table reconciliation every multimodal / embedding
    pipeline runs before trusting joins between the text and vector
    stores — missing embeddings silently shrink semantic dedup and ANN
    coverage, orphans signal id drift.  Two key-only scans; the
    joins/anti are key-keyed and the output is one row.  Same SQL both
    engines except coverage_ppm's integer floor division, rendered per
    dialect (value-exact for ANY coverage ratio, not just clean ones)."""
    register_views(spark, sf_dir, "documents", "embeddings")
    return spark.sql(_embedding_coverage_sql(SPARK))


def _duck_code_switch_oracle() -> str:
    norm = P.regexp_replace_all("x", r"\s+", " ", DUCK)
    sent = (
        f"list_filter(list_transform("
        f"regexp_split_to_array(lower(coalesce(text, '')), '[.!?]+'), "
        f"x -> trim({norm})), s -> s <> '')"
    )
    return f"""
    WITH s AS (
      SELECT doc_id, {P.lang_id('sv', DUCK)} AS lang
      FROM (SELECT doc_id, unnest({sent}) AS sv FROM documents)
    ),
    pl AS (SELECT doc_id, lang, COUNT(*) AS n FROM s GROUP BY 1, 2),
    tot AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_sentences,
                   CAST(COUNT(*) AS BIGINT) AS n_langs
            FROM pl GROUP BY doc_id),
    dom AS (
      SELECT doc_id, lang AS dominant_lang, n AS dn FROM (
        SELECT doc_id, lang, n,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY n DESC, lang ASC) AS rk
        FROM pl) t WHERE rk = 1
    )
    SELECT t.doc_id, t.n_sentences, t.n_langs, d.dominant_lang,
           CAST(d.dn * 1000000 // t.n_sentences AS BIGINT) AS dominant_ppm,
           t.n_langs >= 2 AS code_switched
    FROM tot t JOIN dom d USING (doc_id)
    """


@query("docs_code_switch", oracle=_duck_code_switch_oracle())
def docs_code_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language (code-switch) detection
    (``text.code_switch_profile``): per-sentence lang-ID rolled up per
    document — dominant language (count-then-alphabetical tie-break),
    dominant share in exact ppm, and a multilingual flag that a
    document-level lang-ID alone cannot produce.  One explode scan, one
    (doc, lang) aggregate, a per-doc window over ≤ #langs rows;
    value-exact against the replayed portable expressions."""
    return textops.code_switch_profile(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


def _duck_dup_sentences_oracle(min_docs: int = 2) -> str:
    """DuckDB twin of ``text.duplicate_sentence_profile``: same split,
    same normalization, same rolling hashes, same ppm arithmetic."""
    norm = P.regexp_replace_all("x", r"\s+", " ", DUCK)
    sent = (
        f"list_filter(list_transform("
        f"regexp_split_to_array(lower(coalesce(text, '')), '[.!?]+'), "
        f"x -> trim({norm})), s -> s <> '')"
    )
    hashes = P.hash_array(sent, DUCK)
    return f"""
    WITH occ AS (SELECT doc_id, unnest({hashes}) AS sh FROM documents),
    shared AS (SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM occ) t
               GROUP BY sh HAVING COUNT(*) >= {min_docs}),
    pd AS (SELECT o.doc_id,
                  COUNT(*) AS n_sentences,
                  SUM(CASE WHEN s.sh IS NOT NULL THEN 1 ELSE 0 END)
                    AS shared_sentences
           FROM occ o LEFT JOIN shared s USING (sh)
           GROUP BY o.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(p.n_sentences, 0) AS BIGINT) AS n_sentences,
           CAST(COALESCE(p.shared_sentences, 0) AS BIGINT)
             AS shared_sentences,
           CAST(COALESCE(p.shared_sentences * 1000000 // p.n_sentences, 0)
             AS BIGINT) AS shared_ppm
    FROM documents d LEFT JOIN pd p USING (doc_id)
    """


@query("docs_duplicate_sentences", oracle=_duck_dup_sentences_oracle())
def docs_duplicate_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style sentence-level duplication profile
    (``text.duplicate_sentence_profile``): per document, occurrences of
    normalized sentences shared with >= 2 distinct documents, as exact
    integer ppm — the boilerplate signal document-level near-dup
    misses.  Sentences shuffle as rolling hashes only."""
    return textops.duplicate_sentence_profile(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


def _duck_collocations_oracle(k: int = 20, min_count: int = 5) -> str:
    """DuckDB twin of ``text.top_collocations``: identical bigram
    counts and the identical 3-op IEEE double PMI ratio."""
    toks = P.tokens("coalesce(text, '')", DUCK)
    return f"""
    WITH t AS (SELECT {toks} AS tk FROM documents),
    p AS (SELECT tk[i] AS w1, tk[i + 1] AS w2
          FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM t)),
    bg AS (SELECT w1, w2, COUNT(*) AS pair_count FROM p GROUP BY 1, 2),
    tot AS (SELECT SUM(pair_count) AS total FROM bg),
    m1 AS (SELECT w1, SUM(pair_count) AS c1 FROM bg GROUP BY 1),
    m2 AS (SELECT w2, SUM(pair_count) AS c2 FROM bg GROUP BY 1)
    SELECT b.w1, b.w2, CAST(b.pair_count AS BIGINT) AS pair_count,
           (CAST(b.pair_count AS DOUBLE) * CAST(t.total AS DOUBLE))
             / (CAST(m1.c1 AS DOUBLE) * CAST(m2.c2 AS DOUBLE)) AS pmi_ratio
    FROM bg b JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot t
    WHERE b.pair_count >= {min_count}
    ORDER BY pmi_ratio DESC, w1 ASC, w2 ASC LIMIT {k}
    """


@query("docs_top_collocations", oracle=_duck_collocations_oracle())
def docs_top_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase mining: top-20 PMI-ranked adjacent word pairs with a
    count floor (``text.top_collocations``) — pairs that co-occur far
    beyond their margins' prediction, the multi-word-vocab /
    tokenizer-merge candidate list.  The PMI ratio is 3 IEEE double
    ops over exact integer counts (log-free, monotone-equivalent to
    PMI), bit-identical in both engines."""
    return textops.top_collocations(
        load(spark, sf_dir, "documents"), "text", k=20, min_count=5
    )


#: fixed tokenizer merge rules for the APPLY-side query (trained
#: offline in practice; text.bpe_top_merges is the in-engine trainer)
_BPE_FIXED_MERGES = [
    ("t", "h"), ("th", "e"), ("a", "n"), ("an", "d"), ("i", "n"),
    ("e", "r"), ("o", "n"), ("r", "e"),
]


_COALESCED_TEXT = "coalesce(text, '')"


@query(
    "docs_bpe_apply_fixed",
    oracle=f"""
    SELECT doc_id,
           CAST({P.token_count(_COALESCED_TEXT, DUCK)} AS BIGINT)
             AS n_tokens,
           CAST({P.bpe_piece_count(_COALESCED_TEXT, _BPE_FIXED_MERGES, DUCK)}
             AS BIGINT) AS n_pieces
    FROM documents
    """,
)
def docs_bpe_apply_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY at corpus scale: per-document BPE piece counts
    under a fixed 8-rule merge list.  Spark side runs the memoized
    Arrow kernel (``text.bpe_apply_piece_counts`` — each distinct word
    segments once per batch); the oracle runs ``P.bpe_piece_count``'s
    SQL fold — the two folds are property-tested identical, and the
    whole-piece suffix check keeps both exactly greedy-left-to-right
    (reference BPE semantics).  One scan, zero shuffle."""
    return textops.bpe_apply_piece_counts(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        _BPE_FIXED_MERGES,
    )


def _duck_colloc_components_oracle(
    min_count: int = 2, min_pmi: float = 1.5
) -> str:
    """DuckDB twin of ``text.collocation_components``: the same scored
    bigram edges, closed transitively with a recursive CTE."""
    toks = P.tokens("coalesce(text, '')", DUCK)
    return f"""
    WITH RECURSIVE t AS (SELECT {toks} AS tk FROM documents),
    p AS (SELECT tk[i] AS w1, tk[i + 1] AS w2
          FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM t)),
    bg AS (SELECT w1, w2, COUNT(*) AS pair_count FROM p GROUP BY 1, 2),
    tot AS (SELECT SUM(pair_count) AS total FROM bg),
    m1 AS (SELECT w1, SUM(pair_count) AS c1 FROM bg GROUP BY 1),
    m2 AS (SELECT w2, SUM(pair_count) AS c2 FROM bg GROUP BY 1),
    edges AS (
      SELECT b.w1, b.w2
      FROM bg b JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot t
      WHERE b.pair_count >= {min_count}
        AND (CAST(b.pair_count AS DOUBLE) * CAST(t.total AS DOUBLE))
              / (CAST(m1.c1 AS DOUBLE) * CAST(m2.c2 AS DOUBLE))
            >= {min_pmi}),
    undirected AS (SELECT w1 AS a, w2 AS b FROM edges
                   UNION SELECT w2, w1 FROM edges),
    reach(v, r) AS (
      SELECT a, a FROM undirected
      UNION
      SELECT u.a, reach.r FROM undirected u JOIN reach ON reach.v = u.b
    )
    SELECT v AS word, MIN(r) AS component FROM reach GROUP BY v
    """


@query("docs_collocation_components", oracle=_duck_colloc_components_oracle())
def docs_collocation_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase/concept clusters (``text.collocation_components``):
    connected components over the PMI collocation graph — the
    composition of the inverted-index bigram statistics and the
    size-gated union-find / large-star/small-star closure.  The recursive-CTE
    oracle closes the identical edge set."""
    return textops.collocation_components(
        load(spark, sf_dir, "documents"), "text", min_count=2, min_pmi=1.5
    )


@query("docs_bpe_merges")  # no oracle: iterative (greedy merge loop)
def docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training: the first 8 BPE merge rules learned from
    the documents corpus (``text.bpe_top_merges``) — corpus collapses
    to the word-frequency frame once, every greedy iteration runs on
    that vocab-sized frame.  Iterative, so rows-only here; exactness
    vs a pure python BPE reference is pinned in pytest."""
    return textops.bpe_top_merges(
        load(spark, sf_dir, "documents"), "text", n_merges=8
    )


def _duck_vocab_coverage_oracle() -> str:
    """DuckDB twin of ``text.vocab_coverage``: the NAIVE per-token
    ranking (every token ranked individually, count DESC / token ASC),
    which the class-closed-form Spark plan must match exactly."""
    toks = P.tokens("coalesce(text, '')", DUCK)
    return f"""
    WITH tok AS (SELECT unnest({toks}) AS t FROM documents),
    tc AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    ranked AS (SELECT c,
                      SUM(c) OVER (ORDER BY c DESC, t ASC
                                   ROWS UNBOUNDED PRECEDING) AS cum,
                      ROW_NUMBER() OVER (ORDER BY c DESC, t ASC) AS rn
               FROM tc),
    tot AS (SELECT SUM(c) AS total FROM tc)
    SELECT CAST(p.pct AS BIGINT) AS pct,
           CAST(MIN(r.rn) AS BIGINT) AS vocab_size,
           CAST(MIN(r.cum) AS BIGINT) AS covered_occurrences,
           CAST(MIN(t.total) AS BIGINT) AS total_occurrences
    FROM (VALUES (50), (90), (99)) AS p(pct), ranked r, tot t
    WHERE r.cum >= (t.total * p.pct + 99) // 100
    GROUP BY p.pct
    """


def _duck_heaps_oracle(n_buckets: int = 10) -> str:
    toks = P.tokens("text", DUCK)
    return f"""
    WITH nb AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS n FROM documents),
    occ AS (
      SELECT doc_id, unnest({toks}) AS tok FROM documents
    ),
    firsts AS (SELECT tok, MIN(doc_id) AS m FROM occ GROUP BY tok),
    fbuck AS (
      SELECT CAST(m * {n_buckets} // n AS BIGINT) AS bucket,
             COUNT(*) AS new_types
      FROM firsts, nb GROUP BY 1
    ),
    tbuck AS (
      SELECT CAST(doc_id * {n_buckets} // n AS BIGINT) AS bucket,
             COUNT(*) AS toks
      FROM occ, nb GROUP BY 1
    ),
    grid AS (SELECT unnest(range({n_buckets})) AS bucket)
    SELECT CAST(g.bucket AS BIGINT) AS bucket,
           CAST(COALESCE(f.new_types, 0) AS BIGINT) AS new_types,
           CAST(SUM(COALESCE(f.new_types, 0)) OVER w AS BIGINT) AS vocab_cum,
           CAST(SUM(COALESCE(t.toks, 0)) OVER w AS BIGINT) AS tokens_cum
    FROM grid g
    LEFT JOIN fbuck f ON f.bucket = g.bucket
    LEFT JOIN tbuck t ON t.bucket = g.bucket
    WINDOW w AS (ORDER BY g.bucket ROWS UNBOUNDED PRECEDING)
    """


@query("docs_heaps_curve", oracle=_duck_heaps_oracle())
def docs_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: cumulative distinct token
    types vs cumulative token stream over 10 ordered corpus prefixes —
    the diagnostic that says whether vocabulary is still growing
    sub-linearly (healthy natural text) or linearly (id/noise
    pollution), and sizes tokenizer budgets before training.

    Scale shape: a type's first occurrence is ONE token-keyed
    ``min(doc_id)`` aggregate (map-side combined — never a sort);
    per-prefix token totals are a second map-side aggregate keyed by
    the 10 buckets; the only window runs over the 10-row bucket grid.
    All counts exact integers — value-exact oracle."""
    docs = load(spark, sf_dir, "documents")
    n_buckets = 10
    nb = docs.agg((F.max("doc_id") + 1).cast("long").alias("n"))
    occ = docs.select(
        "doc_id", F.explode(F.expr(P.tokens("text", SPARK))).alias("tok")
    )
    firsts = occ.groupBy("tok").agg(F.min("doc_id").alias("m"))
    fbuck = (
        firsts.crossJoin(F.broadcast(nb))
        .select(F.expr(f"m * {n_buckets} div n").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    tbuck = (
        occ.crossJoin(F.broadcast(nb))
        .select(F.expr(f"doc_id * {n_buckets} div n").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("toks"))
    )
    grid = spark.range(n_buckets).select(F.col("id").alias("bucket")).coalesce(1)
    from pyspark.sql import Window

    w = (
        Window.partitionBy(F.lit(1))
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(F.broadcast(fbuck), "bucket", "left")
        .join(F.broadcast(tbuck), "bucket", "left")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.coalesce("new_types", F.lit(0)).cast("long").alias("new_types"),
            F.sum(F.coalesce("new_types", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("vocab_cum"),
            F.sum(F.coalesce("toks", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("tokens_cum"),
        )
    )


@query("docs_vocab_coverage", oracle=_duck_vocab_coverage_oracle())
def docs_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget planning: smallest most-frequent-first vocab
    covering 50/90/99% of the corpus token stream
    (``text.vocab_coverage``).  The Spark plan never ranks individual
    tokens — the only ordered window runs over the count-class
    histogram and the crossing point is closed-form; the oracle ranks
    every token naively and must agree row-for-row."""
    return textops.vocab_coverage(
        load(spark, sf_dir, "documents"), "text"
    )


@query(
    "emb_hard_negatives",
    oracle=f"""
    SELECT query_id, query_label, neighbor_id, neighbor_label, cosine, rank
    FROM (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             c.vec_id AS neighbor_id, c.label AS neighbor_label,
             {_duck_cosine('q.embedding', 'c.embedding')} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_duck_cosine('q.embedding', 'c.embedding')} DESC,
                        c.vec_id ASC
             ) AS rank
      FROM embeddings q JOIN embeddings c
        ON c.vec_id <> q.vec_id AND c.label <> q.label
      WHERE q.vec_id < 10
    ) t WHERE rank <= 5
    """,
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (``similarity.hard_negatives``): per query, the 5 most-similar
    corpus vectors with a DIFFERENT label — boundary negatives, the
    pairs that actually move an embedding model.  Broadcast query set,
    one corpus scan, rank-limit-pushed top-k; exact fold cosine so the
    oracle matches bitwise."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.hard_negatives(
        emb, emb.where(F.col("vec_id") < 10), k=5
    )


def _duck_sq8_oracle(k: int = 5, rerank: int = 4) -> str:
    """DuckDB twin of ``similarity.sq8_topk``: same min/max bounds, same
    per-value quantization, same integer candidate rank, same exact
    double-fold cosine rerank."""
    v = P.cast_double_array("embedding", DUCK)
    codes = P.sq8_codes("v", "b.mn", "b.mx", DUCK)
    return f"""
    WITH v AS (SELECT vec_id, {v} AS v FROM embeddings),
    dims AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx
             FROM (SELECT unnest(v) AS x,
                          unnest(range(1, len(v) + 1)) AS pos FROM v)
             GROUP BY pos),
    b AS (SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx
          FROM dims),
    q8 AS (SELECT vec_id, v, {codes} AS code FROM v CROSS JOIN b),
    cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    q.v AS qv, c.v AS cv,
                    {P.int_dot('q.code', 'c.code', DUCK)} AS approx_dot
             FROM q8 q JOIN q8 c ON c.vec_id <> q.vec_id
             WHERE q.vec_id < 10),
    short AS (SELECT * FROM (
                SELECT cand.*, ROW_NUMBER() OVER (
                  PARTITION BY query_id
                  ORDER BY approx_dot DESC, neighbor_id ASC) AS arank
                FROM cand) t WHERE arank <= {k * rerank})
    SELECT query_id, neighbor_id, approx_dot, cosine, rank FROM (
      SELECT query_id, neighbor_id, approx_dot,
             {P.cosine('qv', 'cv', DUCK)} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY {P.cosine('qv', 'cv', DUCK)} DESC,
                        neighbor_id ASC) AS rank
      FROM short) t WHERE rank <= {k}
    """


@query("ann_topk_sq8", oracle=_duck_sq8_oracle())
def ann_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) ANN with exact rerank
    (``similarity.sq8_topk``): 8-bit per-dimension codes from corpus
    min/max bounds, integer code-dot candidate ranking (top 20 per
    query), exact double-cosine rerank to top 5 — the int8
    memory/bandwidth play of production vector search, relationally.
    Candidate selection and rerank are both deterministic, so the
    oracle matches value-exact."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.sq8_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, rerank=4
    )


def _duck_sq8_recall_oracle() -> str:
    # ground truth = brute-force top-5, candidate = SQ8 shortlist+rerank
    return f"""
    WITH brute AS ({ORACLES['ann_topk_brute']}),
    sq8 AS ({ORACLES['ann_topk_sq8']})
    SELECT b.query_id,
           CAST(COUNT(s.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(s.neighbor_id) AS BIGINT) * 1000000 // 5 AS recall_ppm
    FROM brute b LEFT JOIN sq8 s
      ON b.query_id = s.query_id AND b.neighbor_id = s.neighbor_id
    GROUP BY b.query_id
    """


@query("ann_sq8_recall", oracle=_duck_sq8_recall_oracle())
def ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation for the SQ8 path: per-query recall@5 of
    the quantized shortlist+rerank against the brute-force ground
    truth — the 8-bit-codes counterpart of ``ann_ivf_recall``, the
    number that sizes ``rerank`` before a corpus-wide rollout.  Both
    sides reuse the verified operators; exact integer ppm."""
    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    sq8 = similarity.sq8_topk(emb, queries_df, k=5, rerank=4).select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    brute = similarity.cosine_topk(emb, queries_df, k=5).select(
        "query_id", "neighbor_id"
    )
    return (
        brute.join(sq8, on=["query_id", "neighbor_id"], how="left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_hits")
        )
        .withColumn("recall_ppm", F.expr("n_hits * 1000000 div 5"))
    )


def _duck_trunc_cosine(a: str, b: str, d: int) -> str:
    return P.cosine(
        P.array_slice(P.cast_double_array(a, DUCK), 1, d, DUCK),
        P.array_slice(P.cast_double_array(b, DUCK), 1, d, DUCK),
        DUCK,
    )


def _duck_matryoshka_oracle(use_dims: int, k: int, rerank: int) -> str:
    trunc = _duck_trunc_cosine("q.embedding", "c.embedding", use_dims)
    full = _duck_cosine("qe", "ce")
    return f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             q.embedding AS qe, c.embedding AS ce,
             {trunc} AS trunc_cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {trunc} DESC, c.vec_id ASC
             ) AS tr
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ),
    rer AS (
      SELECT query_id, neighbor_id, trunc_cosine,
             {full} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY {full} DESC, neighbor_id ASC
             ) AS rank
      FROM scored WHERE tr <= {k * rerank}
    )
    SELECT query_id, neighbor_id, trunc_cosine, cosine, rank
    FROM rer WHERE rank <= {k}
    """


@query("ann_topk_matryoshka", oracle=_duck_matryoshka_oracle(16, 5, 4))
def ann_topk_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-dimension (Matryoshka) ANN with exact rerank
    (``similarity.truncated_topk``): candidates ranked by cosine over
    the first 16 of 64 dims (4x cheaper scan bandwidth, no index
    build), top-20 shortlist reranked at full dimension.  Same
    broadcast-queries × one-corpus-scan shape as the SQ8/IVF paths;
    value-exact vs the replayed truncation in DuckDB."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.truncated_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, use_dims=16, rerank=4
    )


def _duck_matryoshka_recall_oracle(dims: tuple[int, ...], k: int) -> str:
    def trunc_topk_cte(d: int) -> str:
        trunc = _duck_trunc_cosine("q.embedding", "c.embedding", d)
        return f"""(
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {trunc} DESC, c.vec_id ASC
               ) AS r
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 10
      ) s WHERE r <= {k}
    )"""

    ctes = ",\n    ".join(
        [f"brute AS ({ORACLES['ann_topk_brute']})"]
        + [f"t{d} AS {trunc_topk_cte(d)}" for d in dims]
    )
    arms = "\n    UNION ALL\n    ".join(
        f"""SELECT CAST({d} AS BIGINT) AS use_dims, b.query_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(t.neighbor_id) AS BIGINT) * 1000000 // {k} AS recall_ppm
    FROM brute b LEFT JOIN t{d} t
      ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
    GROUP BY b.query_id"""
        for d in dims
    )
    return f"WITH {ctes}\n    {arms}"


@query("ann_matryoshka_recall", oracle=_duck_matryoshka_recall_oracle((8, 16, 32), 5))
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of pure prefix-dimension ranking (no rerank) at 8, 16
    and 32 of 64 dims vs the brute-force ground truth — the curve that
    picks ``use_dims`` (and the rerank budget) for
    ``similarity.truncated_topk`` before a corpus-wide rollout.
    Exact integer ppm, one arm per dimension budget."""
    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    brute = similarity.cosine_topk(emb, queries_df, k=5).select(
        "query_id", "neighbor_id"
    )
    arms = []
    for d in (8, 16, 32):
        t = similarity.truncated_topk(
            emb, queries_df, k=5, use_dims=d, rerank=0
        ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
        arms.append(
            brute.join(t, on=["query_id", "neighbor_id"], how="left")
            .groupBy("query_id")
            .agg(
                F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                .cast("bigint")
                .alias("n_hits")
            )
            .select(
                F.lit(d).cast("bigint").alias("use_dims"),
                "query_id",
                "n_hits",
                F.expr("n_hits * 1000000 div 5").alias("recall_ppm"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


def _duck_bigram_coherence_oracle() -> str:
    """DuckDB twin of ``text.bigram_coherence``: same rolling token
    hashes, same positional bigram hash, same integer ppm division."""
    toks = P.tokens("coalesce(text, '')", DUCK)
    th = P.hash_array(toks, DUCK)
    return f"""
    WITH t AS (SELECT doc_id, {th} AS th FROM documents),
    b AS (SELECT doc_id, th[pos] AS h1,
                 (th[pos] * 31 + th[pos + 1]) % {P.PRIME} AS h12
          FROM (SELECT doc_id, th, unnest(range(1, len(th))) AS pos FROM t)),
    occ AS (SELECT doc_id, h1, h12, COUNT(*) AS occ FROM b GROUP BY 1, 2, 3),
    c12 AS (SELECT h12, SUM(occ) AS c12 FROM occ GROUP BY 1),
    c1 AS (SELECT h1, SUM(occ) AS c1 FROM occ GROUP BY 1),
    pd AS (SELECT o.doc_id,
                  SUM(o.occ) AS n_bigrams,
                  SUM(o.occ * ((c.c12 * 1000000) // c1.c1)) AS ppm_total
           FROM occ o JOIN c12 c USING (h12) JOIN c1 USING (h1)
           GROUP BY o.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(p.ppm_total // p.n_bigrams, 0) AS BIGINT)
             AS coherence_ppm
    FROM documents d LEFT JOIN pd p USING (doc_id)
    """


@query("docs_bigram_coherence", oracle=_duck_bigram_coherence_oracle())
def docs_bigram_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM coherence quality score (``text.bigram_coherence``):
    each document's mean bigram transition probability under the
    corpus's own bigram model, in exact integer ppm — the log-free
    analogue of the CCNet/KenLM perplexity filter.  One tokenization,
    hash-keyed count joins, no window; bit-identical to the oracle."""
    return textops.bigram_coherence(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


# --------------------------------------------------------------------------
# round 9: corpus curation analytics — dup-cluster shape, cross-corpus
# novelty, lexical diversity, tokenizer fertility, embedding hygiene, MMR
# --------------------------------------------------------------------------


@query(
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH groups AS (
      SELECT {P.fingerprint('text', DUCK)} AS fp, COUNT(*) AS sz
      FROM documents GROUP BY 1
    )
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM groups GROUP BY sz ORDER BY sz
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster SHAPE report: how many exact-duplicate families
    of each size the corpus holds and how many documents they cover —
    the distribution that tells you whether duplication is a long tail
    of pairs (cheap to drop) or a few monster families (boilerplate /
    syndication, worth a source-level fix).  Two map-side-combined
    aggregates over the fingerprint (``dedup.fingerprint_dedup``'s
    grouping), output rows = #distinct cluster sizes (tiny)."""
    docs = load(spark, sf_dir, "documents")
    groups = dedup.fingerprint_dedup(docs, "text", "doc_id")
    return (
        groups.groupBy(F.col("dup_count").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("dup_count").cast("long").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


_NOVELTY_N = 3


@query(
    "docs_crosscorpus_novelty",
    oracle=f"""
    WITH th AS (
      SELECT doc_id,
             {P.hash_array(P.tokens('text', DUCK), DUCK)} AS th
      FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest({P.token_hash_ngrams('th', _NOVELTY_N, DUCK)}) AS h
      FROM th
    ),
    vocab AS (SELECT DISTINCT h FROM sh WHERE doc_id % 2 = 0),
    probe AS (SELECT doc_id, h FROM sh WHERE doc_id % 2 = 1),
    per_doc AS (
      SELECT p.doc_id, COUNT(*) AS n_shingles,
             SUM(CASE WHEN v.h IS NULL THEN 1 ELSE 0 END) AS novel_shingles
      FROM probe p LEFT JOIN vocab v ON v.h = p.h
      GROUP BY p.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(novel_shingles, 0) AS BIGINT) AS novel_shingles,
           CAST(CASE WHEN COALESCE(n_shingles, 0) > 0
                THEN novel_shingles * 1000000 // n_shingles
                ELSE 0 END AS BIGINT) AS novelty_ppm
    FROM documents d LEFT JOIN per_doc USING (doc_id)
    WHERE d.doc_id % 2 = 1
    """,
)
def docs_crosscorpus_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition-time novelty audit (``dedup.crosscorpus_novelty``):
    treating odd doc_ids as the NEW batch and even as the existing
    corpus, the ppm of each new document's distinct 3-gram shingles
    unseen in the reference — "how much of this crawl is actually new
    text".  Reference side collapses to its distinct shingle
    VOCABULARY; probe is one hash-keyed left join; no document pairs
    ever materialize."""
    docs = load(spark, sf_dir, "documents")
    new = docs.where(F.expr("doc_id % 2 = 1"))
    ref = docs.where(F.expr("doc_id % 2 = 0"))
    return dedup.crosscorpus_novelty(new, ref, "doc_id", "text", n=_NOVELTY_N)


@query(
    "docs_token_diversity",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id, unnest({P.tokens('text', DUCK)}) AS t FROM documents
    ),
    per_tok AS (
      SELECT doc_id, t, COUNT(*) AS c FROM occ GROUP BY doc_id, t
    ),
    per_doc AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
             CAST(SUM(c * c) AS BIGINT) AS sq
      FROM per_tok GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(n_tokens, 0) AS n_tokens,
           COALESCE(distinct_tokens, 0) AS distinct_tokens,
           CAST(CASE WHEN COALESCE(n_tokens, 0) = 0 THEN 0
                ELSE (n_tokens * n_tokens - sq) * 1000000
                     // (n_tokens * n_tokens) END AS BIGINT)
             AS diversity_ppm
    FROM documents d LEFT JOIN per_doc USING (doc_id)
    """,
)
def docs_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gini–Simpson lexical diversity in exact integer ppm
    (``text.token_diversity``) — the log-free entropy stand-in: low =
    repetitive boilerplate, high = lexically rich.  One explode + two
    map-side-combined aggregates; int64 envelope (≤3e6 tokens/doc)
    enforced with raise_error."""
    return textops.token_diversity(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query(
    "docs_tokenizer_fertility",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang,
             CAST({P.size(P.tokens('text', DUCK), DUCK)} AS BIGINT) AS ws,
             CAST({P.size(P.regexp_tokens('text', DUCK), DUCK)} AS BIGINT) AS lex,
             CAST(length(text) AS BIGINT) AS chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(lex) AS BIGINT) AS lex_tokens,
           CAST(SUM(lex) * 1000000 // GREATEST(SUM(ws), 1) AS BIGINT)
             AS fertility_ppm,
           CAST(SUM(chars) * 1000000 // GREATEST(SUM(lex), 1) AS BIGINT)
             AS chars_per_lex_ppm
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def docs_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: lexical (BPE-ish) tokens per
    whitespace word and characters per lexical token, in exact integer
    ppm — the compression-rate report that decides tokenizer/vocab fit
    per language (high fertility = the tokenizer fragments that
    language, inflating training cost per word).  One scan (both token
    counts in the same projection), one per-lang partial/final
    aggregate."""
    docs = textops.with_token_counts(load(spark, sf_dir, "documents"), "text")
    return (
        docs.select(
            "lang",
            F.col("ws_tokens").cast("long").alias("ws"),
            F.col("lex_tokens").cast("long").alias("lex"),
            F.length("text").cast("long").alias("chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("lex").alias("lex_tokens"),
            F.expr("sum(lex) * 1000000 div greatest(sum(ws), 1)")
            .alias("fertility_ppm"),
            F.expr("sum(chars) * 1000000 div greatest(sum(lex), 1)")
            .alias("chars_per_lex_ppm"),
        )
        .orderBy("lang")
    )


@query(
    "emb_norm_profile",
    oracle=f"""
    WITH norms AS (
      SELECT CAST(floor(sqrt({P.dot('embedding', 'embedding', DUCK)}) * 1000000)
                  AS BIGINT) AS np
      FROM embeddings
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
           MIN(np) AS min_norm_ppm,
           MAX(np) AS max_norm_ppm,
           CAST(SUM(np) // COUNT(*) AS BIGINT) AS mean_norm_ppm,
           CAST(SUM(CASE WHEN np < 500000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_degenerate,
           CAST(SUM(CASE WHEN ABS(np - 1000000) <= 10000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unit
    FROM norms
    """,
)
def emb_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene scan (``similarity.norm_profile``): L2-norm
    distribution + degenerate/unit-normalized counts — the pre-flight
    check before ANN/k-means/semantic dedup.  Norms via the portable
    sequential-fold dot (bit-identical doubles both engines), floored
    to integer ppm so the mean is exact integer arithmetic; one scan,
    one summary row."""
    return similarity.norm_profile(load(spark, sf_dir, "embeddings"))


@query("emb_mmr_diverse_topk")  # greedy-sequential: rows-only check
def emb_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified retrieval (``similarity.mmr_topk``): top-10
    diverse-but-relevant neighbors of vector 0, pool=100, λ=0.7.  The
    greedy objective is inherently sequential (each pick reshapes the
    next step), hence no SQL oracle — correctness is pinned by the
    pytest property suite (dup-heavy corpus: plain top-k returns
    copies, MMR must not) and the bounded two-phase plan is the
    documented scale shape (one TakeOrdered corpus scan + driver-side
    selection over the 100-row pool)."""
    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").collect()
    if not qvec:
        return similarity.mmr_topk(emb, [0.0], k=10, pool=100, lam=0.7)
    return similarity.mmr_topk(
        emb.where(F.col("vec_id") != 0), list(qvec[0]["embedding"]),
        k=10, pool=100, lam=0.7,
    )


shared_sql(
    "events_ldiversity_audit",
    """
    WITH cells AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             COUNT(DISTINCT CAST(FLOOR(value) AS BIGINT)) AS l
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, CAST(ts AS DATE))
    SELECT event_type,
           COUNT(*) AS n_cells,
           MIN(l) AS min_l,
           CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS cells_below_3
    FROM cells GROUP BY event_type
    """,
    needs=("events",),
)
# l-diversity notes: k-anonymity's complement — a cell can contain many
# subjects (high k) yet leak the SENSITIVE attribute if they all share
# one value; this audits distinct sensitive values (bucketed event
# value) per quasi-identifier cell.  Same two map-side-combined
# aggregate shape as events_kanonymity_audit; the distinct stage
# shuffles (cell, bucket) pairs, never raw events.


def _cusum_sql(d: str) -> str:
    """One SQL text per dialect — identical except the wide-integer
    floor division: Spark DECIMAL(38,0) ``div``; DuckDB HUGEINT ``//``
    (DuckDB's ``//`` only floors INTEGER types — on decimals it is
    plain division — and a decimal ``/`` + CAST would tie-break
    differently between engines)."""
    wide = "DECIMAL(38, 0)" if d == SPARK else "HUGEINT"
    ppm = P.int_div(
        f"CAST(ABS(s) AS {wide}) * 1000000",
        f"CAST(total AS {wide}) * n_days", d,
    )
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    tot AS (
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type),
    cusum AS (
      SELECT d.event_type, d.day,
             SUM(d.n * t.n_days - t.total) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
             t.total, t.n_days
      FROM daily d JOIN tot t ON t.event_type = d.event_type),
    ranked AS (
      SELECT event_type, day, s, total, n_days,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY ABS(s) DESC, day ASC) AS rnk
      FROM cusum)
    SELECT event_type, day AS changepoint_day,
           CAST(ABS(s) AS BIGINT) AS abs_cusum,
           CAST({ppm} AS BIGINT) AS shift_ppm
    FROM ranked WHERE rnk = 1
    """


@query("events_cusum_changepoints", oracle=_cusum_sql(DUCK))
def events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "events")
    return spark.sql(_cusum_sql(SPARK))
# CUSUM changepoint notes: the classic single-changepoint locator —
# the day where the cumulative deviation from the per-type mean peaks.
# Division-free integer form: cusum_t = Σ_{i<=t} (n_i·D − N) (deviation
# scaled by the day count D), exact in int64 while N·D < 2^63 (N=1e12
# events over 1e4 days = 1e16 — three orders inside).  The final ppm
# normalization |s|·1e6/(N·D) runs in DECIMAL(38,0)/HUGEINT.  Scale
# shape: daily rollup (map-side combined), a per-type running window
# over DAYS (calendar-bounded partitions, never event-sized), top-1 by
# WindowGroupLimit.


def _mh_match_count(a: str, b: str, k: int, d: str) -> str:
    """Unrolled count of equal minhash components (k is small/fixed —
    16 integer comparisons, codegen-friendly, dialect-portable)."""
    terms = [
        f"(CASE WHEN {P.element(a, str(i), d)} = {P.element(b, str(i), d)} "
        f"THEN 1 ELSE 0 END)"
        for i in range(1, k + 1)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "dedup_minhash_estimate_quality",
    oracle=f"""
    WITH s AS ({_duck_minhash_sig_cte(3, 16)}),
    pairs AS (
      SELECT a.doc_id AS ida, b.doc_id AS idb,
             {_mh_match_count('a.mh', 'b.mh', 16, DUCK)} AS matches,
             len(list_intersect(a.hashset, b.hashset)) AS inter,
             len(a.hashset) + len(b.hashset)
               - len(list_intersect(a.hashset, b.hashset)) AS un
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE ({_duck_band_match(16, 4)})
        AND {P.jaccard('a.hashset', 'b.hashset', DUCK)} >= 0.3
    ),
    scored AS (
      SELECT CAST(matches AS BIGINT) * 1000000 // 16 AS est_ppm,
             CAST(inter AS BIGINT) * 1000000 // un AS exact_ppm
      FROM pairs
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(ABS(est_ppm - exact_ppm)) // GREATEST(COUNT(*), 1)
                AS BIGINT) AS mean_abs_err_ppm,
           CAST(MAX(ABS(est_ppm - exact_ppm)) AS BIGINT) AS max_abs_err_ppm,
           CAST(SUM(CASE WHEN ABS(est_ppm - exact_ppm) <= 100000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_within_100k
    FROM scored
    """,
)
def dedup_minhash_estimate_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality evaluation for the MinHash family (the dedup
    analogue of ``ann_sq8_recall``): on every reported LSH pair, the
    band-signature Jaccard ESTIMATE (matching components / k) vs the
    EXACT hashset Jaccard, both integer ppm — measures whether k=16
    permutations suffice at the operating threshold ("measure, don't
    guess": a high mean error says raise k before trusting
    signature-only dedup at scale).  One signature pass feeds both
    numbers; aggregate output is a single row."""
    docs = load(spark, sf_dir, "documents")
    # checkpointed: the LSH pair pipeline AND both pair-side joins read
    # this ONE Arrow pass (minhash_lsh_pairs over the raw docs would
    # re-run the whole signature scan a second time)
    sig = dedup.minhash_signatures_vectorized(
        docs, "doc_id", "text", n=3, k=16
    ).transform(ckpt_lazy)
    pairs = dedup.minhash_lsh_pairs_from_signatures(
        sig, "doc_id", k=16, bands=4, threshold=0.3
    ).select(F.col("doc_id_a").alias("ida"), F.col("doc_id_b").alias("idb"))
    a = sig.select(F.col("_id").alias("ida"), F.col("minhash").alias("mha"),
                   F.col("_hashset").alias("hsa"))
    b = sig.select(F.col("_id").alias("idb"), F.col("minhash").alias("mhb"),
                   F.col("_hashset").alias("hsb"))
    scored = (
        pairs.join(a, "ida").join(b, "idb")
        .select(
            F.expr(
                f"CAST({_mh_match_count('mha', 'mhb', 16, SPARK)} AS BIGINT)"
                " * 1000000 div 16"
            ).alias("est_ppm"),
            F.expr(
                "CAST(size(array_intersect(hsa, hsb)) AS BIGINT) * 1000000 "
                "div (size(hsa) + size(hsb) - size(array_intersect(hsa, hsb)))"
            ).alias("exact_ppm"),
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("sum(abs(est_ppm - exact_ppm)) div greatest(count(1), 1)")
        .cast("long").alias("mean_abs_err_ppm"),
        F.max(F.abs(F.col("est_ppm") - F.col("exact_ppm")))
        .cast("long").alias("max_abs_err_ppm"),
        F.sum((F.abs(F.col("est_ppm") - F.col("exact_ppm")) <= 100_000)
              .cast("long")).alias("n_within_100k"),
    )


@query(
    "docs_corpus_drift",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id % 2 AS half, unnest({P.tokens('text', DUCK)}) AS t
      FROM documents
    ),
    c AS (
      SELECT t,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c2
      FROM occ GROUP BY t
    ),
    tot AS (
      SELECT SUM(c1) AS t1, SUM(c2) AS t2 FROM c
    )
    SELECT CAST(t1 AS BIGINT) AS tokens_a,
           CAST(t2 AS BIGINT) AS tokens_b,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(ABS(c1::HUGEINT * t2 - c2::HUGEINT * t1)) * 1000000
                // (t1::HUGEINT * t2) AS BIGINT) AS l1_drift_ppm
    FROM c CROSS JOIN tot
    GROUP BY t1, t2
    """,
)
def docs_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report between two corpus halves (even vs odd
    doc_id — in production: last week's crawl vs this week's): the L1
    distance between unigram distributions, EXACT integer ppm via the
    cross-multiplied form ``Σ_t |c1·T2 − c2·T1| · 1e6 / (T1·T2)`` — no
    floats, no per-token division loss.  The products run in
    DECIMAL(38,0)/HUGEINT (c·T can reach ~1e24 at 100 TB — past int64,
    inside 38 digits).  L1 of 0 = identical distributions; 2e6 =
    disjoint vocabularies.

    Scale shape: one explode, one token-keyed count aggregate (map-side
    combined; both halves counted in the same pass via conditional
    sums), one single-row total broadcast back, one global sum."""
    docs = load(spark, sf_dir, "documents")
    occ = docs.select(
        F.expr("doc_id % 2").alias("half"),
        F.explode(F.expr(P.tokens("text", SPARK))).alias("t"),
    )
    c = occ.groupBy("t").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c2"),
    )
    tot = c.agg(F.sum("c1").alias("t1"), F.sum("c2").alias("t2"))
    return (
        c.crossJoin(F.broadcast(tot))
        .agg(
            F.first("t1").cast("long").alias("tokens_a"),
            F.first("t2").cast("long").alias("tokens_b"),
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.expr(
                "CAST(sum(abs(cast(c1 as decimal(38,0)) * t2 "
                "- cast(c2 as decimal(38,0)) * t1)) * 1000000 "
                "div (cast(first(t1) as decimal(38,0)) * first(t2)) AS BIGINT)"
            ).alias("l1_drift_ppm"),
        )
    )


#: PII pattern classes — simple alternation-free regexes that parse
#: identically under Java regex (Spark) and RE2 (DuckDB)
_PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?[0-9][0-9() -]{7,}[0-9]"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"),
)


@query(
    "docs_pii_audit",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {", ".join(
               f"CAST(SUM(CASE WHEN {P.rmatch('text', pat, DUCK)} "
               f"THEN 1 ELSE 0 END) AS BIGINT) AS {name}_docs"
               for name, pat in _PII_PATTERNS)}
    FROM documents GROUP BY source ORDER BY source
    """,
)
def docs_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII exposure audit: how many documents from each
    source contain email- / phone- / IP-shaped spans — the report that
    decides where ``with_redaction`` must run before training.  One
    scan, all pattern predicates in the same projection (regex
    containment, whole-stage codegen), one small per-source rollup;
    the patterns parse identically under Java regex and RE2, so the
    counts are value-exact cross-engine."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            *[
                F.sum(
                    F.expr(P.rmatch("text", pat, SPARK)).cast("long")
                ).alias(f"{name}_docs")
                for name, pat in _PII_PATTERNS
            ],
        )
        .orderBy("source")
    )


@query(
    "docs_dedup_quality_shift",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, lang,
             {P.quality_score_ppm_from_tokens('text', 'toks', DUCK)} AS qp
      FROM (SELECT doc_id, lang, text, {P.tokens('text', DUCK)} AS toks
            FROM documents)
    ),
    keep AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (SELECT doc_id, {P.fingerprint('text', DUCK)} AS fp FROM documents)
      GROUP BY fp
    )
    SELECT q.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_survivors,
           CAST(SUM(qp) // COUNT(*) AS BIGINT) AS mean_quality_ppm,
           CAST(SUM(CASE WHEN k.doc_id IS NULL THEN 0 ELSE qp END)
                // GREATEST(SUM(CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END), 1)
                AS BIGINT) AS survivor_quality_ppm
    FROM q LEFT JOIN keep k ON k.doc_id = q.doc_id
    GROUP BY q.lang ORDER BY q.lang
    """,
)
def docs_dedup_quality_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup bias audit: per language, mean quality ppm over ALL
    documents vs over exact-dedup SURVIVORS — answers "did dedup
    systematically remove the good (or bad) docs?", the check every
    curation pipeline should run after a dedup pass (duplicates skew
    toward boilerplate, so survivor quality usually RISES; a drop
    flags a pathological keep rule).  One quality scan + the
    fingerprint keep-set (min doc per group) joined back; exact
    integer means."""
    docs = load(spark, sf_dir, "documents")
    q = textops.with_quality_score(docs, "text", out_col="qp").select(
        "doc_id", "lang", "qp"
    )
    keep = (
        dedup.fingerprint_dedup(docs, "text", "doc_id")
        .select(F.col("keep_id").alias("doc_id"))
        .withColumn("_k", F.lit(1))
    )
    return (
        q.join(keep, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce("_k", F.lit(0))).cast("long").alias("n_survivors"),
            F.expr("sum(qp) div count(1)").cast("long")
            .alias("mean_quality_ppm"),
            F.expr(
                "sum(CASE WHEN _k IS NULL THEN 0 ELSE qp END) "
                "div greatest(sum(coalesce(_k, 0)), 1)"
            ).cast("long").alias("survivor_quality_ppm"),
        )
        .orderBy("lang")
    )


_SHARD_VOCAB, _SHARD_BUDGET = 4096, 512


@query(
    "docs_tokenize_pack_shards",
    oracle=f"""
    WITH per_doc AS (
      SELECT doc_id,
             list_append(
               list_transform({P.tokens('text', DUCK)},
                              t -> {P.char_hash('t', DUCK)} % {_SHARD_VOCAB}),
               {_SHARD_VOCAB}::BIGINT) AS ids
      FROM documents
    ),
    sized AS (
      SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS n FROM per_doc
    ),
    cum AS (
      SELECT doc_id, ids, n,
             SUM(n) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS c
      FROM sized
    )
    SELECT pack_id, n_docs, n_tokens, token_ids,
           list_transform(starts, s -> s - first_start) AS doc_starts
    FROM (
      SELECT CAST((c - n) // {_SHARD_BUDGET} AS BIGINT) AS pack_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS n_tokens,
             flatten(list(ids ORDER BY doc_id)) AS token_ids,
             MIN(c - n) AS first_start,
             list(c - n ORDER BY doc_id) AS starts
      FROM cum GROUP BY 1
    ) ORDER BY pack_id
    """,
)
def docs_tokenize_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The docs → training-shards terminal step
    (``sampling.tokenize_pack_shards``): hash-trick token ids + EOS,
    contiguous-fill packing into 512-token sequences via the
    distributed two-phase prefix sum, per-pack id streams assembled in
    document order.  Value-exact oracle down to the concatenated
    ``token_ids`` arrays (the portable hash is non-negative, so plain
    ``%`` agrees with ``pmod`` cross-engine)."""
    return sampling.tokenize_pack_shards(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        vocab_size=_SHARD_VOCAB, budget=_SHARD_BUDGET,
    )


@query(
    "docs_pack_efficiency",
    oracle=f"""
    WITH per_doc AS (
      SELECT doc_id,
             CAST(len({P.tokens('text', DUCK)}) + 1 AS BIGINT) AS n
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n,
             SUM(n) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS c
      FROM per_doc
    ),
    packs AS (
      SELECT CAST((c - n) // {_SHARD_BUDGET} AS BIGINT) AS pack_id,
             SUM(n) AS toks
      FROM cum GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_packs,
           CAST(SUM(CASE WHEN toks >= {_SHARD_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS full_packs,
           CAST(SUM(LEAST(toks, {_SHARD_BUDGET})) * 1000000
                // (COUNT(*) * {_SHARD_BUDGET}) AS BIGINT) AS mean_fill_ppm,
           CAST(SUM(CASE WHEN toks < {_SHARD_BUDGET}
                    THEN {_SHARD_BUDGET} - toks ELSE 0 END) AS BIGINT)
             AS wasted_tokens,
           CAST(SUM(CASE WHEN toks > {_SHARD_BUDGET}
                    THEN toks - {_SHARD_BUDGET} ELSE 0 END) AS BIGINT)
             AS overflow_tokens,
           CAST(SUM(CASE WHEN toks > {_SHARD_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overflowing
    FROM packs
    """,
)
def docs_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-telemetry for the packing step: fill rate plus the
    TRUNCATION exposure — contiguous fill never under-fills interior
    packs (a straddling document OVERFLOWS its pack instead), so the
    actionable numbers are ``overflow_tokens`` / ``n_overflowing``
    (tokens a fixed-length trainer would truncate; the upstream fix is
    ``chunk_documents`` before packing) and ``wasted_tokens`` (trailing
    partial pack only).  Same distributed prefix-sum pack assignment,
    one pack-keyed rollup, single summary row; exact integer ppm."""
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id",
        (F.expr(P.size(P.tokens("coalesce(text, '')", SPARK), SPARK)) + 1)
        .cast("long").alias("_n"),
    )
    packed = sampling.pack_sequences(
        per_doc, id_col="doc_id", token_col="_n", budget=_SHARD_BUDGET
    )
    packs = packed.groupBy("pack_id").agg(F.sum("_n").alias("toks"))
    b = _SHARD_BUDGET
    return packs.agg(
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum((F.col("toks") >= b).cast("long")).alias("full_packs"),
        F.expr(
            f"sum(least(toks, {b})) * 1000000 div (count(1) * {b})"
        ).alias("mean_fill_ppm"),
        F.sum(
            F.when(F.col("toks") < b, b - F.col("toks")).otherwise(0)
        ).cast("long").alias("wasted_tokens"),
        F.sum(
            F.when(F.col("toks") > b, F.col("toks") - b).otherwise(0)
        ).cast("long").alias("overflow_tokens"),
        F.sum((F.col("toks") > b).cast("long")).alias("n_overflowing"),
    )


@query(
    "docs_chunk_pack_efficiency",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {P.tokens('text', DUCK)} AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id, i AS chunk_idx,
             CAST(len(t[1 + i * {_SHARD_BUDGET - 1}:
                       (i + 1) * {_SHARD_BUDGET - 1}]) + 1 AS BIGINT) AS n
      FROM toks, UNNEST(range(0,
        CASE WHEN len(t) <= {_SHARD_BUDGET - 1} THEN 1
             ELSE 1 + (len(t) - 1) // {_SHARD_BUDGET - 1} END)) AS u(i)
    ),
    cum AS (
      SELECT SUM(n) OVER (ORDER BY doc_id, chunk_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS c, n
      FROM chunks
    ),
    packs AS (
      SELECT CAST((c - n) // {_SHARD_BUDGET} AS BIGINT) AS pack_id,
             SUM(n) AS toks
      FROM cum GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_packs,
           CAST(SUM(CASE WHEN toks > {_SHARD_BUDGET}
                    THEN toks - {_SHARD_BUDGET} ELSE 0 END) AS BIGINT)
             AS overflow_tokens,
           CAST(SUM(LEAST(toks, {_SHARD_BUDGET})) * 1000000
                // (COUNT(*) * {_SHARD_BUDGET}) AS BIGINT) AS mean_fill_ppm
    FROM packs
    """,
)
def docs_chunk_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fix ``docs_pack_efficiency`` recommends, measured: CHUNK
    documents to ≤ budget−1 tokens (non-overlapping ``chunk_documents``
    windows; +1 for EOS) BEFORE packing — a chunk can never exceed the
    budget, so the worst per-sequence overflow drops from the longest
    DOCUMENT's tail to at most budget−1 straddle tokens.  On the test
    corpus every document is already under the budget, so the two
    queries' numbers coincide (chunking is a no-op there by design —
    asserted equal at sf0.01); the divergence this telemetry exists to
    catch appears when book/repo-sized documents enter the mix.  Same
    prefix-sum pack assignment over (doc, chunk) order; output compares
    directly against the unchunked query's ``overflow_tokens``."""
    b = _SHARD_BUDGET
    chunks = textops.chunk_documents(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        chunk=b - 1, step=b - 1,
    ).select(
        "doc_id", "chunk_idx", (F.col("n_tokens") + 1).alias("_n")
    )
    # order key (doc, chunk) flattened to one monotone id for the
    # bucketed cumsum: chunk counts are < 2^20 per doc by the token
    # envelope, so doc_id * 2^20 + chunk_idx preserves the order
    per_chunk = chunks.select(
        F.expr("doc_id * 1048576 + chunk_idx").alias("_oid"), "_n"
    )
    packed = sampling.pack_sequences(
        per_chunk, id_col="_oid", token_col="_n", budget=b
    )
    packs = packed.groupBy("pack_id").agg(F.sum("_n").alias("toks"))
    return packs.agg(
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum(
            F.when(F.col("toks") > b, F.col("toks") - b).otherwise(0)
        ).cast("long").alias("overflow_tokens"),
        F.expr(
            f"sum(least(toks, {b})) * 1000000 div (count(1) * {b})"
        ).alias("mean_fill_ppm"),
    )


@query(
    "ann_ivf_recall",
    oracle=f"""
    WITH centroids AS (SELECT vec_id AS centroid_id, embedding AS cvec
                       FROM embeddings WHERE vec_id % 50 = 0),
    assign AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT e.vec_id, e.embedding, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_duck_cosine('e.embedding', 'c.cvec')} DESC,
                          c.centroid_id ASC
               ) AS rn
        FROM embeddings e CROSS JOIN centroids c
      ) WHERE rn = 1
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_duck_cosine('q.embedding', 'c.embedding')} DESC,
                          c.vec_id ASC
               ) AS rnk
        FROM assign q JOIN assign c
          ON q.centroid_id = c.centroid_id AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 10
      ) WHERE rnk <= 5
    ),
    brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_duck_cosine('q.embedding', 'e.embedding')} DESC,
                          e.vec_id ASC
               ) AS rnk
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 10
      ) WHERE rnk <= 5
    )
    SELECT b.query_id,
           CAST(SUM(CASE WHEN i.neighbor_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN i.neighbor_id IS NULL THEN 0 ELSE 1 END)
                * 1000000 // 5 AS BIGINT) AS recall_ppm
    FROM brute b
    LEFT JOIN ivf i
      ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation for the 1-probe IVF path: per-query
    recall@5 against the brute-force ground truth — the number that
    decides nprobe before a corpus-wide rollout (low recall = queries
    near cell boundaries lose neighbors to adjacent cells).  Both
    sides reuse the verified operators; exact integer ppm, value-exact
    oracle (the oracle replays the identical cell assignment)."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.where(F.col("vec_id") % 50 == 0)
    cells = similarity.assign_cells_vectorized(emb, centroids).transform(ckpt_lazy)  # corpus side + broadcast query side both read the one Arrow pass
    ivf = similarity.ivf_topk_from_cells(
        cells, cells.where(F.col("vec_id") < 10), k=5
    ).select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    brute = similarity.cosine_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5
    ).select("query_id", "neighbor_id")
    return (
        brute.join(ivf, on=["query_id", "neighbor_id"], how="left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint")
             .alias("n_hits"))
        .withColumn("recall_ppm", F.expr("n_hits * 1000000 div 5"))
    )


@query(
    "docs_cluster_aware_split",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, {P.fingerprint('text', DUCK)} AS f FROM documents
    ),
    keep AS (SELECT f, MIN(doc_id) AS keep_id FROM fp GROUP BY f),
    assigned AS (
      SELECT fp.doc_id, fp.f,
             CASE WHEN ((keep_id * 1103515245 + 12345) % 1000 + 1000) % 1000
                       < 900 THEN 'train'
                  WHEN ((keep_id * 1103515245 + 12345) % 1000 + 1000) % 1000
                       < 950 THEN 'val'
                  ELSE 'test' END AS split
      FROM fp JOIN keep USING (f)
    ),
    leaks AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS leaky_clusters FROM (
        SELECT f FROM assigned GROUP BY f HAVING COUNT(DISTINCT split) > 1)
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT f) AS BIGINT) AS n_clusters,
           leaky_clusters
    FROM assigned CROSS JOIN leaks
    GROUP BY split, leaky_clusters ORDER BY split
    """,
)
def docs_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: split by the DUPLICATE
    CLUSTER's survivor id instead of the document id, so an exact-dup
    family can never straddle splits (the classic eval contamination:
    a test doc whose twin sits in train).  The ``leaky_clusters``
    column PROVES the property in-band (always 0 — computed, not
    assumed).  Fingerprint groups + the deterministic LCG bucket split
    (same constants as ``sampling.deterministic_split``), one
    broadcast-joined keep-set, exact counts."""
    docs = load(spark, sf_dir, "documents")
    fp = dedup.with_fingerprint(docs, "text").select(
        "doc_id", F.col("fingerprint").alias("f")
    )
    keep = fp.groupBy("f").agg(F.min("doc_id").alias("keep_id"))
    assigned = sampling.deterministic_split(
        fp.join(keep, "f"), "keep_id"
    )
    leaks = (
        assigned.groupBy("f")
        .agg(F.countDistinct("split").alias("_ns"))
        .where(F.col("_ns") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("leaky_clusters"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("f").cast("long").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaks))
        .select("split", "n_docs", "n_clusters", "leaky_clusters")
        .orderBy("split")
    )


@query(
    "docs_readability",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(list_transform(
                  string_split_regex(lower(coalesce(text, '')), '[.!?]+'),
                  x -> trim(x)), s -> s <> '')) AS BIGINT) AS n_sentences,
           CAST({P.size(P.tokens('text', DUCK), DUCK)} AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(lower(coalesce(text, '')),
                '[aeiouy]+')) AS BIGINT) AS n_syllables,
           CAST(CASE WHEN {P.size(P.tokens('text', DUCK), DUCK)} = 0
                  OR len(list_filter(list_transform(
                       string_split_regex(lower(coalesce(text, '')), '[.!?]+'),
                       x -> trim(x)), s -> s <> '')) = 0 THEN 0
                ELSE 206835
                  - (1015 * {P.size(P.tokens('text', DUCK), DUCK)})
                    // len(list_filter(list_transform(
                         string_split_regex(lower(coalesce(text, '')), '[.!?]+'),
                         x -> trim(x)), s -> s <> ''))
                  - (84600 * len(regexp_extract_all(lower(coalesce(text, '')),
                       '[aeiouy]+')))
                    // {P.size(P.tokens('text', DUCK), DUCK)}
                END AS BIGINT) AS fre_milli
    FROM documents
    """,
)
def docs_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease per document (``text.readability_profile``)
    in exact integer milli-points — vowel-run syllables, the same
    sentence splitter as the C4 profile, one scan with zero shuffles;
    value-exact cross-engine (constants are exactly ×1000, divisions
    are integer floor)."""
    return textops.readability_profile(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query("dedup_fast_minhash_survivors")  # engine-native hashes: rows-only check
def dedup_fast_minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup chain end-to-end under ``hash_mode="fast"``
    (xxhash64 shingles + per-permutation xxhash64 mixes): MinHash LSH
    survivors at the same parameters as ``dedup_minhash_lsh_pairs``.
    Engine-native hashes can't be value-oracled (band collisions are
    hash-specific), so this is a rows-only entry — value equivalence
    of the fast and portable keyspaces is pinned by the
    ``TestHashModeEquivalence``/``TestMinhashFastMode`` pytest suites;
    this entry proves the 64-bit path RUNS at every round's scale."""
    return dedup.minhash_dedup(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, k=16, bands=4, threshold=0.3, hash_mode="fast",
    ).select("doc_id", "lang", "source")


def _active_time_sql(d: str) -> str:
    """Dual-rendered: only the epoch-seconds extraction differs (Spark
    ``unix_timestamp`` / DuckDB ``epoch_ms(x)//1000`` — DuckDB's
    ``epoch()`` returns DOUBLE; the ms integer division keeps the
    arithmetic exact in both engines)."""
    def es(x: str) -> str:
        if d == SPARK:
            return f"unix_timestamp({x})"
        return f"(epoch_ms({x}) // 1000)"

    return f"""
    WITH sess AS (
      SELECT user_id,
             CAST(ts AS TIMESTAMP) AS s,
             CAST(ts + INTERVAL 30 MINUTE AS TIMESTAMP) AS e
      FROM events
    ),
    marked AS (
      SELECT user_id, s, e,
             CASE WHEN s > MAX(e) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS new_run
      FROM sess
    ),
    runs AS (
      SELECT user_id, s, e,
             SUM(new_run) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      FROM marked
    ),
    merged AS (
      SELECT user_id, run_id, MIN(s) AS run_start, MAX(e) AS run_end
      FROM runs GROUP BY user_id, run_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM({es('run_end')} - {es('run_start')})
                AS BIGINT) AS active_seconds
    FROM merged GROUP BY user_id ORDER BY user_id
    """


@query("events_user_active_time", oracle=_active_time_sql(DUCK))
def events_user_active_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total ACTIVE time per user with overlapping 30-minute activity
    windows merged exactly — the interval-union counterpart of the
    sweep-line peak-concurrency query.  The classic run-id
    construction: an interval starts a new run iff it begins after the
    running max end of everything before it; runs then aggregate.
    Windows partition BY USER (bounded, parallel — never corpus-wide);
    both window passes share one (user, s, e) sort order so Spark
    reuses a single exchange+sort."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_active_time_sql(SPARK))


@query("docs_train_quality_classifier")  # iterative float GD: rows-only check
def docs_train_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-ENGINE training of the hashed linear quality classifier
    (``text.train_hashed_classifier``): distill the Gopher rule set
    into a fastText-style model — logistic regression by full-batch
    gradient descent, one corpus scan per iteration, gradients
    aggregated BY FEATURE ID (a dim-bounded shuffle) and dim floats of
    driver state (the k-means/PCA bounded-state contract).  Returns the
    per-iteration training curve ``(iter, train_accuracy_ppm)`` —
    accuracy an exact integer ratio; the float weights make this
    rows-only (pytest pins learnability: a separable corpus reaches
    100% accuracy and signal tokens get right-signed weights)."""
    docs = textops.with_gopher_flags(
        load(spark, sf_dir, "documents"), "text"
    ).select("doc_id", "text", F.col("gopher_pass").cast("int").alias("label"))
    _, history = textops.train_hashed_classifier(
        docs, "label", "text", dim=256, iters=6, lr=200.0
    )
    return spark.createDataFrame(
        [(it, acc) for it, acc, _ in history],
        "iter int, train_accuracy_ppm long",
    )


# --------------------------------------------------------------------------
# web-corpus curation: URL canonicalization / dedup / domain share,
# encoding-artifact hygiene (operators/web.py, text.py)
# --------------------------------------------------------------------------
# The test tables carry no URL column, so the catalog entries DERIVE a
# deterministic URL per document from (doc_id, source) — the same
# expression in both engines — cycling through the messy shapes a real
# crawl produces (uppercase scheme/host, default + explicit ports,
# tracking params, fragments, userinfo, trailing dots/slashes, missing
# scheme).  The OPERATOR is generic over any URL column; the derivation
# only feeds the demo.


def _url_fixture_sql(d: str) -> str:
    """One messy URL per doc — doc_id % 6 picks the shape and
    doc_id div 18 keys the page identity.  The three SOURCE-FREE
    shapes (3: example.com:443, 4: user@example.com., 5:
    cdn.example.net) collide in triples {18k+s, 18k+s+6, 18k+s+12}
    per 18-block; shapes 0-2 embed the per-doc source in the host, so
    they never collide (measured at sf0.01: 81 triples + 3 pairs at
    the corpus edge + 251 singletons = 335 canonical pages from 500
    docs)."""
    big = "string" if d == SPARK else "VARCHAR"
    pid = P.int_div("doc_id", "18", d)
    sid = f"cast({pid} as {big})"
    return (
        f"(CASE cast(doc_id % 6 as int) "
        f"WHEN 0 THEN concat('HTTP://', upper(source), "
        f"'.Example.COM:80/docs/', {sid}, '/?utm_source=feed&b=2&a=1#s') "
        f"WHEN 1 THEN concat('http://', source, '.example.com/docs/', "
        f"{sid}, '?a=1&b=2&gclid=', {sid}) "
        f"WHEN 2 THEN concat('https://', source, "
        f"'.example.co.uk/a/b/?id=', {sid}) "
        f"WHEN 3 THEN concat('https://example.com:443//files//', {sid}) "
        f"WHEN 4 THEN concat('https://user@example.com./q?z=9&a=1&id=', "
        f"{sid}) "
        f"ELSE concat('cdn.example.net:8080/x/', {sid}, '#frag') END)"
    )


def _duck_url_canonicalize_oracle() -> str:
    u = _url_fixture_sql(DUCK)
    return (
        f"SELECT doc_id, {u} AS url, "
        f"{P.canonical_url(u, DUCK)} AS canonical_url "
        f"FROM documents"
    )


@query("docs_url_canonicalize", oracle=_duck_url_canonicalize_oracle())
def docs_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (``web.with_canonical_url`` /
    ``portable.canonical_url``): lowercased scheme+host, userinfo /
    fragment / default-port / tracking-param removal, bytewise query
    sort, trailing-slash normalization — the normalization every crawl
    dedup keys on.  Pure scan projection (whole-stage codegen, no UDF,
    no shuffle); value-exact against the DuckDB rendering of the same
    portable expression."""
    from .operators import web

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_url_fixture_sql(SPARK)).alias("url")
    )
    return web.with_canonical_url(docs, "url")


def _duck_url_dedup_oracle() -> str:
    u = _url_fixture_sql(DUCK)
    canon = P.canonical_url("url", DUCK)
    return (
        f"WITH raw AS (SELECT doc_id, {u} AS url FROM documents) "
        f"SELECT {canon} AS canonical_url, MIN(doc_id) AS keep_id, "
        f"CAST(COUNT(*) AS BIGINT) AS dup_count "
        f"FROM raw WHERE url IS NOT NULL GROUP BY 1"
    )


@query("docs_url_dedup", oracle=_duck_url_dedup_oracle())
def docs_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL-keyed exact dedup (``web.url_dedup``): smallest-id
    survivor + duplicate count per canonical URL — the first, cheapest
    dedup stage of a crawl pipeline, upstream of content fingerprints.
    One hash aggregate keyed on the canonical URL (uniform keys)."""
    from .operators import web

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_url_fixture_sql(SPARK)).alias("url")
    )
    return web.url_dedup(docs, "doc_id", "url")


def _duck_domain_share_oracle() -> str:
    u = _url_fixture_sql(DUCK)
    dom = P.registrable_domain(P.url_host("url", DUCK), DUCK)
    share = P.int_div("n_pages * 1000000", "_total", DUCK)
    return (
        f"WITH raw AS (SELECT {u} AS url FROM documents), "
        f"c AS (SELECT {dom} AS domain, CAST(COUNT(*) AS BIGINT) "
        f"AS n_pages FROM raw GROUP BY 1), "
        f"t AS (SELECT CAST(SUM(n_pages) AS BIGINT) AS _total FROM c) "
        f"SELECT domain, n_pages, CAST({share} AS BIGINT) AS share_ppm "
        f"FROM c, t"
    )


@query("docs_domain_share", oracle=_duck_domain_share_oracle())
def docs_domain_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain (eTLD+1 heuristic, public-suffix second-level
    aware) page counts + exact integer-ppm corpus share
    (``web.domain_stats``) — the source-reputation rollup mixture
    planning consumes.  One domain-keyed aggregate; the 1-row total
    broadcasts back."""
    from .operators import web

    docs = load(spark, sf_dir, "documents").select(
        F.expr(_url_fixture_sql(SPARK)).alias("url")
    )
    return web.domain_stats(docs, "url")


def _artifact_fixture_sql(d: str) -> str:
    """Deterministically inject encoding damage into some documents:
    doc_id % 5 picks clean / mojibake / replacement-char / control-byte
    / mixed — same expression both engines (chr() agrees)."""
    return (
        "(CASE cast(doc_id % 5 as int) "
        "WHEN 1 THEN concat(coalesce(text, ''), ' cafÃ© naÃ¯ve') "
        "WHEN 2 THEN concat(coalesce(text, ''), ' lost � char �') "
        "WHEN 3 THEN concat(coalesce(text, ''), chr(7), 'bell', chr(1)) "
        "WHEN 4 THEN concat('â€™', coalesce(text, ''), chr(8), '�') "
        "ELSE coalesce(text, '') END)"
    )


def _duck_encoding_artifacts_oracle() -> str:
    t = _artifact_fixture_sql(DUCK)
    moj, rep, ctl = P.encoding_artifact_counts("t2", DUCK)
    ppm = P.int_div("(n_mojibake + n_replacement + n_control) * 1000000",
                    "n_chars", DUCK)
    return (
        f"WITH raw AS (SELECT doc_id, {t} AS t2 FROM documents), "
        f"c AS (SELECT doc_id, CAST({moj} AS BIGINT) AS n_mojibake, "
        f"CAST({rep} AS BIGINT) AS n_replacement, "
        f"CAST({ctl} AS BIGINT) AS n_control, "
        f"CAST(length(t2) AS BIGINT) AS n_chars FROM raw) "
        f"SELECT doc_id, n_mojibake, n_replacement, n_control, n_chars, "
        f"CAST(CASE WHEN n_chars = 0 THEN 0 ELSE {ppm} END AS BIGINT) "
        f"AS artifact_ppm, "
        f"(n_mojibake + n_replacement + n_control) = 0 AS clean "
        f"FROM c"
    )


@query("docs_encoding_artifacts", oracle=_duck_encoding_artifacts_oracle())
def docs_encoding_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage hygiene scan (``text.encoding_artifact_profile``):
    per-document mojibake (UTF-8 re-decoded as Latin-1/cp1252),
    replacement-character, and control-byte counts, exact integer-ppm
    artifact density, and a clean flag — run before tokenization so
    double-decoded or truncated documents never reach training.  Three
    regexp counts in one scan projection; no shuffle; value-exact (the
    oracle replays the same portable regexes under RE2)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_artifact_fixture_sql(SPARK)).alias("text")
    )
    return textops.encoding_artifact_profile(docs, "doc_id", "text")


def _html_fixture_sql(d: str) -> str:
    """Deterministic raw-HTML wrapper around each document's text —
    doc_id % 4 picks the page shape (full page with script/style/
    comment/entities, text-heavy article, link-farm navigation page,
    sloppy markup with CAPS tags and an unclosed pair); identical
    string expression in both engines."""
    big = "string" if d == SPARK else "VARCHAR"
    sid = f"cast(doc_id as {big})"
    body = "coalesce(text, '')"
    return (
        f"(CASE cast(doc_id % 4 as int) "
        f"WHEN 0 THEN concat('<html><head><title>Doc ', {sid}, "
        f"'</title><style>p {{color: red}}</style>"
        f"<script type=\"text/javascript\">var x = 1 < 2; //</script>"
        f"</head><body><!-- crawler\nnote --><h1>Doc &amp; ', {sid}, "
        f"'</h1><p>', {body}, '</p>"
        f"<p>More &lt;text&gt;&nbsp;with&#39;entities.</p>"
        f"<a href=\"/next\">next page</a></body></html>') "
        f"WHEN 1 THEN concat('<article><p>', {body}, "
        f"'</p><a href=\"/ref\">a reference link</a></article>') "
        f"WHEN 2 THEN concat('<body><ul>"
        f"<li><a href=\"/a\">home</a></li>"
        f"<li><a href=\"/b\">products and services</a></li>"
        f"<li><a href=\"/c\">about the company</a></li>"
        f"<li><a href=\"/d\">contact&nbsp;us</a></li></ul>"
        f"<p>nav ', {sid}, '</p></body>') "
        f"ELSE concat('<BODY><P>', {body}, "
        f"'<A HREF=\"x\">CAPS LINK</A><p>tail ', {sid}, '') END)"
    )


def _duck_html_extract_oracle() -> str:
    h = _html_fixture_sql(DUCK)
    text = P.html_to_text("html", DUCK)
    nlinks = P.size(P.html_anchor_texts("html", DUCK), DUCK)
    ld = P.link_density_ppm("html", DUCK)
    ratio = P.int_div("n_chars_text * 1000000", "n_chars_html", DUCK)
    return (
        f"WITH raw AS (SELECT doc_id, {h} AS html FROM documents), "
        f"e AS (SELECT doc_id, {text} AS text, "
        f"CAST(length(html) AS BIGINT) AS n_chars_html, "
        f"CAST({nlinks} AS BIGINT) AS n_links, "
        f"CAST({ld} AS BIGINT) AS link_density_ppm FROM raw) "
        f"SELECT doc_id, text, n_chars_html, n_links, link_density_ppm, "
        f"CAST(length(text) AS BIGINT) AS n_chars_text, "
        f"CAST(CASE WHEN n_chars_html = 0 THEN 0 ELSE {ratio} END "
        f"AS BIGINT) AS text_ratio_ppm FROM e"
    )


@query("docs_html_extract", oracle=_duck_html_extract_oracle())
def docs_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction (``web.html_extract`` /
    ``portable.html_to_text``): visible text with comments, <script>/
    <style> elements, and tags removed plus entities decoded, and the
    two classic boilerplate signals — text-to-HTML ratio and jusText-
    style link density — in exact integer ppm.  One chained regex scan
    projection (whole-stage codegen, no UDF, no shuffle); the oracle
    replays the identical portable expressions under RE2."""
    from .operators import web

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_html_fixture_sql(SPARK)).alias("html")
    )
    return web.html_extract(docs, "doc_id", "html")


def _license_fixture_sql(d: str) -> str:
    """Inject reuse signals into some documents (doc_id % 6 picks the
    signal; 0/5 stay clean) — identical in both engines."""
    body = "coalesce(text, '')"
    return (
        f"(CASE cast(doc_id % 6 as int) "
        f"WHEN 1 THEN concat({body}, ' Licensed under a Creative "
        f"Commons Attribution 4.0 International License.') "
        f"WHEN 2 THEN concat({body}, ' Copyright 2026. All rights "
        f"reserved.') "
        f"WHEN 3 THEN concat('<meta name=\"robots\" "
        f"content=\"noai, noimageai\">', {body}) "
        f"WHEN 4 THEN concat({body}, ' Dedicated to the public domain "
        f"under CC0: creativecommons.org/publicdomain/zero/1.0/') "
        f"ELSE {body} END)"
    )


def _duck_license_audit_oracle() -> str:
    t = _license_fixture_sql(DUCK)
    flags = P.license_signal_flags("t2", DUCK)
    flag_cols = ", ".join(
        f"CAST({expr} AS INTEGER) AS _{name}" for name, expr in flags.items()
    )
    sums = ", ".join(
        f"CAST(SUM(_{n}) AS BIGINT) AS n_{n}" for n in flags
    )
    ppms = ", ".join(
        f"CAST({P.int_div(f'n_{n} * 1000000', 'n_docs', DUCK)} AS BIGINT) "
        f"AS {n}_ppm" for n in flags
    )
    return (
        f"WITH raw AS (SELECT source, {t} AS t2 FROM documents), "
        f"f AS (SELECT source, {flag_cols} FROM raw), "
        f"g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        f"{sums} FROM f GROUP BY source) "
        f"SELECT *, {ppms} FROM g"
    )


@query("docs_license_audit", oracle=_duck_license_audit_oracle())
def docs_license_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-compliance audit (``web.license_rollup``): per-source
    document counts and exact integer-ppm shares of Creative-Commons
    marks, public-domain/CC0 dedications, "all rights reserved"
    notices, and AI-training opt-out signals (noai/noimageai/noml) —
    the review table consulted before a source enters the training
    mix.  Regex flag projection + one source-keyed aggregate."""
    from .operators import web

    docs = load(spark, sf_dir, "documents").select(
        "source", F.expr(_license_fixture_sql(SPARK)).alias("text")
    )
    return web.license_rollup(docs, "source", "text")


@query(
    "docs_lang_fertility",
    oracle=f"""
    WITH per AS (
      SELECT lang,
             CAST({P.size(P.tokens("coalesce(text, '')", DUCK), DUCK)} AS BIGINT) AS w,
             CAST({P.size(P.regexp_tokens("coalesce(text, '')", DUCK), DUCK)} AS BIGINT) AS t,
             CAST(strlen(coalesce(text, '')) AS BIGINT) AS b
      FROM documents
    ), g AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(w) AS BIGINT) AS n_words,
             CAST(SUM(t) AS BIGINT) AS n_tokens,
             CAST(SUM(b) AS BIGINT) AS n_bytes
      FROM per GROUP BY lang
    )
    SELECT *,
      CAST(CASE WHEN n_words = 0 THEN 0
           ELSE {P.int_div('n_tokens * 1000000', 'n_words', DUCK)} END
           AS BIGINT) AS fertility_ppm,
      CAST(CASE WHEN n_tokens = 0 THEN 0
           ELSE {P.int_div('n_bytes * 1000000', 'n_tokens', DUCK)} END
           AS BIGINT) AS bytes_per_token_ppm
    FROM g
    """,
)
def docs_lang_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (``text.lang_fertility_stats``):
    lexical tokens per whitespace word and UTF-8 bytes per lexical
    token in exact integer ppm — the conversion rates multilingual
    mixture planning and token-budget accounting run on.  One scan +
    one tiny language-keyed aggregate (map-side combined)."""
    return textops.lang_fertility_stats(
        load(spark, sf_dir, "documents"), "text", lang_col="lang"
    )


@query(
    "docs_source_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT source, {P.hash_array(P.tokens("text", DUCK), DUCK)} AS th
      FROM documents
    ), g AS (
      SELECT DISTINCT source, unnest({P.token_hash_ngrams_all('th', 5, DUCK)}) AS gram
      FROM toks
    ), v AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab FROM g GROUP BY source
    ), keep AS (
      SELECT gram FROM g GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 50
    ), c AS (
      SELECT g.source, g.gram FROM g JOIN keep USING (gram)
    ), p AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS shared_grams
      FROM c a JOIN c b ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, shared_grams,
           va.vocab AS grams_a, vb.vocab AS grams_b,
           CAST({P.int_div('shared_grams * 1000000',
                           'va.vocab + vb.vocab - shared_grams', DUCK)}
                AS BIGINT) AS jaccard_ppm
    FROM p JOIN v va ON va.source = p.source_a
           JOIN v vb ON vb.source = p.source_b
    """,
)
def docs_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix (``text
    .source_overlap_matrix``): distinct word-5-gram shingles shared by
    each source pair with exact integer-ppm Jaccard — the audit that
    catches the same site scraped into two "independent" sources or
    benchmark text leaking across splits.  Inverted-index shape: gram-
    keyed distinct + self-join on the gram hash (never doc-all-pairs);
    grams in more than 50 sources are dropped before the pair join
    (quadratic boilerplate fan-out guard, deterministic lower bound)."""
    return textops.source_overlap_matrix(
        load(spark, sf_dir, "documents"), "source", "text",
        n=5, max_sources_per_gram=50,
    )


def _page_url_fixture_sql(d: str) -> str:
    """Page URL per document: one distinct registrable domain per
    source (``srcN-site.com``) so the derived link graph has real
    domain-level structure."""
    big = "string" if d == SPARK else "VARCHAR"
    sid = f"cast(doc_id as {big})"
    return (
        f"concat('https://www.', source, '-site.com/page/', {sid})"
    )


def _link_html_fixture_sql(d: str) -> str:
    """Anchor-bearing HTML per document: one cross-domain absolute
    link always (target domain from doc_id arithmetic), plus a
    doc_id%4-selected variant — protocol-relative CDN link, self-domain
    root-relative link (a self edge, dropped by the operator), a hub
    link (every fifth shape concentrates authority), or non-
    navigational noise.  Identical string expression in both
    engines."""
    big = "string" if d == SPARK else "VARCHAR"
    k1 = f"cast((doc_id * 7 + 3) % 20 as {big})"
    k2 = f"cast(doc_id % 3 as {big})"
    return (
        f"concat('<html><body><p>page</p>"
        f"<a href=\"https://src', {k1}, '-site.com/a\">x</a>', "
        f"CASE cast(doc_id % 4 as int) "
        f"WHEN 0 THEN concat('<a href=//cdn', {k2}, "
        f"'-host.net/lib>cdn</a>') "
        f"WHEN 1 THEN '<a href=\"/about\">self</a>' "
        f"WHEN 2 THEN '<A HREF=\"https://hub-central.org/t\">hub</A>' "
        f"ELSE '<a href=\"mailto:team@example.com\">m</a>"
        f"<a href=\"#top\">f</a>' END, '</body></html>')"
    )


def _duck_domain_link_edges_cte() -> str:
    """DuckDB CTE text producing ``edges(src, dst, w)`` by replaying
    the portable href-extraction / host-resolution / eTLD+1 pipeline
    over the same fixture."""
    url = _page_url_fixture_sql(DUCK)
    html = _link_html_fixture_sql(DUCK)
    base_host = P.url_host("url", DUCK)
    src_dom = P.registrable_domain("bh", DUCK)
    dst_dom = P.registrable_domain("lh", DUCK)
    return (
        f"raw AS (SELECT {url} AS url, {html} AS html FROM documents), "
        f"hx AS (SELECT {base_host} AS bh, "
        f"unnest({P.html_hrefs('html', DUCK)}) AS href FROM raw), "
        f"rx AS (SELECT bh, {P.link_host('href', 'bh', DUCK)} AS lh "
        f"FROM hx), "
        f"ed AS (SELECT {src_dom} AS src, {dst_dom} AS dst FROM rx "
        f"WHERE lh IS NOT NULL AND lh <> ''), "
        f"edges AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w "
        f"FROM ed WHERE src <> dst GROUP BY src, dst)"
    )


@query(
    "docs_domain_link_edges",
    oracle=(
        f"WITH {_duck_domain_link_edges_cte()} "
        f"SELECT src AS src_domain, dst AS dst_domain, w AS n_links "
        f"FROM edges"
    ),
)
def docs_domain_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain link graph from raw crawl HTML
    (``web.domain_link_edges``): every <a href> resolved against the
    page host (absolute / protocol-relative / root-relative; mailto,
    javascript:, and fragment links dropped), aggregated to
    (src_domain, dst_domain, n_links) at eTLD+1 granularity with
    self-edges removed.  Href harvest + resolution are one regex scan
    projection; the only shuffle is the (src, dst)-keyed count.
    Value-exact — the oracle replays the identical portable pipeline
    under RE2."""
    from .operators import web

    docs = load(spark, sf_dir, "documents").select(
        F.expr(_page_url_fixture_sql(SPARK)).alias("url"),
        F.expr(_link_html_fixture_sql(SPARK)).alias("html"),
    )
    return web.domain_link_edges(docs, "url", "html")


@query(
    "docs_domain_pagerank",
    oracle=_pagerank_oracle_sql(5, _duck_domain_link_edges_cte()),
)
def docs_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain authority over the crawl link graph: the HTML-derived
    eTLD+1 edge list feeds ``graph.pagerank_exact`` (5 iterations,
    damping 0.85, INTEGER fixed-point — rank in ppb, transitions in
    ppm), so the whole crawl -> link graph -> authority pipeline is
    value-exact end to end (the oracle replays href extraction AND the
    unrolled PageRank CTEs).  The authority score is the classic
    source-reputation prior for crawl frontier ordering and corpus
    mixture weighting.  Per iteration one rank-edge join + one
    map-side-combined SUM — the canonical distributed PageRank step.

    ``small_graph_edges=0`` pins the DISTRIBUTED loop here even though
    the sf-scale domain graph is tiny: the oracle record should certify
    the plan that runs at 100 TB, not the driver-local small-graph twin
    (the two are bit-identical by integer construction and
    equality-property-tested; ``docs_source_lang_pagerank`` keeps the
    default gate, so both paths stay driver-sampled)."""
    from .operators import graph, web

    docs = load(spark, sf_dir, "documents").select(
        F.expr(_page_url_fixture_sql(SPARK)).alias("url"),
        F.expr(_link_html_fixture_sql(SPARK)).alias("html"),
    )
    edges = web.domain_link_edges(docs, "url", "html").select(
        F.col("src_domain").alias("src"),
        F.col("dst_domain").alias("dst"),
        F.col("n_links").alias("w"),
    )
    return graph.pagerank_exact(
        edges, "src", "dst", "w", iterations=5, small_graph_edges=0
    )


def _sql_str(s: str) -> str:
    """ANSI string literal (single quotes doubled; embedded newlines
    are legal literal content in both engines)."""
    return "'" + s.replace("'", "''") + "'"


def _crawl_delta_fixture(d: str) -> tuple[str, str, str]:
    """(old_where, new_url, new_text): the old snapshot misses
    doc_id%10==7 (-> added), the new one misses doc_id%10==4
    (-> removed), every third new URL arrives as a messy variant of
    the same canonical page (tracking params / port / case — the diff
    must still line the two sides up), and doc_id%6==2 pages changed
    content."""
    base = _page_url_fixture_sql(d)
    big = "string" if d == SPARK else "VARCHAR"
    sid = f"cast(doc_id as {big})"
    messy = (
        f"concat('HTTPS://www.', source, '-site.com:443/page/', {sid}, "
        f"'/?utm_source=recrawl#frag')"
    )
    new_url = f"(CASE WHEN doc_id % 3 = 0 THEN {messy} ELSE {base} END)"
    new_text = (
        "(CASE WHEN doc_id % 6 = 2 THEN concat(coalesce(text, ''), "
        "' updated content') ELSE text END)"
    )
    return "doc_id % 10 <> 7", new_url, new_text


def _duck_crawl_delta_oracle() -> str:
    old_where, new_url, new_text = _crawl_delta_fixture(DUCK)
    base = _page_url_fixture_sql(DUCK)
    canon_old = P.canonical_url("url", DUCK)
    canon_new = P.canonical_url("url", DUCK)
    fp_old = P.fingerprint("coalesce(text, '')", DUCK)
    fp_new = P.fingerprint("coalesce(t2, '')", DUCK)
    return (
        f"WITH old_raw AS (SELECT {base} AS url, text FROM documents "
        f"WHERE {old_where}), "
        f"new_raw AS (SELECT {new_url} AS url, {new_text} AS t2 "
        f"FROM documents WHERE doc_id % 10 <> 4), "
        f"o AS (SELECT {canon_old} AS canonical_url, "
        f"MIN({fp_old}) AS old_fingerprint FROM old_raw GROUP BY 1), "
        f"n AS (SELECT {canon_new} AS canonical_url, "
        f"MIN({fp_new}) AS new_fingerprint FROM new_raw GROUP BY 1) "
        f"SELECT coalesce(o.canonical_url, n.canonical_url) "
        f"AS canonical_url, "
        f"CASE WHEN old_fingerprint IS NULL THEN 'added' "
        f"WHEN new_fingerprint IS NULL THEN 'removed' "
        f"WHEN old_fingerprint = new_fingerprint THEN 'unchanged' "
        f"ELSE 'changed' END AS status, "
        f"old_fingerprint, new_fingerprint "
        f"FROM o FULL OUTER JOIN n USING (canonical_url)"
    )


@query("docs_crawl_delta", oracle=_duck_crawl_delta_oracle())
def docs_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot crawl diff (``web.crawl_delta``): per
    canonical URL, added / removed / changed / unchanged between two
    crawls — the table an incremental ingest reads to process only the
    changed slice.  Canonicalization lines the sides up even though a
    third of the re-crawled URLs arrive as tracking-param/port/case
    variants.  One URL-keyed aggregate per side + ONE full outer join
    on the canonical URL (uniform keys); value-exact in both
    engines."""
    from .operators import web

    old_where, new_url, new_text = _crawl_delta_fixture(SPARK)
    docs = load(spark, sf_dir, "documents")
    old = docs.where(old_where).select(
        F.expr(_page_url_fixture_sql(SPARK)).alias("url"), "text"
    )
    new = docs.where("doc_id % 10 <> 4").select(
        F.expr(new_url).alias("url"), F.expr(new_text).alias("text")
    )
    return web.crawl_delta(old, new, "url", "text")


@query("docs_stream_url_dedup")  # no oracle: streaming drain
def docs_stream_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming crawl ingest with CANONICAL-URL dedup-on-arrival
    (``streaming.sinks.url_dedup_sink``): each micro-batch's pages are
    canonicalized and anti-joined against the versioned
    ``(canonical_url, id)`` survivor state — the cheapest
    dedup-on-arrival stage, upstream of the content-level MinHash
    sink; replayed batch ids skip their committed fold (exactly-once).
    Derives the same messy-URL fixture as ``docs_url_dedup``, whose
    BATCH twin is value-exact — the stream's survivor-set size must
    match the batch canonical-URL count.  Returns one row of (final
    survivor count, id checksum); arrival/replay semantics pinned in
    ``tests/test_streaming.py::TestUrlDedupSink``."""
    import tempfile

    from .streaming.sinks import read_url_dedup_state, url_dedup_sink

    _ensure_session_defaults(spark)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    with tempfile.TemporaryDirectory(prefix="url_state_") as tmp:
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )

        def sink_with_fixture(df: DataFrame, batch_id: int) -> None:
            pages = df.select(
                "doc_id", F.expr(_url_fixture_sql(SPARK)).alias("url")
            )
            url_dedup_sink(
                f"{tmp}/state", id_col="doc_id", url_col="url"
            )(pages, batch_id)

        q = (
            stream.writeStream.foreachBatch(sink_with_fixture)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = read_url_dedup_state(spark, f"{tmp}/state").agg(
            F.count(F.lit(1)).cast("long").alias("n_pages"),
            F.sum("id").cast("long").alias("id_checksum"),
        )
        return out.transform(ckpt_eager)  # detach before the tempdir goes


def _robots_fixture_sql(d: str) -> str:
    """robots.txt text per host (source % 3 picks the policy): a
    Disallow-with-Allow-carveout group, a wildcard+anchor rule, and a
    group for a DIFFERENT agent only (no ``*`` rules -> everything
    allowed)."""
    nl = "chr(10)"
    return (
        f"(CASE cast("
        f"cast(substring(source, 4) as int) % 3 as int) "
        f"WHEN 0 THEN concat('# crawl policy', {nl}, "
        f"'User-agent: *', {nl}, 'Disallow: /page/', {nl}, "
        f"'Allow: /page/1*', {nl}) "
        f"WHEN 1 THEN concat('User-agent: *', {nl}, "
        f"'Disallow: /*9$', {nl}, 'Disallow:', {nl}) "
        f"ELSE concat('User-agent: googlebot', {nl}, "
        f"'Disallow: /', {nl}) END)"
    )


def _duck_robots_groups_cte(
    txt_expr: str, robots_select: str | None = None
) -> str:
    """Shared DuckDB CTE block replaying ``web._robots_groups`` for
    agent='*': robots -> classified lines (unrecognized directives
    kept as 'other' so they split groups exactly like the Spark path)
    -> group ids -> the '*' groups.  Produces CTEs ``robots, splits,
    lns, kinds, flagged, grouped, agents``.  ``robots_select``
    overrides the robots source (a full ``SELECT host, txt ...``);
    the default derives per-host robots from the documents fixture."""
    robots_src = robots_select or f"""SELECT host, MAX(txt) AS txt FROM (
        SELECT 'www.' || source || '-site.com' AS host,
               {txt_expr} AS txt
        FROM documents
      ) GROUP BY host"""
    return f"""robots AS (
      {robots_src}
    ),
    splits AS (SELECT host, string_split(txt, chr(10)) AS sl FROM robots),
    lns AS (
      SELECT host, i AS pos,
             trim(regexp_replace(sl[i], '#.*$', '')) AS line
      FROM splits, unnest(range(1, len(sl) + 1)) AS t(i)
    ),
    kinds AS (
      SELECT host, pos,
        CASE WHEN regexp_extract(line,
             '(?i)^(user-agent|allow|disallow|crawl-delay)\\s*:', 1) = ''
             THEN 'other'
        ELSE lower(regexp_extract(line,
             '(?i)^(user-agent|allow|disallow|crawl-delay)\\s*:', 1))
        END AS kind,
        trim(regexp_extract(line, '(?i)^[a-z-]+\\s*:\\s*(.*)$', 1)) AS val
      FROM lns WHERE line <> ''
    ),
    flagged AS (
      SELECT host, pos, kind, val,
        CASE WHEN kind = 'user-agent' AND
             coalesce(LAG(kind) OVER (PARTITION BY host ORDER BY pos),
                      '') <> 'user-agent'
        THEN 1 ELSE 0 END AS new_group
      FROM kinds
    ),
    grouped AS (
      SELECT host, kind, val,
        SUM(new_group) OVER (PARTITION BY host ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
      FROM flagged
    ),
    agents AS (
      SELECT DISTINCT host, gid FROM grouped
      WHERE kind = 'user-agent' AND lower(val) = '*'
    )"""


def _duck_robots_oracle() -> str:
    url = _page_url_fixture_sql(DUCK)
    host = P.url_host("url", DUCK)
    pathq = P.url_pathq("url", DUCK)
    regex = P.robots_rule_regex("path_rule", DUCK)
    return f"""
    WITH pages AS (SELECT doc_id, {url} AS url FROM documents),
    {_duck_robots_groups_cte(_robots_fixture_sql(DUCK))},
    rules AS (
      SELECT DISTINCT g.host, g.kind AS rule_type, g.val AS path_rule
      FROM grouped g JOIN agents a ON g.host = a.host AND g.gid = a.gid
      WHERE g.kind IN ('allow', 'disallow') AND g.val <> ''
    ),
    rulesx AS (
      SELECT host, rule_type, path_rule, {regex} AS rule_regex,
             CAST(length(path_rule) AS BIGINT) AS rule_len
      FROM rules
    ),
    keyed AS (
      SELECT doc_id, {host} AS host, {pathq} AS pathq FROM pages
    ),
    cand AS (
      SELECT k.doc_id, r.rule_type, r.path_rule, r.rule_len,
             r.rule_regex IS NOT NULL
             AND regexp_matches(k.pathq, r.rule_regex) AS m
      FROM keyed k LEFT JOIN rulesx r ON k.host = r.host
    ),
    ranked AS (
      SELECT doc_id,
             MAX(CASE WHEN m THEN rule_len * 2 +
                 CASE WHEN rule_type = 'allow' THEN 1 ELSE 0 END END)
             AS rnk
      FROM cand GROUP BY doc_id
    ),
    winner AS (
      SELECT c.doc_id, MIN(c.path_rule) AS matched_rule
      FROM cand c JOIN ranked r ON c.doc_id = r.doc_id
      WHERE c.m AND c.rule_len * 2 +
            CASE WHEN c.rule_type = 'allow' THEN 1 ELSE 0 END = r.rnk
      GROUP BY c.doc_id
    )
    SELECT r.doc_id, r.rnk IS NULL OR r.rnk % 2 = 1 AS allowed,
           w.matched_rule,
           CASE WHEN r.rnk IS NULL THEN NULL
                WHEN r.rnk % 2 = 1 THEN 'allow'
                ELSE 'disallow' END AS matched_type
    FROM ranked r LEFT JOIN winner w ON r.doc_id = w.doc_id
    """


@query("docs_robots_compliance", oracle=_duck_robots_oracle())
def docs_robots_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-compliance gate (``web.robots_filter``): RFC 9309
    robots.txt evaluation per page — grouped User-agent parsing with
    comment stripping, ``*``/trailing-``$`` wildcard rules translated
    to anchored regexes, longest-match-wins with ties to allow, absent
    rules meaning allowed.  The integer rank (rule_len*2 + is_allow)
    encodes the precedence with no struct comparisons, so the whole
    pipeline — including the per-row regex match — replays value-exact
    in DuckDB.  Robots files are per-host and small: the parse window
    is bounded by file size, pages join rules on the host key."""
    from .operators import web

    docs = load(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id", F.expr(_page_url_fixture_sql(SPARK)).alias("url")
    )
    robots = docs.select(
        F.concat(F.lit("www."), F.col("source"), F.lit("-site.com"))
        .alias("host"),
        F.expr(_robots_fixture_sql(SPARK)).alias("robots_txt"),
    ).distinct()
    return web.robots_filter(pages, robots, "doc_id", "url")


def _warc_curation_oracle() -> str:
    """DuckDB replay of the crawl-acceptance pipeline.  DuckDB cannot
    parse WARC, so the oracle starts from VALUES literals of the SAME
    (url, html) pages and (host, robots.txt) files the committed
    archive contains — a byte-equality pytest pins the archive to these
    constants — then independently recomputes the robots gate, link
    extraction, canonicalization, and dedup with the portable SQL
    builders."""
    from .fixtures import CRAWL_PAGES, CRAWL_ROBOTS

    pages_values = ",\n      ".join(
        f"({_sql_str(u)}, {_sql_str(h)})" for u, h in CRAWL_PAGES
    )
    robots_values = ",\n      ".join(
        f"({_sql_str(h)}, {_sql_str(t)})" for h, t in CRAWL_ROBOTS
    )
    regex = P.robots_rule_regex("path_rule", DUCK)
    host = P.url_host("url", DUCK)
    pathq = P.url_pathq("url", DUCK)
    canon = P.canonical_url("url", DUCK)
    nlinks = P.size(P.html_anchor_texts("html", DUCK), DUCK)
    return f"""
    WITH pages AS (
      SELECT * FROM (VALUES {pages_values}) AS t(url, html)
    ),
    {_duck_robots_groups_cte(
        "", robots_select=f"SELECT * FROM (VALUES {robots_values}) "
        "AS t(host, txt)")},
    rulesx AS (
      SELECT host, rule_type, path_rule, {regex} AS rule_regex,
             CAST(length(path_rule) AS BIGINT) AS rule_len
      FROM (
        SELECT DISTINCT g.host, g.kind AS rule_type, g.val AS path_rule
        FROM grouped g JOIN agents a ON g.host = a.host AND g.gid = a.gid
        WHERE g.kind IN ('allow', 'disallow') AND g.val <> ''
      )
    ),
    keyed AS (
      SELECT url, {host} AS host, {pathq} AS pathq FROM pages
    ),
    cand AS (
      SELECT k.url, r.rule_type, r.rule_len,
             r.rule_regex IS NOT NULL
             AND regexp_matches(k.pathq, r.rule_regex) AS m
      FROM keyed k LEFT JOIN rulesx r ON k.host = r.host
    ),
    ranked AS (
      SELECT url,
             MAX(CASE WHEN m THEN rule_len * 2 +
                 CASE WHEN rule_type = 'allow' THEN 1 ELSE 0 END END)
             AS rnk
      FROM cand GROUP BY url
    ),
    allowed AS (
      SELECT p.url, p.html FROM pages p JOIN ranked r ON p.url = r.url
      WHERE r.rnk IS NULL OR r.rnk % 2 = 1
    ),
    ext AS (
      SELECT {canon} AS canonical_url, url,
             CAST({nlinks} AS BIGINT) AS n_links
      FROM allowed
    )
    SELECT canonical_url, MIN(url) AS keep_url,
           CAST(COUNT(*) AS BIGINT) AS dup_count,
           CAST(SUM(n_links) AS BIGINT) AS sum_links
    FROM ext GROUP BY canonical_url
    """


@query("warc_crawl_curation", oracle=_warc_curation_oracle())
def warc_crawl_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl-ingest acceptance: an ACTUAL committed
    ``.warc.gz`` archive (``fixtures/crawl_acceptance.warc.gz``) runs
    the full curation path — ``read_warc`` (ISO 28500 parse) →
    ``http_responses`` (HTTP projection, text decode) → robots split →
    ``web.robots_filter`` (RFC 9309 gate) → ``web.html_extract`` (link
    counts) → ``web.url_dedup`` (canonical-URL survivors).  Output: one
    row per canonical URL that surviving ALLOWED pages collapse to,
    with the smallest-URL survivor, duplicate count, and total
    extracted links.  Independent of ``sf_dir`` by design — the archive
    is the input, as in production crawl ingest.

    Scale shape: archives parse one-per-task (``binaryFile``), robots
    files are per-host and small (host-keyed equi-join), the dedup is
    one hash aggregate on the canonical key.  The oracle replays
    everything downstream of the WARC parse from VALUES literals that a
    byte-equality pytest pins to the committed archive."""
    from .fixtures import ensure_crawl_fixture
    from .operators import web
    from .sources.warc import http_responses, read_warc

    # parse each archive ONCE: the narrow response projection feeds four
    # consumers (robots split, page split, gate join, link extract) that
    # would otherwise each re-gunzip + re-parse the archive per scan
    resp = http_responses(
        read_warc(spark, ensure_crawl_fixture())
    ).transform(ckpt_lazy)
    robots = resp.where(
        F.col("target_uri").endswith("/robots.txt")
    ).select(
        F.expr(P.url_host("target_uri", P.SPARK)).alias("host"),
        F.col("html").alias("robots_txt"),
    )
    pages = resp.where(
        (F.col("http_status") == 200)
        & F.col("html").isNotNull()
        & ~F.col("target_uri").endswith("/robots.txt")
    ).select(F.col("target_uri").alias("url"), "html")
    gate = web.robots_filter(pages, robots, "url", "url")
    allowed = pages.join(
        gate.where("allowed").select("url"), "url"
    )
    survivors = web.url_dedup(allowed, "url", "url").withColumnRenamed(
        "keep_id", "keep_url"
    )
    links = (
        web.with_canonical_url(
            web.html_extract(allowed, "url", "html").select(
                "url", "n_links"
            ),
            "url",
            "canonical_url",
        )
        .groupBy("canonical_url")
        .agg(F.sum("n_links").alias("sum_links"))
    )
    return survivors.join(links, "canonical_url").select(
        "canonical_url", "keep_url", "dup_count", "sum_links"
    )


def _media_decode_oracle() -> str:
    """DuckDB replay of the media-decode report.  DuckDB cannot decode
    PNG/BMP/GIF, so the oracle starts from VALUES literals of the SAME
    per-file integer decode results the committed fixture produces
    under ``exact_decode`` (a byte-equality + decode-equality pytest
    pins the files to these constants), then independently recomputes
    the downstream mean and dup-group rollup."""
    from .fixtures.media import MEDIA_EXPECTED

    def lit(v):
        return _sql_str(v) if isinstance(v, str) else (
            "NULL" if v is None else str(v)
        )

    values = ",\n      ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in MEDIA_EXPECTED
    )
    return f"""
    WITH decoded AS (
      SELECT file, format, CAST(width AS INTEGER) AS width,
             CAST(height AS INTEGER) AS height,
             CAST(channels AS INTEGER) AS channels,
             CAST(pixel_sum AS BIGINT) AS pixel_sum,
             CAST(n_vals AS BIGINT) AS n_vals,
             CAST(dhash AS BIGINT) AS dhash
      FROM (VALUES {values})
        AS t(file, format, width, height, channels, pixel_sum, n_vals,
             dhash)
    )
    SELECT file, format, width, height, channels,
           pixel_sum * 1000000 // n_vals AS mean_ppm, dhash,
           MIN(file) OVER (
             PARTITION BY COALESCE(CAST(dhash AS VARCHAR), file)
           ) AS dup_group
    FROM decoded
    """


@query("media_decode_report", oracle=_media_decode_oracle())
def media_decode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end media-decode acceptance over COMMITTED binary files
    (``fixtures/media/``): ``binaryFile`` scan → ``decode_images`` with
    the integer-exact real pixel kernel (``exact_decode``: stdlib-only
    BMP 24/8-bit-paletted, any-depth PNG, LZW GIF decode + 64-bit
    dHash) → exact integer mean (ppm) and perceptual-hash dup grouping.
    The fixture carries the SAME image rendered as PNG and 24-bit BMP —
    the cross-format near-dup pair collapses to one ``dup_group`` — a
    16-bit grayscale PNG, a paletted GIF and BMP, plus a PCM WAV and a
    real RIFF/AVI clip that degrade to header/container metadata with
    null pixel stats (the filter-then-route contract; the AVI's
    width/height come from the round-12 ``parse_avi_header`` RIFF
    walk).  Independent of ``sf_dir`` by design —
    the committed files are the input, as in production media ingest.

    Scale shape: one file per task (``binaryFile``), Arrow-batched
    ``mapInPandas`` decode, one window over the 64-bit hash key for the
    grouping — the same plan at 10^9 images.  The oracle replays the
    per-file decode from VALUES literals that a byte-equality +
    decode-equality pytest pins to the committed bytes, then recomputes
    the mean and dup-group rollup independently."""
    from pyspark.sql import Window as W

    from .fixtures.media import ensure_media_fixture
    from .operators.multimodal import (
        EXACT_DECODE_SCHEMA,
        decode_images,
        exact_decode,
    )

    files = spark.read.format("binaryFile").load(ensure_media_fixture())
    rep = decode_images(
        files, decoder=exact_decode, batch_schema=EXACT_DECODE_SCHEMA
    ).select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "format", "width", "height", "channels",
        F.expr("pixel_sum * 1000000L DIV n_vals").alias("mean_ppm"),
        "dhash",
    )
    grp = W.partitionBy(
        F.coalesce(F.col("dhash").cast("string"), F.col("file"))
    )
    return rep.withColumn("dup_group", F.min("file").over(grp))


def _media_audio_oracle() -> str:
    """DuckDB replay of the audio-quality report from the pinned
    integer stats (``MEDIA_AUDIO_EXPECTED`` — byte-equality +
    decode-equality pytest-pinned to the committed WAVs); the ppm
    ratios and the verdict CASE are recomputed independently."""
    from .fixtures.media import MEDIA_AUDIO_EXPECTED

    values = ",\n      ".join(
        "(" + ", ".join(
            _sql_str(v) if isinstance(v, str) else str(v) for v in row
        ) + ")" for row in MEDIA_AUDIO_EXPECTED
    )
    return f"""
    WITH stats AS (
      SELECT file, codec, CAST(sample_rate AS INTEGER) AS sample_rate,
             CAST(n_samples AS BIGINT) AS n_samples,
             CAST(peak_abs AS INTEGER) AS peak_abs,
             CAST(sum_sq AS BIGINT) AS sum_sq,
             CAST(n_silence AS BIGINT) AS n_silence,
             CAST(n_clipped AS BIGINT) AS n_clipped,
             CAST(n_zero_cross AS BIGINT) AS n_zero_cross
      FROM (VALUES {values})
        AS t(file, codec, channels, sample_rate, n_samples, peak_abs,
             sum_sq, n_silence, n_clipped, n_zero_cross)
    )
    SELECT file, codec, sample_rate, n_samples, peak_abs,
           sum_sq // n_samples AS mean_sq,
           n_silence * 1000000 // n_samples AS silence_ppm,
           n_clipped * 1000000 // n_samples AS clipping_ppm,
           n_zero_cross * 10000 // n_samples AS zcr_per_10k,
           CASE
             WHEN n_clipped * 1000000 // n_samples > 5000
               THEN 'clipped'
             WHEN n_silence * 1000000 // n_samples > 500000
               THEN 'mostly_silent'
             ELSE 'ok'
           END AS verdict
    FROM stats
    """


@query("media_audio_quality", oracle=_media_audio_oracle())
def media_audio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-curation quality gate over the COMMITTED WAV fixtures:
    ``binaryFile`` scan → :func:`multimodal.exact_audio_stats` (REAL
    PCM decode — 8/16-bit and the exact G.711 A-law / mu-law
    expansions — into pure-integer stats) → silence / clipping /
    zero-crossing ppm ratios and the keep-or-drop verdict a speech-data
    pipeline filters on.  Every derived column is integer arithmetic
    (``DIV``), so both engines agree bit-exactly; the oracle replays
    the per-file decode from pytest-pinned VALUES and recomputes the
    ratios + verdict independently.  Independent of ``sf_dir`` by
    design — the committed files are the input.

    Scale shape: one file per task (``binaryFile``), Arrow-batched
    ``mapInPandas`` decode, then a narrow projection — no shuffle at
    all; the same plan at 10^8 clips."""
    from .fixtures.media import ensure_media_fixture
    from .operators.multimodal import (
        EXACT_AUDIO_SCHEMA,
        decode_audio,
        exact_audio_stats,
    )

    files = spark.read.format("binaryFile").load(ensure_media_fixture())
    stats = decode_audio(
        files, decoder=exact_audio_stats, batch_schema=EXACT_AUDIO_SCHEMA
    ).where(F.col("codec").isNotNull())
    return stats.select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "codec", "sample_rate", "n_samples", "peak_abs",
        F.expr("sum_sq DIV n_samples").alias("mean_sq"),
        F.expr("n_silence * 1000000L DIV n_samples").alias("silence_ppm"),
        F.expr("n_clipped * 1000000L DIV n_samples").alias("clipping_ppm"),
        F.expr("n_zero_cross * 10000L DIV n_samples").alias("zcr_per_10k"),
        F.expr(
            "CASE WHEN n_clipped * 1000000L DIV n_samples > 5000 "
            "THEN 'clipped' "
            "WHEN n_silence * 1000000L DIV n_samples > 500000 "
            "THEN 'mostly_silent' ELSE 'ok' END"
        ).alias("verdict"),
    )


def _media_resample_oracle() -> str:
    """DuckDB replay of the resample report from the pinned inputs
    (``MEDIA_RESAMPLE_EXPECTED``): the output length
    ``n_in * 16000 // in_rate`` is recomputed independently; the
    sample checksum is the pinned kernel output."""
    from .fixtures.media import MEDIA_RESAMPLE_EXPECTED

    values = ",\n      ".join(
        f"({_sql_str(f)}, {_sql_str(c)}, {r}, {n}, {s})"
        for f, c, r, n, s in MEDIA_RESAMPLE_EXPECTED
    )
    return f"""
    SELECT file, codec, 16000 AS sample_rate,
           CAST(n_in AS BIGINT) * 16000 // in_rate AS n_samples,
           CAST(pcm_sum AS BIGINT) AS pcm_sum
    FROM (VALUES {values}) AS t(file, codec, in_rate, n_in, pcm_sum)
    """


@query("media_resample_report", oracle=_media_resample_oracle())
def media_resample_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speech-pipeline normalization acceptance over the COMMITTED
    WAVs: :func:`multimodal.preprocess_audio` (REAL decode → integer
    mono mixdown → rational-position linear resample to 16 kHz →
    int16 PCM buffers) with an integer checksum over the emitted
    buffer, so the driver record certifies the RESAMPLED BYTES, not
    just metadata.  The oracle recomputes the duration-preserving
    output length ``n_in * 16000 DIV in_rate`` independently and
    replays the pytest-pinned checksum.  Independent of ``sf_dir`` by
    design.

    Scale shape: one file per task (``binaryFile``), two chained
    Arrow-batched ``mapInPandas`` stages, no shuffle."""
    from .fixtures.media import ensure_media_fixture
    from .operators.multimodal import preprocess_audio

    files = spark.read.format("binaryFile").load(ensure_media_fixture())
    pre = preprocess_audio(files, target_rate=16000).where(
        F.col("codec").isNotNull()
    )

    def checksum(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({
                "file": [p.rsplit("/", 1)[-1] for p in pdf["path"]],
                "codec": pdf["codec"],
                "sample_rate": pdf["sample_rate"],
                "n_samples": pdf["n_samples"],
                "pcm_sum": [
                    int(np.frombuffer(b, dtype="<i2").astype(np.int64).sum())
                    for b in pdf["pcm"]
                ],
            }, dtype=object)

    return pre.mapInPandas(
        checksum,
        schema="file string, codec string, sample_rate int, "
        "n_samples long, pcm_sum long",
    )


def _media_scene_oracle() -> str:
    """DuckDB replay of scene-cut detection from the pinned per-frame
    dHashes (``MEDIA_VIDEO_EXPECTED``); the lag / xor / bit_count /
    threshold logic is recomputed independently."""
    from .fixtures.media import MEDIA_VIDEO_EXPECTED

    values = ",\n      ".join(
        f"({_sql_str(f)}, {i}, {h})" for f, i, h in MEDIA_VIDEO_EXPECTED
    )
    return f"""
    WITH sig AS (
      SELECT file, CAST(frame_idx AS INTEGER) AS frame_idx,
             CAST(dhash AS BIGINT) AS dhash
      FROM (VALUES {values}) AS t(file, frame_idx, dhash)
    ),
    lagged AS (
      SELECT file, frame_idx, dhash,
             LAG(dhash) OVER (PARTITION BY file ORDER BY frame_idx)
             AS prev
      FROM sig
    )
    SELECT file, frame_idx,
           CAST(bit_count(xor(dhash, prev)) AS INTEGER) AS hamming,
           bit_count(xor(dhash, prev)) >= 16 AS is_cut
    FROM lagged WHERE prev IS NOT NULL
    """


@query("media_scene_cuts", oracle=_media_scene_oracle())
def media_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the COMMITTED RIFF/AVI clips:
    ``binaryFile`` scan → :func:`multimodal.video_frame_signatures`
    with the REAL demuxer (``split_avi_frames``: RIFF walk, DIB frame
    re-wrap) and per-frame 64-bit dHash → per-clip lag window →
    hamming distance between consecutive frame hashes → cut where it
    crosses the threshold (16 of 64 bits).  The frame-sampling /
    shot-boundary primitive of a video training-data pipeline.  The
    oracle replays the per-frame hashes from pytest-pinned VALUES and
    recomputes the window + hamming + threshold independently.
    Independent of ``sf_dir`` by design.

    Scale shape: one clip per task (``binaryFile``), Arrow-batched
    ``mapInPandas`` demux+hash, then a window partitioned BY CLIP over
    per-clip frame counts (bounded state — never a global sort); the
    same plan at 10^7 clips."""
    from pyspark.sql import Window as W

    from .fixtures.media import ensure_media_fixture
    from .operators.multimodal import split_avi_frames, video_frame_signatures

    files = spark.read.format("binaryFile").load(ensure_media_fixture())
    sig = video_frame_signatures(files, splitter=split_avi_frames).where(
        F.col("frame_hashes").isNotNull()
    )
    fr = sig.select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        F.posexplode("frame_hashes").alias("frame_idx", "dhash"),
    )
    w = W.partitionBy("file").orderBy("frame_idx")
    return (
        fr.withColumn("prev", F.lag("dhash").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            "file",
            "frame_idx",
            F.bit_count(F.col("dhash").bitwiseXOR(F.col("prev")))
            .cast("int")
            .alias("hamming"),
            (
                F.bit_count(F.col("dhash").bitwiseXOR(F.col("prev"))) >= 16
            ).alias("is_cut"),
        )
    )


def _robots_delay_fixture_sql(d: str) -> str:
    """robots.txt with Crawl-delay directives (source % 3): integer
    delay, fractional delay, and none (default applies); one group
    also carries a delay for a DIFFERENT agent that must not win."""
    nl = "chr(10)"
    return (
        f"(CASE cast("
        f"cast(substring(source, 4) as int) % 3 as int) "
        f"WHEN 0 THEN concat('User-agent: *', {nl}, "
        f"'Crawl-delay: 2', {nl}, 'Disallow: /admin/', {nl}, "
        f"'User-agent: slowbot', {nl}, 'Crawl-delay: 30', {nl}) "
        f"WHEN 1 THEN concat('User-agent: *', {nl}, "
        f"'Crawl-delay: 0.5', {nl}) "
        f"ELSE concat('User-agent: *', {nl}, "
        f"'Disallow: /tmp/', {nl}) END)"
    )


def _duck_crawl_plan_oracle() -> str:
    url = _page_url_fixture_sql(DUCK)
    host = P.url_host("url", DUCK)
    return f"""
    WITH pages AS (SELECT {url} AS url FROM documents),
    {_duck_robots_groups_cte(_robots_delay_fixture_sql(DUCK))},
    delays AS (
      SELECT g.host,
             MAX(CAST(CAST(g.val AS DECIMAL(13,6)) * 1000 AS BIGINT))
             AS crawl_delay_ms
      FROM grouped g JOIN agents a ON g.host = a.host AND g.gid = a.gid
      WHERE g.kind = 'crawl-delay'
            AND regexp_matches(g.val,
                '^[0-9]{{1,6}}(\\.[0-9]{{1,6}})?$')
      GROUP BY g.host
    ),
    counts AS (
      SELECT {host} AS host, CAST(COUNT(*) AS BIGINT) AS n_pages
      FROM pages GROUP BY 1
    )
    SELECT c.host, c.n_pages,
           coalesce(d.crawl_delay_ms, 1000) AS crawl_delay_ms,
           c.n_pages * coalesce(d.crawl_delay_ms, 1000) AS serial_ms
    FROM counts c LEFT JOIN delays d ON c.host = d.host
    """


@query("docs_crawl_plan", oracle=_duck_crawl_plan_oracle())
def docs_crawl_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl politeness plan (``web.crawl_plan``): page count,
    effective ``Crawl-delay`` for ``*`` (max across the agent's
    groups, exact integer ms — fractional seconds honored; a
    different agent's delay must not leak in), and the serial fetch
    time the delay implies — the frontier scheduler's critical-path
    table.  One host-keyed count + one small per-host join;
    value-exact in both engines."""
    from .operators import web

    docs = load(spark, sf_dir, "documents")
    pages = docs.select(F.expr(_page_url_fixture_sql(SPARK)).alias("url"))
    robots = docs.select(
        F.concat(F.lit("www."), F.col("source"), F.lit("-site.com"))
        .alias("host"),
        F.expr(_robots_delay_fixture_sql(SPARK)).alias("robots_txt"),
    ).distinct()
    return web.crawl_plan(pages, robots, "url")


# --------------------------------------------------------------------------
# driver correctness-window ordering
# --------------------------------------------------------------------------
# The acceptance driver hard-checks exactly the FIRST 50 insertion-order
# entries of ``QUERIES`` against their DuckDB oracles (row count + schema +
# value hash).  File order above groups queries by subject, which left every
# dedup/ANN/SCD2/recursive-CTE/salted/curation entry outside that window in
# rounds 1-3.  This explicit order puts one-or-more representatives of EVERY
# operator family inside the window; the displaced relational variants stay
# fully verified by scripts/run_oracle_gate.py (value-exact, all 96 queries).
# The two approximate-by-design sketches (no oracle possible) and the two
# streaming drains (rows-only check by nature) are deliberately placed
# OUTSIDE the window; their exact/batch twins are inside it.
# Rotation history lives in COVERAGE.md ("Driver-window rotation"
# sections, rounds 10-12); displaced incumbents always have 1+ green
# driver samples on record AND stay value-exact in
# scripts/run_oracle_gate.py every round.
# ROUND-12 ROTATION (per r11 verdict item 1): TWENTY-ONE
# never-driver-sampled oracle-backed entries rotate in ("r12-in"
# below) — the twenty COVERAGE.md candidates pre-verified value-exact
# at sf0.1 in r11, plus the NEW media_decode_report.  The 21 displaced
# incumbents (q11_important_part_value, the nine r11 web-corpus
# entries, docs_domain_pagerank — distributed-loop record certified in
# r11 — orders_yoy_growth, customer_rfm_segments, docs_repeated_spans,
# docs_dsir_importance, docs_stratified_sample, dedup_fingerprint,
# dedup_minhash_survivors, dedup_cluster_stats, ann_topk_pq,
# ann_topk_ivfpq) are all driver-green in CORRECTNESS_r11 AND stay
# value-exact in scripts/run_oracle_gate.py every round.
# events_burst_detection KEEPS its slot: its threshold changed
# (2x -> 1.5x, r11 verdict item 4) so the record must re-certify the
# new semantics.
_WINDOW_ORDER: tuple[str, ...] = (
    # TPC-H flagships (joins, aggregation, subqueries)
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_region_nation_revenue",
    "q6_forecast_revenue",
    "events_peak_concurrency_daily",
    # r12-in (new this round): end-to-end media decode over the
    # committed binary fixture — binaryFile -> real pixel decode ->
    # integer mean + dHash dup grouping (the multimodal family's first
    # oracle-backed driver record)
    "media_decode_report",
    # r12-in (late-round additions): integer-exact audio-quality gate
    # (real PCM/G.711 decode) and frame-signature scene-cut detection
    # (real RIFF demux) over the same committed fixture
    "media_audio_quality",
    "media_scene_cuts",
    # end-to-end crawl-ingest acceptance (kept: the repo's flagship
    # composite; re-certifies the r12 WARC robustness fixes)
    "warc_crawl_curation",
    # r12-in: corpus-quality analytics never driver-sampled
    "docs_quality_length_frontier",
    "docs_langid_confusion",
    "docs_tfidf_top_terms",
    "docs_token_histogram",
    "docs_heaps_curve",
    "docs_pii_audit",
    "docs_vocab_coverage",
    # windows / sessions
    "events_sessionize",
    # kept in-window: threshold re-derived this round (2x -> 1.5x) so
    # the driver record certifies the NEW non-vacuous-at-every-scale
    # semantics
    "events_burst_detection",
    # r12-in: event analytics never driver-sampled
    "events_seasonal_naive_error",
    "events_session_summary",
    "events_daily_active_users",
    "events_top_paths",
    "events_kanonymity_audit",
    "events_type_transition_matrix",
    # grouping sets
    "orders_rollup",
    # r12-in: lateral-join shape + table profiling + upsert-merge
    "orders_priciest_line_lateral",
    "orders_table_profile",
    "customer_upsert_merge",
    "customer_basket_similarity",
    "lineitem_correlation_matrix",
    # join shapes: as-of, range
    "events_asof_view_before_click",
    # quality rules + embedding-space dedup
    "docs_gopher_filter",
    "dedup_semantic_survivors",
    "docs_classifier_calibration",
    "docs_bigram_coherence",
    "docs_bm25_topk",
    # training-data curation
    "docs_pack_sequences",
    "decontaminate_splits",
    "docs_temperature_mixture",
    # r12-in: end-to-end curation composites never driver-sampled
    "pipeline_clean_corpus",
    "dedup_quality_survivors",
    # deduplication family
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_components_star",
    "dedup_simhash_near_pairs",
    # data layout: N-dim Morton z-value cells (operators/layout.py)
    "orders_zorder_cells",
    # similarity search
    "ann_topk_matryoshka",
    "ann_topk_sq8",
    # SCD2 merge, skew-salted aggregate
    "customer_segment_scd2",
    "events_salted_type_counts",
)


def _apply_window_order() -> None:
    missing = [n for n in _WINDOW_ORDER if n not in QUERIES]
    if missing:  # fail at import, loudly, if a window entry is renamed
        raise KeyError(f"_WINDOW_ORDER names unknown queries: {missing}")
    no_oracle = [n for n in _WINDOW_ORDER if n not in ORACLES]
    if no_oracle:  # every window entry must carry a hard oracle
        raise KeyError(f"_WINDOW_ORDER entries lack oracles: {no_oracle}")
    ordered = {n: QUERIES[n] for n in _WINDOW_ORDER}
    ordered.update((n, f) for n, f in QUERIES.items() if n not in ordered)
    # mutate in place: callers hold references to this exact dict
    QUERIES.clear()
    QUERIES.update(ordered)


_apply_window_order()
