"""DORMANT decimal-output contingency for the four ulp-exposed revenue
queries (round-6 verdict item 6) — NOT registered, NOT imported by
``plans.__init__.all_queries``.

Background (ROUND5.md, BENCH_NOTES r5): at sf1 the driver-style
comparison shows q1_pricing_summary / regional_revenue /
order_status_rollup / bucketed_orders_lineitem_revenue differing from
DuckDB by EXACTLY 1–2 ulp on sums of magnitude 1e10–1e11. Both engines'
exact DECIMAL sums are identical; DuckDB's decimal→double conversion
double-rounds (int128 → double, then scale division) while
Spark/BigDecimal round correctly. This is a property of the
VERIFICATION CHANNEL (the final ``CAST(... AS DOUBLE)``), not engine
nondeterminism, and the sf0.01 driver gate has never hit it.

The fix, if the gate ever does hit (``check_oracle`` auto-classifies the
signature as "decimal->double CONVERSION artifact"): keep the exposed
sums DECIMAL-typed end-to-end so no conversion happens at all. This
module holds those variants ready:

- each variant is the registered query with ONLY the big-sum columns
  retyped DOUBLE → DECIMAL(24,8) (empirically the only cells that ulp;
  q1's avg_* columns are magnitude ~1e1–1e4 where the double ulp is far
  below the 1e-8 decimal quantum, so correct- and double-rounding agree);
- the oracle casts the same columns to DECIMAL(24,8), which crosses
  Arrow as decimal128(24,8) and hash-matches Spark's collected
  ``decimal.Decimal`` values exactly (``tests/test_queries.py::
  test_decimal_contingency_variants_hash_match_duckdb`` proves it at
  sf0.01 always, and at the sf1 stress replica when present — the scale
  where the double-typed originals demonstrably mismatch).

TO APPLY (only on a classified driver-gate hit — this changes recorded
output types):

1. call ``apply()`` at the end of ``plans/__init__.all_queries``'s
   import block (one line: ``from ... import decimal_contingency;
   decimal_contingency.apply()``);
2. nothing to queue: the four queries re-record under the new schema
   when the stalest-first window order reaches them, and the replica
   sweep (``tools/check_oracle.py``) certifies them meanwhile;
3. delete this docstring's dormancy notes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.plans import relational as _rel
from spotify_tracks_etl_portfolio_spark.sources.readers import read_parquet_table

_DEC = _rel._DEC  # decimal(24,8) — same quantum as the registered forms


def q1_pricing_summary_dec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q1_pricing_summary with the four big sums DECIMAL-typed (avg_*
    and count_order unchanged — they never ulp)."""
    l = read_parquet_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast(_DEC)).cast(_DEC).alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast(_DEC)).cast(_DEC).alias("sum_base_price"),
        F.sum(disc_price.cast(_DEC)).cast(_DEC).alias("sum_disc_price"),
        F.sum(charge.cast(_DEC)).cast(_DEC).alias("sum_charge"),
        (F.sum(F.col("l_quantity").cast(_DEC)).cast("double") / F.count("l_quantity")).alias("avg_qty"),
        (F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / F.count("l_extendedprice")).alias("avg_price"),
        (F.sum(F.col("l_discount").cast(_DEC)).cast("double") / F.count("l_discount")).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


Q1_PRICING_SUMMARY_DEC_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(24,8))) AS DECIMAL(24,8)) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,8))) AS DECIMAL(24,8)) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))) AS DECIMAL(24,8)) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(24,8))) AS DECIMAL(24,8)) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(24,8))) AS DOUBLE) / count(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,8))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(24,8))) AS DOUBLE) / count(l_discount) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def regional_revenue_dec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regional_revenue with the revenue sum DECIMAL-typed."""
    l = read_parquet_table(spark, sf_dir, "lineitem")
    o = read_parquet_table(spark, sf_dir, "orders")
    c = read_parquet_table(spark, sf_dir, "customer")
    n = read_parquet_table(spark, sf_dir, "nation")
    r = read_parquet_table(spark, sf_dir, "region")
    per_order = l.groupBy("l_orderkey").agg(
        F.sum(_rel._revenue(l)).alias("__odec"),
        F.count(F.lit(1)).alias("__nli"),
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum("__odec").cast(_DEC).alias("revenue"),
            F.sum("__nli").alias("n_lineitems"),
        )
    )


REGIONAL_REVENUE_DEC_ORACLE = """
SELECT r.r_name AS region,
       n.n_name AS nation,
       CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(24,8))) AS DECIMAL(24,8)) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
"""


def order_status_rollup_dec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order_status_rollup with the total_price sum DECIMAL-typed."""
    o = read_parquet_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(_DEC)).cast(_DEC).alias("total_price"),
    )


ORDER_STATUS_ROLLUP_DEC_ORACLE = """
SELECT o_orderstatus,
       o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(24,8))) AS DECIMAL(24,8)) AS total_price
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


def bucketed_orders_lineitem_revenue_dec(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """bucketed_orders_lineitem_revenue with the revenue sum
    DECIMAL-typed (same bucketed-table plumbing as the registered
    form)."""
    import os

    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        _session_scratch,
    )
    from spotify_tracks_etl_portfolio_spark.sources.catalog import (
        create_bucketed_table,
    )

    d = _session_scratch(spark, "bucketed_dec")
    create_bucketed_table(
        spark, "b_orders_dec",
        read_parquet_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus"
        ),
        "o_orderkey", 8, os.path.join(d, "b_orders_dec"),
    )
    create_bucketed_table(
        spark, "b_lineitem_dec",
        read_parquet_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        "l_orderkey", 8, os.path.join(d, "b_lineitem_dec"),
    )
    o = spark.table("b_orders_dec")
    l = spark.table("b_lineitem_dec")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.sum(_rel._revenue(l)).cast(_DEC).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


BUCKETED_REVENUE_DEC_ORACLE = """
SELECT o.o_orderstatus,
       CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(24,8))) AS DECIMAL(24,8)) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderstatus
"""


#: name → (fn, oracle): the exact payload ``apply`` swaps in.
DECIMAL_VARIANTS = {
    "q1_pricing_summary": (q1_pricing_summary_dec, Q1_PRICING_SUMMARY_DEC_ORACLE),
    "regional_revenue": (regional_revenue_dec, REGIONAL_REVENUE_DEC_ORACLE),
    "order_status_rollup": (order_status_rollup_dec, ORDER_STATUS_ROLLUP_DEC_ORACLE),
    "bucketed_orders_lineitem_revenue": (
        bucketed_orders_lineitem_revenue_dec,
        BUCKETED_REVENUE_DEC_ORACLE,
    ),
}


def apply() -> None:
    """Swap the decimal-typed variants over the registered originals
    (see the module docstring for when and how). Idempotent."""
    from spotify_tracks_etl_portfolio_spark.plans import QUERIES

    suffix = (
        " [decimal-output contingency applied: big sums stay "
        "DECIMAL(24,8) end-to-end — no decimal->double conversion "
        "for the oracle channel to double-round]"
    )
    for name, (fn, oracle) in DECIMAL_VARIANTS.items():
        spec = QUERIES[name]
        spec.fn = fn
        spec.oracle = oracle
        if not spec.description.endswith(suffix):  # keep apply idempotent
            spec.description += suffix
