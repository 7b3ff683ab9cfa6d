"""Catalog DDL ops (S5/S6/S8/S9) and the drop-in spotify pipeline."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from spotify_tracks_etl_portfolio_spark.sources import catalog
from spotify_tracks_etl_portfolio_spark.spotify import (
    run_spotify_bronze,
    run_spotify_silver,
)
from tests.test_pipeline import CSV_HEADER, CSV_ROWS


def test_create_table_idempotent_and_like(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
        ]
    )
    catalog.create_table_idempotent(spark, "t_src", schema)
    catalog.create_table_idempotent(spark, "t_src", schema)  # no error: IF NOT EXISTS
    catalog.create_table_like(spark, "t_dst", "t_src")
    assert spark.table("t_dst").schema == spark.table("t_src").schema

    df = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    catalog.insert_into(df, "t_src")
    catalog.insert_into(df, "t_dst")
    catalog.insert_into(df, "t_dst", overwrite=True)
    assert catalog.table_row_count(spark, "t_src") == 2
    assert catalog.table_row_count(spark, "t_dst") == 2
    spark.sql("DROP TABLE t_src")
    spark.sql("DROP TABLE t_dst")


@pytest.fixture(scope="module")
def spotify_paths(tmp_path_factory):
    root = tmp_path_factory.mktemp("spotify")
    csv = root / "dataset.csv"
    csv.write_text(CSV_HEADER + "\n" + "\n".join(CSV_ROWS) + "\n")
    return str(csv), str(root / "bronze"), str(root / "silver")


def test_spotify_drop_in_pipeline(spark, spotify_paths):
    csv, bronze, silver = spotify_paths
    report = run_spotify_bronze(
        spark, csv, bronze,
        load_type="full", batch_identifier="batch_20240101_000000",
    )
    assert report.rows_loaded == 5
    # bronze gate is SOFT: artists null + compound dup exist, load happened
    assert not report.dq["success"]

    result = run_spotify_silver(spark, bronze, silver)
    assert result["rows_silver"] == 4
    out = spark.read.parquet(silver)
    assert out.filter("track_id IS NULL").count() == 0
    # every silver expectation holds after impute/clamp/dedup
    assert result["dq"]["success"]
    # partition-by-batch survived to bronze layout (the index analogue)
    assert spark.read.parquet(bronze).select("batch_identifier").distinct().count() == 1


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key join WITHOUT any Exchange —
    the co-location contract write_bucketed exists for."""
    import re

    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.sources.writers import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice"
        )
        write_bucketed(orders, "orders_bkt", ["o_orderkey"], 8)
        write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "lineitem_bkt",
            ["o_orderkey"],
            8,
        )
        joined = spark.table("orders_bkt").join(
            spark.table("lineitem_bkt"), "o_orderkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"Exchange hashpartitioning", plan)
        # and it computes the right thing
        n = joined.count()
        expected = (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .join(
                spark.read.parquet(f"{sf_dir}/orders.parquet"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert n == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS lineitem_bkt")


def _legacy_results(suite, df) -> dict:
    """Expectation results as the former ``Suite.run`` computed them:
    one aggregation for the row-level checks plus a grouped pass per
    compound key, whose observed value was 0/1 (``limit(1).count()``)."""
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    out = {}
    for col, expected in suite.column_types.items():
        exp = (expected,) if isinstance(expected, str) else tuple(expected)
        ok = col in dtypes and dtypes[col] in exp
        out[f"column_type:{col}"] = (ok, dtypes.get(col))
    n = df.count()
    if suite.row_count_min is not None:
        out["row_count_min"] = (n >= suite.row_count_min, n)
    for c in suite.not_null:
        bad = df.filter(F.col(c).isNull()).count()
        out[f"not_null:{c}"] = (bad == 0, bad)
    for c in suite.unique:
        vals = df.filter(F.col(c).isNotNull()).select(c)
        dup = vals.count() - vals.distinct().count()
        out[f"unique:{c}"] = (dup == 0, dup)
    for c, (lo, hi) in suite.between.items():
        bad = df.filter(~F.col(c).between(lo, hi) & F.col(c).isNotNull()).count()
        out[f"between:{c}"] = (bad == 0, bad)
    for c, lo in suite.min_value.items():
        bad = df.filter((F.col(c) < lo) & F.col(c).isNotNull()).count()
        out[f"min_value:{c}"] = (bad == 0, bad)
    for cols in suite.compound_unique:
        dups = df.groupBy(*cols).count().filter("count > 1").limit(1).count()
        out[f"compound_unique:{','.join(cols)}"] = (dups == 0, dups)
    return out


def test_spotify_suites_report_as_before(spark, tmp_path):
    """The bronze and silver suites, now observed on the writes and
    audited in one aggregation, report the same expectation names,
    successes and observed values as the former implementation. The one
    change: ``compound_unique`` observes the number of duplicate rows
    (it was 0/1)."""
    from pyspark.sql import functions as F

    from spotify_tracks_etl_portfolio_spark.operators.dq import spotify_silver_suite
    from spotify_tracks_etl_portfolio_spark.spotify import spotify_bronze_suite

    csv = tmp_path / "dataset.csv"
    csv.write_text(CSV_HEADER + "\n" + "\n".join(CSV_ROWS) + "\n")
    bronze, silver = str(tmp_path / "bronze"), str(tmp_path / "silver")
    run_spotify_bronze(spark, str(csv), bronze, load_type="full",
                       batch_identifier="batch_20240101_000000")
    # a second batch repeats every key: t1 twice more under the new batch id
    second = run_spotify_bronze(spark, str(csv), bronze, load_type="batch",
                                batch_identifier="batch_20240102_000000")
    result = run_spotify_silver(spark, bronze, silver)

    cases = [
        (spotify_bronze_suite(), second.dq, spark.read.parquet(bronze)),
        (spotify_silver_suite(), result["dq"], spark.read.parquet(silver)),
    ]
    for suite, report, table in cases:
        got = {r["name"]: (r["success"], r["observed"]) for r in report["results"]}
        want = _legacy_results(suite, table)
        assert set(got) == set(want)
        for name, (ok, observed) in want.items():
            if name.startswith("compound_unique:"):
                cols = name.split(":", 1)[1].split(",")
                groups = table.groupBy(*cols).count()
                dup_rows = groups.agg(F.sum(F.col("count") - 1)).first()[0]
                assert got[name] == (ok, dup_rows), name
            else:
                assert got[name] == (ok, observed), name
        assert report["row_count"] == table.count()
    assert second.rows_loaded == 10
    bronze_got = {r["name"]: r["observed"] for r in second.dq["results"]}
    assert bronze_got["compound_unique:track_id,batch_identifier"] == 2
    assert not second.dq["success"] and result["dq"]["success"]
