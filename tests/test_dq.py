"""DQ suite semantics: one-pass expectation evaluation, soft/hard gates,
corrected value-range checks (SURVEY.md §5)."""

from __future__ import annotations

import pytest

from spotify_tracks_etl_portfolio_spark.operators.dq import (
    DataQualityError,
    Suite,
)

SCHEMA = "id long, name string, score double"
ROWS = [
    (1, "a", 0.5),
    (2, "b", 1.5),   # out of [0,1]
    (2, None, 0.7),  # dup id + null name
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_suite_detects_all_violations(df):
    suite = Suite(
        name="t",
        not_null=["name"],
        unique=["id"],
        between={"score": (0.0, 1.0)},
        column_types={"score": "double", "id": "bigint"},
        row_count_min=1,
    )
    report = suite.run(df)
    by_name = {r.name: r for r in report.results}
    assert not report.success
    assert not by_name["not_null:name"].success
    assert by_name["not_null:name"].observed == 1
    assert not by_name["unique:id"].success
    assert not by_name["between:score"].success
    assert by_name["between:score"].observed == 1
    assert by_name["column_type:score"].success
    assert by_name["row_count_min"].success


def test_hard_gate_raises(df):
    suite = Suite(name="t", unique=["id"])
    with pytest.raises(DataQualityError, match="unique:id"):
        suite.run(df).raise_on_failure()


def test_clean_data_passes(spark):
    clean = spark.createDataFrame([(1, "a", 0.5), (2, "b", 0.9)], SCHEMA)
    suite = Suite(
        name="t",
        not_null=["id", "name", "score"],
        unique=["id"],
        compound_unique=[["id", "name"]],
        between={"score": (0.0, 1.0)},
        min_value={"score": 0.0},
        row_count_equals=2,
    )
    report = suite.run(clean)
    assert report.success, [r.name for r in report.failures()]
    report.raise_on_failure()  # no-op


def test_nulls_dont_trip_range_checks(spark):
    df = spark.createDataFrame([(1, "a", None)], SCHEMA)
    report = Suite(name="t", between={"score": (0.0, 1.0)}).run(df)
    assert report.success


def test_validation_report_renders_markdown(spark):
    """Human-readable one-page artifact from ValidationReport — the
    engine's twin of the reference's rendered GX evidence
    (images/ss_silver_validation_gx.png). Failures lead the table."""
    suite = Suite(
        name="render_demo",
        not_null=["a"],
        between={"b": (0.0, 1.0)},
        row_count_min=1,
    )
    df = spark.createDataFrame(
        [(None, 0.5), ("x", 5.0)], "a string, b double"
    )
    report = suite.run(df)
    md = report.to_markdown()
    assert "# Validation report — `render_demo`" in md
    assert "**FAILED**" in md and "1/3 expectations met" in md
    # every expectation appears exactly once
    for name in ("not_null:a", "between:b", "row_count_min"):
        assert md.count(f"`{name}`") == 1
    # failures come before the passing row
    assert md.index("not_null:a") < md.index("row_count_min")
    assert md.index("between:b") < md.index("row_count_min")
    assert "❌ FAIL" in md and "✅ pass" in md

    ok = Suite(name="all_green", row_count_min=1).run(df)
    assert "**PASSED**" in ok.to_markdown()


@pytest.mark.parametrize(
    "rows",
    [
        # no nulls: (1, x) twice
        [(1, "x"), (1, "x"), (1, "y"), (2, "x")],
        # all-null keys: three (None, None) rows are one key
        [(None, None), (None, None), (None, None), (1, "x")],
        # partly-null keys: (None, "x") twice, (1, None) twice
        [(None, "x"), (None, "x"), (1, None), (1, None), (1, "x")],
        # nulls that differ per member are different keys: no duplicates
        [(None, "x"), (1, None), (None, None), (1, "x")],
    ],
)
def test_compound_unique_null_members_match_group_by(spark, rows):
    """count(*) - count(DISTINCT struct(key)) counts the rows beyond the
    first of each key group exactly as a groupBy over the key does,
    null members included (a struct compares nulls as equal)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "a long, b string")
    groups = df.groupBy("a", "b").count().collect()
    expected = sum(g["count"] - 1 for g in groups)
    report = Suite(name="t", compound_unique=[["a", "b"]]).run(df)
    (res,) = report.results
    assert res.name == "compound_unique:a,b"
    assert res.observed == expected
    assert res.success == (expected == 0)
    assert report.row_count == len(rows)
    # the old grouped pass's verdict
    dup_groups = df.groupBy("a", "b").count().filter(F.col("count") > 1).count()
    assert res.success == (dup_groups == 0)


def test_run_is_one_action(spark, df):
    """The whole suite, key checks included, runs as one SQL execution
    (the grouped pass per compound key used to be a second one)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def last_execution_id():
        executions = store.executionsList()
        return executions.last().executionId() if executions.nonEmpty() else -1

    suite = Suite(
        name="t",
        not_null=["name"],
        unique=["id"],
        compound_unique=[["id", "name"]],
        between={"score": (0.0, 1.0)},
        row_count_min=1,
    )
    before = last_execution_id()
    report = suite.run(df)
    assert last_execution_id() - before == 1
    assert report.row_count == 3
    by_name = {r.name: r.observed for r in report.results}
    assert by_name["compound_unique:id,name"] == 0
    assert by_name["unique:id"] == 1
