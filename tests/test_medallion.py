"""Golden tests for the medallion operators on a dirty fixture
(FIXTURES.md §3): every operator observable — nulls to impute,
out-of-range values to clamp, duplicate keys with a deterministic winner,
tied modes. Expected values hand-computed with the reference's two-phase
semantics (stats over raw bronze including duplicates)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.operators.medallion import (
    dedup_first,
    enrich_ingest_metadata,
    impute_and_clamp,
    nan_to_null,
    silver_transform,
)
from spotify_tracks_etl_portfolio_spark.operators.stats import (
    column_medians,
    column_modes,
    compute_impute_stats,
)

SCHEMA = "idx int, track_id string, genre string, score double"
# raw bronze: dup track_id 'a' (idx 3 < 5 → idx 3 wins), NULL score rows,
# out-of-range scores, tied genres ('x' ×2, 'y' ×2 → tie breaks to 'x').
ROWS = [
    (3, "a", "y", 0.5),
    (5, "a", "x", 2.0),   # duplicate key; score out of range (clamped to 1.0)
    (1, "b", "x", None),  # imputed
    (2, "c", "y", -1.0),  # clamped to 0.0
    (4, "d", None, 0.25),  # genre imputed with mode
    (6, "e", "z", 0.75),
]


@pytest.fixture(scope="module")
def bronze(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_median_over_raw_bronze_includes_duplicates(bronze):
    # raw scores: [0.5, 2.0, -1.0, 0.25, 0.75] → median 0.5
    assert column_medians(bronze, ["score"])["score"] == pytest.approx(0.5)


def test_mode_tie_breaks_ascending_like_pandas(bronze):
    # x:2, y:2 tie → pandas mode().iloc[0] = 'x'
    assert column_modes(bronze, ["genre"])["genre"] == "x"


def test_mode_typed_tie_break_not_string_order(spark):
    # Mixed dtypes in one call: each dtype group is one unpivoted pass
    # and the tie-break compares in the COLUMN'S OWN type order — a
    # string-cast unpivot would break the int tie as '10' < '9'.
    df = spark.createDataFrame(
        [(9, 1.5, "b"), (9, 1.5, "b"), (10, 0.25, "a"), (10, 0.25, "a")],
        "i int, d double, s string",
    )
    modes = column_modes(df, ["i", "d", "s"])
    assert modes == {"i": 9, "d": 0.25, "s": "a"}
    assert isinstance(modes["i"], int) and isinstance(modes["d"], float)


@pytest.mark.parametrize(
    "median_cols,mode_cols",
    [
        (["i", "d"], ["s", "i", "b", "n", "d"]),  # four mode dtypes
        (["i"], ["n"]),  # no mode value at all: the medians survive
        ([], ["s", "b"]),
        (["d"], []),
        ([], []),
    ],
)
def test_impute_stats_one_action_match_per_family(spark, median_cols, mode_cols):
    """compute_impute_stats runs medians and modes as one plan and
    returns exactly what the per-family functions return."""
    df = spark.createDataFrame(
        [(1, "a", 2.0, True, None), (1, "b", None, True, None),
         (3, "b", 4.0, False, None), (None, None, 5.0, None, None)],
        "i long, s string, d double, b boolean, n string",
    )
    assert compute_impute_stats(df, median_cols, mode_cols) == {
        "medians": column_medians(df, median_cols),
        "modes": column_modes(df, mode_cols),
    }


def test_dedup_keeps_lowest_order_key(bronze):
    out = dedup_first(bronze, "track_id", ["idx"])
    rows = {r["track_id"]: r["idx"] for r in out.collect()}
    assert rows["a"] == 3
    assert out.count() == 5


def test_impute_and_clamp(bronze):
    out = impute_and_clamp(
        bronze,
        medians={"score": 0.5},
        modes={"genre": "x"},
        clamps={"score": (0.0, 1.0)},
    ).collect()
    by_idx = {r["idx"]: r for r in out}
    assert by_idx[1]["score"] == 0.5  # imputed
    assert by_idx[5]["score"] == 1.0  # clamped hi
    assert by_idx[2]["score"] == 0.0  # clamped lo
    assert by_idx[4]["genre"] == "x"  # mode-imputed


def test_silver_transform_two_phase_semantics(bronze):
    silver = silver_transform(
        bronze,
        dedup_key="track_id",
        dedup_order=["idx"],
        median_cols=["score"],
        mode_cols=["genre"],
        clamps={"score": (0.0, 1.0)},
    )
    rows = {r["track_id"]: r for r in silver.collect()}
    assert len(rows) == 5
    # median computed over RAW bronze (0.5), not post-dedup (0.5 either way
    # here but idx-3 row for 'a' survives with its own score)
    assert rows["a"]["idx"] == 3 and rows["a"]["score"] == 0.5
    assert rows["b"]["score"] == 0.5  # imputed with raw-bronze median


def test_enrich_ingest_metadata(spark):
    df = spark.createDataFrame([(1,)], "x int")
    out = enrich_ingest_metadata(df, batch_identifier="batch_20240101_000000")
    row = out.first()
    assert row["source_identifier"] == "CSV"
    assert row["batch_identifier"] == "batch_20240101_000000"
    assert row["ingestion_timestamp"] is not None
    assert set(out.columns) == {
        "x",
        "ingestion_timestamp",
        "source_identifier",
        "batch_identifier",
        "created_at",
        "updated_at",
    }


def test_nan_to_null(spark):
    df = spark.createDataFrame([(float("nan"),), (1.0,), (None,)], "v double")
    vals = [r["v"] for r in nan_to_null(df).collect()]
    assert vals.count(None) == 2 and 1.0 in vals


def test_merge_with_audit_timestamps(spark):
    """updated_at write-time semantics on the upsert/replay path — the
    immutable-table re-expression of the reference's ON UPDATE
    CURRENT_TIMESTAMP trigger (de_spotify_create_table.sql:29-30,
    SURVEY.md §1.2 deviation): updates refresh updated_at but preserve
    the original created_at; inserts set both; untouched rows keep both."""
    from spotify_tracks_etl_portfolio_spark.operators.medallion import (
        merge_with_audit_timestamps,
    )

    t0 = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    t1 = F.to_timestamp(F.lit("2024-02-01 00:00:00"))
    t2 = F.to_timestamp(F.lit("2024-03-01 00:00:00"))
    existing = (
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
        .withColumn("created_at", t0)
        .withColumn("updated_at", t0)
    )
    incoming = spark.createDataFrame([(2, "b2"), (3, "c")], "id long, val string")

    merged = merge_with_audit_timestamps(existing, incoming, "id", t1)
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["val"] == "a"  # untouched row intact
    assert str(rows[1]["updated_at"]) == "2024-01-01 00:00:00"
    assert rows[2]["val"] == "b2"  # updated: new value
    assert str(rows[2]["created_at"]) == "2024-01-01 00:00:00"  # preserved
    assert str(rows[2]["updated_at"]) == "2024-02-01 00:00:00"  # refreshed
    assert str(rows[3]["created_at"]) == "2024-02-01 00:00:00"  # insert
    assert str(rows[3]["updated_at"]) == "2024-02-01 00:00:00"

    # replay the same incoming batch at t2: created_at stays stable,
    # updated_at advances — exactly what the MySQL trigger would do
    replayed = merge_with_audit_timestamps(merged, incoming, "id", t2)
    rows = {r["id"]: r for r in replayed.collect()}
    assert str(rows[2]["created_at"]) == "2024-01-01 00:00:00"
    assert str(rows[2]["updated_at"]) == "2024-03-01 00:00:00"
    assert str(rows[3]["created_at"]) == "2024-02-01 00:00:00"
    assert str(rows[3]["updated_at"]) == "2024-03-01 00:00:00"
    assert replayed.count() == 3


def test_propagate_deletes_rejects_empty_lineage(spark):
    import pytest

    from spotify_tracks_etl_portfolio_spark.operators.medallion import (
        propagate_deletes,
    )

    reqs = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="at least one table"):
        propagate_deletes({}, reqs, "k")


def test_propagate_deletes_multi_table_with_tombstones(spark):
    """Right-to-be-forgotten: keys vanish from EVERY table in the
    lineage; the tombstone audit records per-table deleted row counts
    but never the payload."""
    from spotify_tracks_etl_portfolio_spark.operators.medallion import (
        propagate_deletes,
    )

    bronze = spark.createDataFrame(
        [(1, "a"), (1, "a2"), (2, "b"), (3, "c")], "k long, payload string"
    )
    silver = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C")], "k long, payload string"
    )
    reqs = spark.createDataFrame([(1,), (3,), (99,)], "k long")
    cleaned, tombs = propagate_deletes(
        {"bronze": bronze, "silver": silver}, reqs, "k", F.lit("2026-01-01")
    )
    assert {r["k"] for r in cleaned["bronze"].collect()} == {2}
    assert {r["k"] for r in cleaned["silver"].collect()} == {2}
    t = {(r["table_name"], r["k"]): r["n_rows_deleted"] for r in tombs.collect()}
    assert t == {("bronze", 1): 2, ("bronze", 3): 1,
                 ("silver", 1): 1, ("silver", 3): 1}  # 99: never existed
    assert "payload" not in tombs.columns
