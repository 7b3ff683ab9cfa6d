"""Data-quality module — the Great Expectations surface as first-class
engine operators (SURVEY.md §2.4 A11-A15, §5).

The reference runs two GX suites per pipeline execution: bronze
(``reference: dags/de_spotify_to_bronze.py:230-361``, soft gate — failures
only warn, :357-361) and silver (``reference: dags/de_spotify_silver.py:82-218``,
hard gate — raises on failure, :213-216). GX compiles each expectation to
its own SQL query; here the whole suite is **one batched aggregation
pass** over the table — at 100 TB the difference between one scan and
N scans is the whole game. The row-level half of a suite can also ride
the write job itself as observed metrics (``Suite.row_checks``), so a
write-audit-publish load scans its output only for the key checks.

Implemented with corrected semantics where the reference is buggy
(SURVEY.md §5): value ranges use value comparisons, not the misapplied
string-length expectation (``reference: dags/de_spotify_to_bronze.py:315-343``).
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class ExpectationResult:
    name: str
    success: bool
    observed: object = None
    detail: str = ""


@dataclass
class ValidationReport:
    """GX ValidationResult analogue: structured, serializable, gate-able."""

    suite: str
    results: list[ExpectationResult] = field(default_factory=list)
    row_count: int | None = None

    @property
    def success(self) -> bool:
        return all(r.success for r in self.results)

    def failures(self) -> list[ExpectationResult]:
        return [r for r in self.results if not r.success]

    def raise_on_failure(self) -> None:
        """Hard gate (silver semantics,
        reference: dags/de_spotify_silver.py:213-216)."""
        if not self.success:
            names = ", ".join(r.name for r in self.failures())
            raise DataQualityError(f"suite '{self.suite}' failed: {names}")

    def to_dict(self) -> dict:
        return {
            "suite": self.suite,
            "success": self.success,
            "row_count": self.row_count,
            "results": [
                {
                    "name": r.name,
                    "success": r.success,
                    "observed": r.observed,
                    "detail": r.detail,
                }
                for r in self.results
            ],
        }

    def to_markdown(self) -> str:
        """One-page human-readable validation report — the engine's
        analogue of GX's rendered evidence artifact (reference:
        ``images/ss_silver_validation_gx.png``, produced by
        dags/de_spotify_silver.py:82-218). Failures are listed first so
        the page leads with what needs attention."""
        n_pass = sum(1 for r in self.results if r.success)
        status = "PASSED" if self.success else "FAILED"
        lines = [
            f"# Validation report — `{self.suite}`",
            "",
            f"**{status}** — {n_pass}/{len(self.results)} expectations met",
            "",
            "| expectation | status | observed | detail |",
            "|---|---|---|---|",
        ]
        ordered = self.failures() + [r for r in self.results if r.success]
        for r in ordered:
            mark = "✅ pass" if r.success else "❌ FAIL"
            lines.append(
                f"| `{r.name}` | {mark} | {r.observed} | {r.detail} |"
            )
        return "\n".join(lines) + "\n"


class DataQualityError(RuntimeError):
    pass


@dataclass
class Suite:
    """Declarative expectation suite, compiled to aggregate columns.

    The data checks form two lists whose values ``report`` turns into
    one ``ValidationReport``:

    - ``row_checks``: row count, ``not_null``, ``between`` and
      ``min_value``. Plain aggregates, so ``DataFrame.observe`` can
      attach them to a write job and they cost no scan of their own.
    - ``key_checks``: ``unique`` and ``compound_unique``. Distinct
      aggregates, which ``observe`` rejects; they need an aggregation
      over the written data.

    ``run`` evaluates both lists in ONE aggregation over ``df``.
    Metadata-only expectations (column types) are evaluated against the
    schema without touching data (SURVEY.md §2.4 A14).
    """

    name: str
    not_null: list[str] = field(default_factory=list)
    unique: list[str] = field(default_factory=list)
    compound_unique: list[list[str]] = field(default_factory=list)
    between: dict[str, tuple[float, float]] = field(default_factory=dict)
    min_value: dict[str, float] = field(default_factory=dict)
    column_types: dict[str, str | tuple[str, ...]] = field(default_factory=dict)
    row_count_min: int | None = None
    row_count_equals: int | None = None

    def row_checks(self) -> list[Column]:
        """Row count and the per-row checks as plain aggregates."""
        aggs: list[Column] = [F.count(F.lit(1)).alias("__row_count")]
        for c in self.not_null:
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"))
        for c, (lo, hi) in self.between.items():
            bad = ~F.col(c).between(lo, hi) & F.col(c).isNotNull()
            aggs.append(F.sum(bad.cast("long")).alias(f"__rng_{c}"))
        for c, lo in self.min_value.items():
            bad = (F.col(c) < lo) & F.col(c).isNotNull()
            aggs.append(F.sum(bad.cast("long")).alias(f"__min_{c}"))
        return aggs

    def key_checks(self) -> list[Column]:
        """Duplicate-row counts per key as distinct aggregates (A11, A12).

        ``unique`` counts non-null values minus distinct values, so
        nulls never count as duplicates. ``compound_unique`` counts rows
        minus distinct key structs: a struct is never null and compares
        null members as equal, so rows whose keys agree, nulls included,
        are duplicates, exactly as in a ``groupBy`` over the key."""
        aggs: list[Column] = []
        for c in self.unique:
            aggs.append(
                (F.count(F.col(c)) - F.count_distinct(F.col(c))).alias(f"__du_{c}")
            )
        for cols in self.compound_unique:
            dup = F.count(F.lit(1)) - F.count_distinct(F.struct(*cols))
            aggs.append(dup.alias(f"__cu_{','.join(cols)}"))
        return aggs

    def run(self, df: DataFrame) -> ValidationReport:
        """All checks over ``df`` in one aggregation (one action)."""
        row = df.agg(*self.row_checks(), *self.key_checks()).first()
        return self.report(row.asDict(), dict(df.dtypes))

    def report(
        self, metrics: Mapping[str, object], dtypes: dict[str, str]
    ) -> ValidationReport:
        """Build the report from the values of ``row_checks`` and
        ``key_checks`` (by alias), wherever they were computed, and the
        table's column types."""
        n = metrics["__row_count"]
        report = ValidationReport(self.name, row_count=n)
        for col, expected in self.column_types.items():
            exp = (expected,) if isinstance(expected, str) else tuple(expected)
            ok = col in dtypes and dtypes[col] in exp
            report.results.append(
                ExpectationResult(
                    f"column_type:{col}",
                    ok,
                    dtypes.get(col),
                    f"expected one of {exp}",
                )
            )
        if self.row_count_min is not None:
            report.results.append(
                ExpectationResult(
                    "row_count_min", n >= self.row_count_min, n,
                    f"expected >= {self.row_count_min}",
                )
            )
        if self.row_count_equals is not None:
            report.results.append(
                ExpectationResult(
                    "row_count_equals", n == self.row_count_equals, n,
                    f"expected == {self.row_count_equals}",
                )
            )
        for c in self.not_null:
            bad = metrics[f"__nn_{c}"] or 0
            report.results.append(
                ExpectationResult(f"not_null:{c}", bad == 0, bad, "null rows")
            )
        for c in self.unique:
            dup = metrics[f"__du_{c}"] or 0
            report.results.append(
                ExpectationResult(f"unique:{c}", dup == 0, dup, "duplicate rows")
            )
        for c in self.between:
            bad = metrics[f"__rng_{c}"] or 0
            report.results.append(
                ExpectationResult(
                    f"between:{c}", bad == 0, bad,
                    f"rows outside {self.between[c]}",
                )
            )
        for c in self.min_value:
            bad = metrics[f"__min_{c}"] or 0
            report.results.append(
                ExpectationResult(
                    f"min_value:{c}", bad == 0, bad,
                    f"rows below {self.min_value[c]}",
                )
            )
        for cols in self.compound_unique:
            key = ",".join(cols)
            dup = metrics[f"__cu_{key}"] or 0
            report.results.append(
                ExpectationResult(
                    f"compound_unique:{key}", dup == 0, dup, "duplicate rows"
                )
            )
        return report


def spotify_silver_suite() -> Suite:
    """The reference's silver GX suite
    (reference: dags/de_spotify_silver.py:116-203), corrected semantics."""
    return Suite(
        name="suite_sql_spotify_tracks_silver",
        unique=["track_id"],
        not_null=[
            "track_id", "artists", "album_name", "track_name", "popularity",
            "duration_ms", "explicit", "danceability", "energy", "key",
            "loudness", "mode", "speechiness", "acousticness",
            "instrumentalness", "liveness", "valence", "tempo",
            "time_signature", "track_genre",
        ],
        between={
            "popularity": (0, 100),
            "danceability": (0.0, 1.0),
            "energy": (0.0, 1.0),
            "acousticness": (0.0, 1.0),
            "instrumentalness": (0.0, 1.0),
            "liveness": (0.0, 1.0),
            "valence": (0.0, 1.0),
            "loudness": (-60.0, 0.0),
        },
        min_value={"tempo": 0.0},
        column_types={
            "popularity": ("int", "bigint"),
            "duration_ms": ("int", "bigint"),
            "danceability": "double",
            "energy": "double",
            "loudness": "double",
            "speechiness": "double",
            "acousticness": "double",
            "instrumentalness": "double",
            "liveness": "double",
            "valence": "double",
            "tempo": "double",
        },
        row_count_min=1,
    )


def events_silver_suite() -> Suite:
    """The same expectation families mapped onto the events analogue."""
    return Suite(
        name="suite_events_silver",
        unique=["event_id"],
        compound_unique=[["event_id", "ts"]],
        not_null=["event_id", "ts", "user_id", "event_type", "value"],
        between={"value": (0.0, 450.0)},
        column_types={"event_id": "bigint", "value": "double"},
        row_count_min=1,
    )
