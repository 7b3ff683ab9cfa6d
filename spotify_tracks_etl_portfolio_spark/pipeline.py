"""Medallion pipeline orchestration (SURVEY.md §2.11, §3.1-3.2).

The reference's two Airflow DAGs become two plain functions composed of
engine operators; the XCom hand-offs degenerate to Python return values
carrying ONLY metrics/stats — never rows (the reference serializes the
entire dataset through XCom, ``reference: dags/de_spotify_to_bronze.py:103-107``,
its main scalability cliff).

``run_bronze_ingest``  ≈ DAG ``csv_to_mysql_etl``
(reference: dags/de_spotify_to_bronze.py:37-411):
config → extract CSV → enrich metadata → load (full|batch) with the
pre-load validation (soft) observed on the write job → post-load DQ
suite over the whole table in one aggregation (soft) → load report.

``run_silver_transform`` ≈ DAG ``de_spotify_silver``
(reference: dags/de_spotify_silver.py:24-221):
stats over raw bronze (one action) → impute/clamp/dedup transform →
write-audit-publish behind the DQ suite (HARD):

- write: silver goes to ``.<name>.staging`` in the parent directory of
  ``silver_path``; the bronze row count and the suite's row checks (row
  count, not-null, between, min-value) are observed on that write job;
- audit: the key checks (unique, compound unique) run as one
  aggregation over the staged files, read with the known schema;
- publish: on pass, Hadoop ``FileSystem`` renames swap the directories
  (``silver_path`` → ``.<name>.previous``, staging → ``silver_path``,
  then the previous copy is deleted). Between the two renames
  ``silver_path`` is briefly absent; when there is no silver yet, one
  rename publishes it. On failure the staging directory is deleted,
  the previous silver is left untouched and ``DataQualityError`` is
  raised. Silver stays a plain parquet directory.

Data-quality metrics thus come from the write jobs themselves; only the
distinct-count key checks scan written data. The streaming side
(``streaming/pipeline.py``) bounds each events micro-batch by bytes
(``STATE_SOURCE_BYTES_PER_PARTITION``), not by one file per trigger.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.operators.dq import Suite, ValidationReport
from spotify_tracks_etl_portfolio_spark.operators.medallion import (
    enrich_ingest_metadata,
    nan_to_null,
    silver_transform,
)
from spotify_tracks_etl_portfolio_spark.sources.readers import read_csv
from spotify_tracks_etl_portfolio_spark.sources.writers import (
    LoadMode,
    resolve_load_mode,
    staged_directory,
    write_with_metrics,
)


@dataclass
class PipelineConfig:
    """The Airflow-Variable config surface
    (reference: dags/de_spotify_to_bronze.py:47-76)."""

    csv_path: str
    bronze_path: str
    silver_path: str
    load_type: str = "batch"
    run_type: str = "manual"
    source_identifier: str = "CSV"
    batch_identifier: str | None = None

    def resolved_batch_id(self) -> str:
        if self.batch_identifier:
            return self.batch_identifier
        now = datetime.now(timezone.utc)
        return f"batch_{now.strftime('%Y%m%d_%H%M%S')}"


@dataclass
class LoadReport:
    """The generate_load_report task's metrics dict
    (reference: dags/de_spotify_to_bronze.py:363-392)."""

    batch_identifier: str
    load_mode: str
    rows_extracted: int
    rows_loaded: int
    validation: dict[str, Any] = field(default_factory=dict)
    dq: dict[str, Any] = field(default_factory=dict)


def run_bronze_ingest(
    spark: SparkSession,
    config: PipelineConfig,
    csv_schema,
    key_cols: list[str],
    dq_suite: Suite | None = None,
    partition_by: list[str] | None = None,
) -> LoadReport:
    """CSV → validated, metadata-enriched bronze parquet.

    The pre-load checks (row count and key-column nulls; soft gate,
    reference: dags/de_spotify_to_bronze.py:113-159 — failures only
    warn, the abort is commented out at :177-180) are observed on the
    bronze write itself. The post-load suite then checks the whole
    table in one aggregation, which also gives ``rows_loaded``."""
    mode = resolve_load_mode(config.load_type, config.run_type)
    batch_id = config.resolved_batch_id()

    raw = read_csv(spark, config.csv_path, schema=csv_schema)
    enriched = enrich_ingest_metadata(
        raw,
        source_identifier=config.source_identifier,
        batch_identifier=batch_id,
    )
    cleaned = nan_to_null(enriched)
    observed = write_with_metrics(
        cleaned,
        config.bronze_path,
        mode=mode,
        count_nulls=key_cols,
        partition_by=partition_by or ["batch_identifier"],
    )
    validation: dict[str, Any] = {
        "row_count": observed["n_rows"],
        "dtypes": dict(enriched.dtypes),
    }
    for c in key_cols:
        validation[f"nulls_{c}"] = observed[f"nulls_{c}"]
    validation["success"] = all(validation[f"nulls_{c}"] == 0 for c in key_cols)

    loaded = spark.read.schema(cleaned.schema).parquet(config.bronze_path)
    dq_report: ValidationReport | None = None
    if dq_suite is not None:
        dq_report = dq_suite.run(loaded)  # soft gate on bronze (:357-361)

    return LoadReport(
        batch_identifier=batch_id,
        load_mode=mode.value,
        rows_extracted=validation["row_count"],
        rows_loaded=dq_report.row_count if dq_report else loaded.count(),
        validation=validation,
        dq=dq_report.to_dict() if dq_report else {},
    )


def run_silver_transform(
    spark: SparkSession,
    config: PipelineConfig,
    dedup_key: str | list[str],
    dedup_order: list[str],
    median_cols: list[str],
    mode_cols: list[str],
    clamps: dict[str, tuple[float, float]],
    dq_suite: Suite | None = None,
) -> dict[str, Any]:
    """Bronze → silver with the reference's two-phase stats semantics and
    a HARD DQ gate (reference: dags/de_spotify_silver.py:213-216), as a
    write-audit-publish: silver is written to a staging directory with
    the bronze row count and the suite's row checks observed on that
    write job, the key checks run over the staged files, and only a
    passing table replaces ``silver_path``. A failing gate raises
    ``DataQualityError`` and leaves the previous silver as it was."""
    bronze = spark.read.parquet(config.bronze_path)
    bronze_rows = Observation()
    silver = silver_transform(
        bronze, dedup_key, dedup_order, median_cols, mode_cols, clamps,
        input_metrics=(bronze_rows, [F.count(F.lit(1)).alias("rows")]),
    )
    with staged_directory(spark, config.silver_path) as staging:
        observed = write_with_metrics(
            silver,
            staging,
            mode=LoadMode.FULL,
            metrics=dq_suite.row_checks() if dq_suite is not None else None,
        )
        result: dict[str, Any] = {
            "rows_bronze": bronze_rows.get["rows"],
            "rows_silver": observed["n_rows"],
        }
        if dq_suite is not None:
            staged = spark.read.schema(silver.schema).parquet(staging)
            keys = dq_suite.key_checks()
            if keys:
                observed.update(staged.agg(*keys).first().asDict())
            report = dq_suite.report(observed, dict(staged.dtypes))
            result["dq"] = report.to_dict()
            report.raise_on_failure()  # hard gate: nothing is published
    return result
