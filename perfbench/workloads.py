"""The three benchmark workloads.

Each workload runs as one closed-loop client: the next operation starts
when the previous one has returned its complete result. A workload

- generates its inputs from the seed, outside any timing (``generate``);
- lists one pass as ``(name, callable)`` pairs (``ops``); each callable
  returns the operation's output;
- checks every recorded output after the timed region and returns the
  wrong ones as ``name@pass`` (``check``).

Operation order is fixed per run by the seed, so every pass of a run
does the same work.
"""

from __future__ import annotations

import importlib.util
import os
import random
from dataclasses import dataclass
from pathlib import Path

import duckdb

import gen

#: Scale of the generated star schema for the two read workloads. Small
#: on purpose: it keeps one pass a few seconds at local[4], so a run fits
#: the benchmark's time budget and still repeats several queries.
READ_SF = 0.005

#: medallion_etl input sizes (rows).
ETL_BASE_ROWS = 10_000
ETL_APPEND_ROWS = 2_500
ETL_EVENT_FILES = 2
ETL_EVENTS_PER_FILE = 1_000
ETL_UPSERT_ROWS = 500

DASHBOARD_QUERIES = [
    "medallion_silver_events", "q1_pricing_summary", "top10_customers_by_revenue",
    "regional_revenue", "user_session_windows", "hourly_event_rollup",
    "asof_click_purchase", "q6_forecast_revenue", "top3_customers_per_nation",
    "event_value_deciles", "sessionize_events_batch",
    "trailing7d_type_quantiles_sketch",
]
#: The curation headline queries kept: one or two per family (dedup,
#: similarity, text, multimodal, streaming). The other ``bench.py``
#: headline queries are listed in README.md with the reason they are out.
CURATION_QUERIES = [
    "minhash_lsh_near_dups", "passage_dedup_documents", "embedding_ivfpq_topk",
    "curate_training_documents",
    "multimodal_jpeg_roundtrip", "streaming_sessionize_sync",
]


def load_check_oracle(root: Path):
    """``tools/check_oracle.py`` as a module: the benchmark compares with
    its value normalisation rather than a copy of it."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", root / "tools" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def same_result(check_oracle, cols_a, rows_a, cols_b, rows_b) -> bool:
    """The replica gate's comparison: same column names, same row count,
    same order-insensitive, type-strict value multiset."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    ia = [list(cols_a).index(c) for c in sorted(cols_a)]
    ib = [list(cols_b).index(c) for c in sorted(cols_b)]
    return check_oracle._multiset([[r[i] for i in ia] for r in rows_a]) == \
        check_oracle._multiset([[r[i] for i in ib] for r in rows_b])


@dataclass
class Record:
    """One attempted operation."""

    name: str
    pass_id: int
    seconds: float
    output: object = None
    error: str | None = None


@dataclass
class Workload:
    name: str
    root: Path
    work: Path
    seed: int
    spark: object = None
    input_rows: int = 0
    #: generated input bytes (medallion_etl: for stored_bytes_per_input_byte)
    input_bytes: int = 0
    #: on-disk bytes of one cowtable update batch (0: no merges)
    update_bytes: int = 0
    tracer: object = None

    def generate(self) -> None:
        raise NotImplementedError

    def ops(self, pass_id: int) -> list:
        raise NotImplementedError

    def check(self, records: list[Record]) -> list[str]:
        raise NotImplementedError

    def pass_extras(self, pass_id: int) -> dict:
        return {}


class RegistryReads(Workload):
    """Registry queries over a generated star schema, in a seeded order.
    An operation builds the query's DataFrame and collects its rows."""

    queries: list[str] = []

    def generate(self) -> None:
        self.sf_dir = str(self.work / "in" / "sf")
        self.table_rows = gen.make_sf_tables(self.sf_dir, self.seed, READ_SF)
        self.order = list(self.queries)
        random.Random(self.seed).shuffle(self.order)

    def _registry(self):
        from spotify_tracks_etl_portfolio_spark.plans import all_queries

        return all_queries()

    def ops(self, pass_id: int) -> list:
        specs = self._registry()
        return [(q, self._op(specs, q, pass_id)) for q in self.order]

    def _op(self, specs, name, pass_id):
        def run():
            spec = specs[name]  # a missing name fails the operation
            if pass_id == 0:  # warm-up: note which generated tables it scans
                df = spec.fn(self.spark, self.sf_dir)
                tables = {os.path.basename(f).split(".parquet")[0] for f in df.inputFiles()}
                self.input_rows += sum(self.table_rows.get(t, 0) for t in tables)
                rows = [tuple(r) for r in df.collect()]
            elif self.tracer is not None:
                with self.tracer.span(f"plans.{name}", "construct"):
                    df = spec.fn(self.spark, self.sf_dir)
                with self.tracer.span(f"exec.{name}", "execute"):
                    rows = [tuple(r) for r in df.collect()]
            else:
                df = spec.fn(self.spark, self.sf_dir)
                rows = [tuple(r) for r in df.collect()]
            return (list(df.columns), rows)

        return run

    def check(self, records: list[Record]) -> list[str]:
        co = load_check_oracle(self.root)
        specs = self._registry()
        con = duckdb.connect()
        for t in self.table_rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        wrong = []
        oracle: dict[str, tuple] = {}
        first: dict[str, tuple] = {}
        for rec in records:
            if rec.error is not None:
                continue
            cols, rows = rec.output
            spec = specs.get(rec.name)
            if spec is not None and spec.oracle is not None:
                if rec.name not in oracle:
                    tbl = con.execute(spec.oracle).fetch_arrow_table()
                    oc = list(tbl.column_names)
                    oracle[rec.name] = (oc, [tuple(d[c] for c in oc) for d in tbl.to_pylist()])
                ok = same_result(co, cols, rows, *oracle[rec.name])
            else:  # no oracle: every pass must return the first pass's rows
                ok = same_result(co, cols, rows, *first.setdefault(rec.name, (cols, rows)))
            if not ok:
                wrong.append(f"{rec.name}@{rec.pass_id}")
        con.close()
        return wrong


class DashboardReads(RegistryReads):
    queries = DASHBOARD_QUERIES


class CurationBatch(RegistryReads):
    queries = CURATION_QUERIES


class MedallionEtl(Workload):
    """The paper's own job: CSV batches → bronze → silver behind the hard
    gate, two streaming drains over events micro-batches, and a cowtable
    upsert. Every pass writes into fresh directories."""

    def generate(self) -> None:
        self.inp = gen.make_etl_inputs(
            str(self.work / "in" / "etl"), self.seed, ETL_BASE_ROWS, ETL_APPEND_ROWS,
            ETL_EVENT_FILES, ETL_EVENTS_PER_FILE, ETL_UPSERT_ROWS)
        self.input_rows = self.inp.rows_csv + self.inp.rows_events + self.inp.rows_upserts
        self.input_bytes = self.inp.input_bytes
        self.update_bytes = os.path.getsize(self.inp.upserts)

    def _out(self, pass_id: int) -> Path:
        return self.work / "out" / f"p{pass_id}"

    def ops(self, pass_id: int) -> list:
        from spotify_tracks_etl_portfolio_spark import pipeline, spotify
        from spotify_tracks_etl_portfolio_spark.operators import dq
        from spotify_tracks_etl_portfolio_spark.schemas import (
            SPOTIFY_CLAMPS, SPOTIFY_CSV_SCHEMA, SPOTIFY_MEDIAN_COLS, SPOTIFY_MODE_COLS)
        from spotify_tracks_etl_portfolio_spark.sources import cowtable, readers
        from spotify_tracks_etl_portfolio_spark.streaming import pipeline as streaming
        from spotify_tracks_etl_portfolio_spark.streaming import stateful

        spark, inp, d = self.spark, self.inp, self._out(pass_id)

        def config(csv_path, load_type, batch):
            return pipeline.PipelineConfig(
                csv_path=csv_path, bronze_path=str(d / "bronze"),
                silver_path=str(d / "silver"), load_type=load_type,
                batch_identifier=batch)

        def bronze(csv_path, load_type, batch):
            return lambda: pipeline.run_bronze_ingest(
                spark, config(csv_path, load_type, batch), csv_schema=SPOTIFY_CSV_SCHEMA,
                key_cols=["track_id", "track_name", "artists"],
                dq_suite=spotify.spotify_bronze_suite(), partition_by=["batch_identifier"])

        def silver():
            return pipeline.run_silver_transform(
                spark, config("", "batch", None), dedup_key="track_id",
                dedup_order=["index"], median_cols=SPOTIFY_MEDIAN_COLS,
                mode_cols=SPOTIFY_MODE_COLS, clamps=SPOTIFY_CLAMPS,
                dq_suite=dq.spotify_silver_suite())

        def stream_silver():
            streaming.run_stream_to_completion(streaming.streaming_silver_events(
                streaming.read_events_stream(spark, inp.events_dir),
                str(d / "stream_silver"), str(d / "ckpt_silver")))

        def stream_sessionize():
            sink = f"sessions_p{pass_id}"
            streaming.run_stream_to_completion(
                stateful.streaming_sessionize(streaming.read_events_stream(spark, inp.events_dir))
                .writeStream.outputMode("append").format("memory").queryName(sink)
                .option("checkpointLocation", str(d / "ckpt_sessions"))
                .trigger(availableNow=True))
            return sink

        def cow_create():
            silver_df = readers.read_parquet_memo(spark, str(d / "silver"))
            return cowtable.create_table(
                spark, str(d / "cow"),
                silver_df.select("track_id", "popularity", "tempo", "track_genre"),
                cluster_by="track_id")

        def cow_merge():
            return cowtable.merge_into(
                spark, str(d / "cow"), readers.read_parquet_memo(spark, inp.upserts), "track_id")

        def cow_read():
            return cowtable.read_table(spark, str(d / "cow")).count()

        return [
            ("bronze_full", bronze(inp.csv_base, "full", "batch_20240101_000000")),
            ("bronze_append", bronze(inp.csv_append, "batch", "batch_20240102_000000")),
            ("silver", silver),
            ("stream_silver", stream_silver),
            ("stream_sessionize", stream_sessionize),
            ("cow_create", cow_create),
            ("cow_merge", cow_merge),
            ("cow_read", cow_read),
        ]

    def pass_extras(self, pass_id: int) -> dict:
        """Bytes on disk of the tables one pass published."""
        d = self._out(pass_id)
        stored = 0
        for sub in ("bronze", "silver", "stream_silver", "cow"):
            for dp, _, fs in os.walk(d / sub):
                stored += sum(os.path.getsize(os.path.join(dp, f)) for f in fs)
        return {"stored_bytes": stored}

    def expected(self) -> dict:
        """Ground truth computed by DuckDB directly on the generated files."""
        inp = self.inp
        con = duckdb.connect()
        csv = f"read_csv(['{inp.csv_base}', '{inp.csv_append}'], header=true, all_varchar=true)"
        base = con.execute(f"SELECT count(*) FROM read_csv('{inp.csv_base}', header=true, all_varchar=true)").fetchone()[0]
        total = con.execute(f"SELECT count(*) FROM {csv}").fetchone()[0]
        tracks = con.execute(f"SELECT count(DISTINCT track_id) FROM {csv}").fetchone()[0]
        events = f"read_parquet('{inp.events_dir}/*.parquet')"
        distinct_events = con.execute(f"SELECT count(DISTINCT event_id) FROM {events}").fetchone()[0]
        # closed gap sessions (30 min): every session but each user's last,
        # which stays open in the streaming state
        sessions = con.execute(f"""
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS us,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                          OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS brk
              FROM {events} WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (SELECT user_id, sum(brk) OVER (PARTITION BY user_id ORDER BY us
                         ROWS UNBOUNDED PRECEDING) AS sid FROM e),
            g AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY ALL),
            closed AS (SELECT * FROM g QUALIFY sid < max(sid) OVER (PARTITION BY user_id))
            SELECT count(*), coalesce(sum(n), 0) FROM closed""").fetchone()
        upsert_keys = f"(SELECT track_id FROM read_parquet('{inp.upserts}'))"
        cow_rows = con.execute(
            f"SELECT count(*) FROM (SELECT track_id FROM {csv} UNION SELECT * FROM {upsert_keys})"
        ).fetchone()[0]
        con.close()
        return {"bronze_full": base, "bronze_append": total, "silver": tracks,
                "stream_silver": distinct_events, "stream_sessionize": tuple(sessions),
                "cow_read": cow_rows}

    def check(self, records: list[Record]) -> list[str]:
        from spotify_tracks_etl_portfolio_spark.operators.dq import spotify_silver_suite

        exp = self.expected()
        spark = self.spark
        wrong = []
        for rec in records:
            if rec.error is not None:
                continue
            out, d = rec.output, self._out(rec.pass_id)
            if rec.name in ("bronze_full", "bronze_append"):
                ok = out.rows_loaded == exp[rec.name]
            elif rec.name == "silver":
                silver = spark.read.parquet(str(d / "silver"))
                ok = (out["rows_silver"] == exp["silver"] and out["dq"]["success"]
                      and spotify_silver_suite().run(silver).success)
            elif rec.name == "stream_silver":
                ids = spark.read.parquet(str(d / "stream_silver")).select("event_id")
                n = ids.count()
                ok = n == ids.distinct().count() == exp["stream_silver"]
            elif rec.name == "stream_sessionize":
                row = spark.sql(
                    f"SELECT count(*) AS c, coalesce(sum(n_events), 0) AS n FROM {out}").first()
                ok = (row["c"], row["n"]) == exp["stream_sessionize"]
            elif rec.name == "cow_create":
                ok = out == 0
            elif rec.name == "cow_merge":
                ok = out.get("version") == 1
            elif rec.name == "cow_read":
                ok = out == exp["cow_read"]
            else:
                ok = False
            if not ok:
                wrong.append(f"{rec.name}@{rec.pass_id}")
        return wrong


WORKLOADS = {
    "medallion_etl": MedallionEtl,
    "dashboard_reads": DashboardReads,
    "curation_batch": CurationBatch,
}
