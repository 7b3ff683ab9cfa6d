"""Unit tests for operators/graph.py (PageRank) and the round-4
continuation queries: corpus drift PSI, feature-hashing vectors,
deterministic weighted sampling. Value-level parity vs DuckDB is the
oracle gate; here we pin algebraic invariants and determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spotify_tracks_etl_portfolio_spark.operators import graph as gr
from spotify_tracks_etl_portfolio_spark.plans import all_queries

SPECS = all_queries()


def _path_graph(spark):
    # Undirected path a(0)-b(1)-c(2): both directions of each edge.
    pairs = [(0, 1), (1, 2)]
    rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "src long, dst long")


def test_pagerank_mass_conserved_and_symmetric(spark):
    ranks = {
        r["node"]: r["rank"] for r in gr.pagerank(_path_graph(spark)).collect()
    }
    assert set(ranks) == {0, 1, 2}
    # Stochastic: total mass stays 1 (up to the 12-dp contribution rounding).
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    # Path ends are automorphic — identical ranks, bit-for-bit.
    assert ranks[0] == ranks[2]
    # The center has twice the degree and strictly more rank.
    assert ranks[1] > ranks[0]


def test_pagerank_uniform_on_regular_graph(spark):
    # 4-cycle: every node degree 2 → PageRank must stay exactly uniform.
    pairs = [(0, 1), (1, 2), (2, 3), (3, 0)]
    rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(rows, "src long, dst long")
    ranks = [r["rank"] for r in gr.pagerank(edges).collect()]
    assert len(set(ranks)) == 1
    assert abs(ranks[0] - 0.25) < 1e-9


def test_trade_graph_edges_bidirectional_disjoint(spark, sf_dir):
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    orders = read_parquet_table(spark, sf_dir, "orders")
    lineitem = read_parquet_table(spark, sf_dir, "lineitem")
    e = gr.trade_graph_edges(orders, lineitem)
    fwd = e.filter(F.col("src") % 2 == 0)
    rev = e.filter(F.col("src") % 2 == 1)
    assert fwd.count() == rev.count()
    # Node id parity encodes the side: customer→supplier edges only.
    assert fwd.filter(F.col("dst") % 2 == 0).count() == 0
    assert rev.filter(F.col("dst") % 2 == 1).count() == 0


def test_psi_zero_on_identical_snapshots(spark, tmp_path):
    """Paired doc_ids (2i even=old, 2i+1 odd=new) with identical length
    distributions must yield exactly zero drift in every bin."""
    import pandas as pd

    rows = []
    for i in range(60):
        n = 48 + (i % 5) * 100
        rows.append((2 * i, "x" * n, "en", "web", n))
        rows.append((2 * i + 1, "y" * n, "en", "web", n))
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = tmp_path / "sfpsi"
    d.mkdir()
    pdf.to_parquet(d / "documents.parquet")
    out = SPECS["corpus_drift_psi"].fn(spark, str(d)).collect()
    assert out
    for r in out:
        assert r["n_old"] == r["n_new"]
        assert r["psi_term"] == 0.0
        assert r["total_psi"] == 0.0


def test_hashed_vectors_row_sum_is_token_count(spark, sf_dir):
    df = SPECS["hashed_token_vectors"].fn(spark, sf_dir)
    dims = [c for c in df.columns if c != "doc_id" and c.startswith("d")]
    assert len(dims) == 16
    from spotify_tracks_etl_portfolio_spark.functions import token_count
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    docs = read_parquet_table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("nt")
    )
    joined = df.withColumn(
        "rowsum", sum(F.col(c) for c in dims)
    ).join(docs, "doc_id")
    assert joined.filter(F.col("rowsum") != F.col("nt")).count() == 0


def test_hashed_vector_dim_matches_python_hash(spark, sf_dir):
    """One concrete token's dimension must equal the Python replication
    of the polynomial rolling hash mod 16."""
    row = (
        spark.createDataFrame([(0, "hello world")], "doc_id long, text string")
        .select(
            F.transform(
                F.split(F.trim("text"), r"\s+"),
                lambda t: __import__(
                    "spotify_tracks_etl_portfolio_spark.functions",
                    fromlist=["rolling_hash"],
                ).rolling_hash(t)
                % 16,
            ).alias("dims")
        )
        .first()
    )

    def py_dim(tok: str) -> int:
        h = 0
        for ch in tok:
            h = (h * 31 + ord(ch)) % 1000000007
        return h % 16

    assert row["dims"] == [py_dim("hello"), py_dim("world")]


def test_weighted_sample_deterministic_topk(spark, sf_dir):
    a = SPECS["weighted_sample_documents"].fn(spark, sf_dir).collect()
    b = SPECS["weighted_sample_documents"].fn(spark, sf_dir).collect()
    assert a == b
    assert len(a) == 50
    keys = [r["sample_key"] for r in a]
    assert keys == sorted(keys, reverse=True)
    # A-ES keys are ln(u)/w with u∈(0,1): strictly negative.
    assert all(k < 0 for k in keys)


def test_weighted_sample_prefers_heavy_docs(spark, sf_dir):
    """Sampled docs must skew heavier than the corpus average — the
    point of weighting by n_chars."""
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    sample = SPECS["weighted_sample_documents"].fn(spark, sf_dir)
    avg_s = sample.agg(F.avg("weight")).first()[0]
    avg_all = (
        read_parquet_table(spark, sf_dir, "documents")
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    assert avg_s > avg_all


def test_cms_estimate_dominates_truth_for_every_token(spark, sf_dir):
    """CMS never underestimates: check ALL vocabulary tokens, not just
    the reported top-20 (collisions only ever add)."""
    from spotify_tracks_etl_portfolio_spark.functions import rolling_hash
    from spotify_tracks_etl_portfolio_spark.operators.text import tokens
    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        CMS_P,
        CMS_ROWS,
        CMS_W,
    )
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    th = docs.select(F.explode(tokens("text")).alias("t")).select(
        "t", rolling_hash("t").alias("h")
    )
    tf = th.groupBy("t").agg(
        F.first("h").alias("h"), F.count(F.lit(1)).alias("true_count")
    )
    cells = {}
    for r, (a, b) in enumerate(CMS_ROWS):
        bucket = ((F.lit(a) * F.col("h") + F.lit(b)) % CMS_P) % CMS_W
        for row in th.select(bucket.alias("b")).groupBy("b").count().collect():
            cells[(r, row["b"])] = row["count"]
    bad = 0
    for row in tf.collect():
        est = min(
            cells[(r, ((a * row["h"] + b) % CMS_P) % CMS_W)]
            for r, (a, b) in enumerate(CMS_ROWS)
        )
        if est < row["true_count"]:
            bad += 1
    assert bad == 0


def test_batch_sessions_respect_gap_invariants(spark, sf_dir):
    """Consecutive sessions of one user are separated by > the 30-min
    gap, and session_idx increases with time."""
    from pyspark.sql import Window

    df = SPECS["sessionize_events_batch"].fn(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("session_idx")
    checked = df.withColumn("prev_end", F.lag("session_end_us").over(w))
    viol = checked.filter(
        F.col("prev_end").isNotNull()
        & (F.col("session_start_us") - F.col("prev_end") <= 30 * 60 * 1_000_000)
    )
    assert viol.count() == 0
    assert df.filter(F.col("session_end_us") < F.col("session_start_us")).count() == 0
    assert df.filter(F.col("n_events") < 1).count() == 0


def test_batch_sessionize_agrees_with_streaming_closed_sessions(spark, sf_dir):
    """The batch sessionizer must reproduce the streaming stateful
    operator's CLOSED sessions exactly (the stream additionally holds
    each user's trailing session open, which the batch twin reports)."""
    batch = SPECS["sessionize_events_batch"].fn(spark, sf_dir)
    w_last = F.max("session_idx").over(
        __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
            "user_id"
        )
    )
    closed = (
        batch.withColumn("__last", w_last)
        .filter(F.col("session_idx") < F.col("__last"))
        .select("user_id", "session_start_us", "session_end_us", "n_events")
    )
    streamed = SPECS["streaming_sessionize_sync"].fn(spark, sf_dir).select(
        "user_id", "session_start_us", "session_end_us", "n_events"
    )
    assert closed.exceptAll(streamed).count() == 0
    assert streamed.exceptAll(closed).count() == 0


def test_streaming_cms_merges_partials_across_real_microbatches(
    spark, sf_dir, tmp_path
):
    """The CMS stream must produce MULTIPLE per-epoch partials (real
    micro-batches, not one big batch) whose cell-wise sum equals the
    batch sketch; a replayed epoch write stays idempotent."""
    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        CMS_P,
        CMS_ROWS,
        CMS_W,
    )
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )
    from spotify_tracks_etl_portfolio_spark.streaming import read_events_stream
    from spotify_tracks_etl_portfolio_spark.streaming.pipeline import (
        streaming_cms_cells,
    )

    d = str(tmp_path)
    ev = read_parquet_table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(f"{d}/in")
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(f"{d}/in")
    stream = read_events_stream(spark, f"{d}/in", max_files_per_trigger=1)
    q = (
        streaming_cms_cells(
            stream, f"{d}/cells", f"{d}/ckpt", rows=CMS_ROWS, width=CMS_W, mod=CMS_P
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    partials = spark.read.parquet(f"{d}/cells")
    n_epochs = partials.select("epoch_id").distinct().count()
    assert n_epochs >= 2
    merged = partials.groupBy("r", "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    # batch sketch over the same events
    pos = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    (((F.col("user_id") * a + b) % CMS_P) % CMS_W).alias(
                        "bucket"
                    ),
                )
                for r, (a, b) in enumerate(CMS_ROWS)
            ]
        )
    ).alias("rb")
    batch_cells = (
        ev.select(pos)
        .select("rb.r", "rb.bucket")
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    assert merged.exceptAll(batch_cells).count() == 0
    assert batch_cells.exceptAll(merged).count() == 0


def test_ols_recovers_perfect_line(spark, tmp_path):
    """On synthetic y = 3x + 7 data the closed-form OLS must recover
    slope 3, intercept 7, r² = 1 (to the 6-dp output rounding)."""
    import pandas as pd

    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        _TREND_ORIGIN_US,
    )

    n = 200
    us = [_TREND_ORIGIN_US + i * 3_600_000_000 for i in range(n)]
    x_hours = [i * 1.0 for i in range(n)]
    pdf = pd.DataFrame(
        {
            "event_id": range(n),
            "ts": pd.to_datetime(us, unit="us"),
            "user_id": [1] * n,
            "event_type": ["lin"] * n,
            "value": [3.0 * x + 7.0 for x in x_hours],
            "props": ["{}"] * n,
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    d = tmp_path / "sfols"
    d.mkdir()
    pdf.to_parquet(d / "events.parquet")
    (row,) = SPECS["event_value_trend_by_type"].fn(spark, str(d)).collect()
    assert row["n"] == n
    assert abs(row["slope"] - 3.0) < 1e-5
    assert abs(row["intercept"] - 7.0) < 1e-4
    assert abs(row["r2"] - 1.0) < 1e-6


def test_streaming_cms_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """Restarting the CMS stream with its checkpoint must process ONLY
    files that arrived after the first drain, and the merged sketch
    over all epochs must still equal the batch sketch over all files —
    mergeability survives restart."""
    from spotify_tracks_etl_portfolio_spark.plans.extensions import (
        CMS_P,
        CMS_ROWS,
        CMS_W,
    )
    from spotify_tracks_etl_portfolio_spark.sources.readers import (
        read_parquet_table,
    )
    from spotify_tracks_etl_portfolio_spark.streaming import read_events_stream
    from spotify_tracks_etl_portfolio_spark.streaming.pipeline import (
        streaming_cms_cells,
    )

    d = str(tmp_path)
    ev = read_parquet_table(spark, sf_dir, "events")

    def drain():
        q = (
            streaming_cms_cells(
                read_events_stream(spark, f"{d}/in"),
                f"{d}/cells",
                f"{d}/ckpt",
                rows=CMS_ROWS,
                width=CMS_W,
                mod=CMS_P,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(f"{d}/in")
    drain()
    n_epochs_first = (
        spark.read.parquet(f"{d}/cells").select("epoch_id").distinct().count()
    )
    # second wave of files, then RESTART from the same checkpoint
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(f"{d}/in")
    drain()
    partials = spark.read.parquet(f"{d}/cells")
    assert partials.select("epoch_id").distinct().count() > n_epochs_first
    merged = partials.groupBy("r", "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    pos = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    (((F.col("user_id") * a + b) % CMS_P) % CMS_W).alias(
                        "bucket"
                    ),
                )
                for r, (a, b) in enumerate(CMS_ROWS)
            ]
        )
    ).alias("rb")
    batch_cells = (
        ev.select(pos)
        .select("rb.r", "rb.bucket")
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    assert merged.exceptAll(batch_cells).count() == 0
    assert batch_cells.exceptAll(merged).count() == 0
