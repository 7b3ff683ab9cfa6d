"""Structured Streaming layer (SURVEY.md §2.9, §7 M5).

The reference names streaming as future work — "simulate stream data and
perform batch processing every date at designated time"
(``reference: README.md:79``); its only existing mechanism is the batch
load mode + ``batch_identifier``. This module implements that intent
Spark-first:

- file-source ``readStream`` over events-shaped parquet,
- watermarked tumbling-window aggregation (late data bounded, state
  evictable — the thing that makes it run forever at scale),
- ``foreachBatch`` micro-batch upsert into silver (dedup-within-batch +
  anti-join against what's already there — MERGE-without-Delta).

The batch-equivalent of the windowed rollup is the oracle-checked
``hourly_event_rollup`` query in plans/analytics.py; streaming tests
drive these to completion with ``trigger(availableNow=...)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over events-shaped parquet. The explicit schema
    is mandatory for streaming reads. Micro-batches are bounded by bytes
    (``maxBytesPerTrigger`` = ``STATE_SOURCE_BYTES_PER_PARTITION``), so
    many small files drain in one trigger instead of paying a trigger's
    fixed cost each; an explicit ``max_files_per_trigger`` bounds them by
    file count instead (and lets tests exercise multi-batch behavior).

    ``ts`` physical type is probed with a driver-side batch schema read
    (metadata only, no data scan): TIMESTAMP(NANOS) files arrive as
    INT64 under ``nanosAsLong`` and are truncated to µs exactly like the
    batch reader; TIMESTAMP(MICROS) files stream natively — so the same
    pipeline runs over either vintage of the data without edits. If the
    source directory is empty or absent at stream-definition time
    (normal for a stream that starts before its producers), the probe
    falls back to native TIMESTAMP(MICROS) — the current testdata
    vintage — instead of failing."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        nanos = dict(spark.read.parquet(path).dtypes).get("ts") == "bigint"
    except Exception:  # AnalysisException: path missing / no files yet
        nanos = False
    raw_schema = (
        f"event_id long, ts {'long' if nanos else 'timestamp'}, "
        "user_id long, event_type string, value double, props string"
    )
    if max_files_per_trigger is None:
        bound = ("maxBytesPerTrigger", STATE_SOURCE_BYTES_PER_PARTITION)
    else:
        bound = ("maxFilesPerTrigger", max_files_per_trigger)
    df = spark.readStream.schema(raw_schema).option(*bound).parquet(path)
    if nanos:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def streaming_hourly_rollup(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window rollup — the streaming twin of the
    batch ``hourly_event_rollup`` query. The watermark bounds state: at
    100 TB/day the unbounded alternative OOMs by construction."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        # DECIMAL-exact sum (cast back to double at output): streaming
        # state merges partial sums in arbitrary arrival order, so a
        # plain double sum would drift from the batch twin's oracle
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def streaming_silver_events(
    events: DataFrame,
    silver_path: str,
    checkpoint_path: str,
    value_clamp: tuple[float, float] = (0.0, 450.0),
):
    """Micro-batch medallion: clamp projection + dedup-upsert into silver
    via foreachBatch (idempotent per key — MERGE emulated with
    dedup-within-batch + left_anti against existing keys).

    Note the semantic delta vs batch silver, stated not hidden: median
    imputation needs global stats, so the streaming path clamps only —
    a periodic batch job refreshes imputation constants (the reference's
    own two-phase split, SURVEY.md §3.2, just on a timer)."""
    lo, hi = value_clamp

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        cleaned = (
            batch.withColumn(
                "value", F.least(F.greatest(F.col("value"), F.lit(lo)), F.lit(hi))
            )
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("event_id").orderBy("ts", "user_id")
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        # Probe for silver EXPLICITLY: the old blanket `except: pass`
        # treated ANY read failure (corrupt file from a crashed append,
        # FS hiccup, permissions) as "first batch" and silently skipped
        # the anti-join — appending duplicates forever. Now only a
        # genuinely absent path skips the dedup; real read errors
        # propagate and fail the micro-batch (foreachBatch retries it).
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path(silver_path)
        fs = jvm_path.getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        if fs.exists(jvm_path):
            existing = spark.read.parquet(silver_path).select("event_id")
            cleaned = cleaned.join(existing, "event_id", "left_anti")
        cleaned.write.mode("append").parquet(silver_path)

    return (
        events.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
    )


def run_stream_to_completion(query) -> None:
    """Drive an availableNow stream until it drains (test/backfill mode)."""
    q = query.start()
    q.awaitTermination()


def drain_events_stream_to_table(
    spark,
    sf_dir: str,
    build,
    output_mode: str,
    name_prefix: str,
) -> "DataFrame":
    """Shared scaffolding for the events-sourced streaming sync gates:
    stage ``events.parquet`` as a one-file stream source in a temp dir,
    run ``build(stream)``'s transform to completion (availableNow) into
    a uniquely named memory sink with its own fresh checkpoint, sweep
    the temp dir, and return the drained sink table. One implementation
    so the gates' drain/cleanup protocol can't drift (the same reason
    ``pinned_stream_session`` exists)."""
    import os
    import shutil
    import tempfile
    import uuid

    tag = uuid.uuid4().hex[:8]
    d = tempfile.mkdtemp(prefix=f"{name_prefix}_sync_")
    try:
        in_dir = f"{d}/in"
        os.makedirs(in_dir)
        shutil.copy(f"{sf_dir}/events.parquet", f"{in_dir}/part-0.parquet")
        # State partitions from SOURCE volume with the core count as the
        # floor (r14; see derived_state_partitions): the caller's
        # pinned_stream_session clone owns this fresh checkpoint and its
        # conf, so re-pinning before the stream starts is safe, and
        # per-key streaming state is partition-count-invariant (same
        # rows at any count — the 8-core driver run already proves it).
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(
                derived_state_partitions(
                    spark, os.path.getsize(f"{in_dir}/part-0.parquet")
                )
            ),
        )
        out = build(read_events_stream(spark, in_dir))
        name = f"{name_prefix}_sync_{tag}"
        q = (
            out.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.table(name)


#: Source bytes per state-store partition for volume-derived sizing —
#: the guide's 100 MB–1 GB shuffle-partition band, sized to the
#: compressed source (state is a keyed reduction of its slice, so the
#: in-memory partition lands well inside the band). Also the default
#: micro-batch bound of ``read_events_stream`` (``maxBytesPerTrigger``).
STATE_SOURCE_BYTES_PER_PARTITION = 256 * 1024 * 1024
#: Hard cap: one state store per partition × per-batch delta files
#: means partition count is also a file-count/maintenance knob; 32k
#: stores ≈ 1k waves on 32 cores, far past any drain this engine runs.
STATE_PARTITION_CAP = 32_768


def derived_state_partitions(spark, input_bytes: int) -> int:
    """State-partition count derived from SOURCE volume with the core
    count as the FLOOR (r14 optimization round). The old behavior —
    pinned exactly to ``defaultParallelism`` — was a local[32]
    assumption in the other direction at 100 TB: a day-scale source at
    256 MB/partition wants tens of thousands of state partitions, not
    one per core. Locally the floor keeps the count identical to the
    old pin, so the bench is unchanged by construction; measured
    alternatives at sf0.1 (4/8/16/32 state partitions: 4.04 / 2.97 /
    2.21 / 2.77 s min laps) show counts BELOW cores lose the Python
    stateful stage's parallelism and counts at/above cores are within
    host noise — the volume term only matters at scale. Per-key
    streaming state is partition-count-invariant, so answers do not
    change (the driver's 8-core correctness run exercises a different
    count already)."""
    import math

    cores = spark.sparkContext.defaultParallelism
    n = math.ceil(input_bytes / STATE_SOURCE_BYTES_PER_PARTITION)
    return max(cores, min(n, STATE_PARTITION_CAP))


def stream_session(spark, partitions: int | None = None):
    """Session clone with an EXPLICIT state-partition count, for
    stateful streams that create a FRESH checkpoint.

    Stateful operators freeze ``spark.sql.shuffle.partitions`` into the
    state-store layout on the checkpoint's first micro-batch — a stream
    started from an untuned session silently locks the 200-partition
    default into every state store for the life of the checkpoint
    (measured on the stream-stream join gate at sf0.01: 27.8 s under
    the inherited 200 vs 3.2 s pinned, identical output). A pipeline
    that OWNS its checkpoint must therefore pin the count deliberately;
    cloning via ``newSession()`` leaves the caller's conf untouched
    (same SparkContext, so returned DataFrames stay usable anywhere).

    Defaults to ``sparkContext.defaultParallelism`` (cores locally,
    total executor cores on a cluster). Size UP for state that must
    spread wider than the core count — the knob is per-pipeline by
    design. Only for FRESH checkpoints: resuming an existing one must
    keep its recorded partition count (Spark enforces this).
    """
    s = spark.newSession()
    n = int(partitions or spark.sparkContext.defaultParallelism)
    s.conf.set("spark.sql.shuffle.partitions", str(n))
    return s


def pinned_stream_session(fn):
    """Decorator for ``(spark, sf_dir, ...)`` query callables that start
    a stateful stream on a FRESH checkpoint: swaps the incoming session
    for a ``stream_session`` clone, so a gate can never silently freeze
    an untuned session's 200-partition default into its state stores
    (rationale and measurements: ``stream_session`` docstring). One
    decorator instead of a copy-pasted preamble per gate — a new gate
    that forgets the pin shows up in review as a missing decorator."""
    import functools

    @functools.wraps(fn)
    def wrapped(spark, *args, **kwargs):
        return fn(stream_session(spark), *args, **kwargs)

    return wrapped


def streaming_dedup_events(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup on event_id with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps a key's state only until the
    watermark passes its event time, so the dedup map cannot grow
    without bound (plain ``dropDuplicates`` on a stream retains every
    key forever — an OOM by construction at 100 TB/day). Replayed or
    at-least-once-delivered events inside the watermark horizon are
    suppressed; the batch twin is the ``dedup_exact_documents`` /
    ``dedup_window_events`` family."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def streaming_enrich_events(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a slowly-changing
    dimension — stateless (no join state to watermark). No hard
    broadcast hint: the dimension scales with SF, so size-based planning
    broadcasts it while it fits (executor-local hash-map probe per
    micro-batch) and falls back to a shuffled join when it doesn't."""
    return events.join(
        dim,
        events.user_id == dim.c_custkey,
        "inner",
    ).drop("c_custkey")


def streaming_incremental_dedup(
    batch_stream: DataFrame, corpus_fp: DataFrame, fp_col: str = "fingerprint"
) -> DataFrame:
    """Streaming twin of ``incremental_dedup_documents``: an incoming
    document stream anti-joined against the STATIC corpus fingerprint
    set, so only genuinely new content flows downstream — the daily-
    ingest dedup gate, continuously.

    Stream-static left_anti joins aren't supported by Structured
    Streaming; the standard equivalent is a left-outer join against a
    marker column + IS NULL filter, which IS supported stream-side and
    stateless (no watermark, no join state). The marker side carries NO
    hard broadcast hint: the corpus fingerprint set scales with the
    corpus, so size-based planning broadcasts it while it fits and
    shuffle-joins the micro-batch against it when it doesn't (the
    fingerprint-only projection keeps the static side narrow either
    way)."""
    marker = corpus_fp.select(F.col(fp_col)).dropDuplicates([fp_col]).withColumn(
        "__seen", F.lit(True)
    )
    return (
        batch_stream.join(marker, fp_col, "left_outer")
        .filter(F.col("__seen").isNull())
        .drop("__seen")
    )


def streaming_click_purchase_join(
    events: DataFrame,
    horizon_minutes: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream self-join: each click matched to the
    same user's purchases within ``horizon_minutes`` after it. Both
    sides carry watermarks and the join condition bounds event-time
    distance, so Spark can evict click/purchase state once the
    watermark passes the horizon — the two ingredients that make
    stream-stream joins run forever. Inner matches emit as soon as both
    sides arrive."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        ),
        "inner",
    ).select(
        "click_id", F.col("click_user").alias("user_id"), "click_ts",
        "purchase_id", "purchase_ts", "purchase_value",
    )


def read_documents_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over documents-shaped parquet (the incoming
    crawl in a streaming curation pipeline)."""
    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_near_dedup_new_docs(
    new_stream: DataFrame,
    corpus_bands: DataFrame,
    corpus_shingles: DataFrame,
    out_path: str,
    checkpoint: str,
    threshold: float,
):
    """Streaming curation: each micro-batch of incoming docs is
    near-dedup-checked against the STATIC corpus (MinHash bands →
    candidates → exact-Jaccard verify, operators/dedup.py
    cross_corpus_near_dup_ids_served) and survivors append to
    ``out_path``.

    Batch boundaries cannot change the result: every new doc is compared
    against the corpus only — never against other new docs — so any
    split of the stream into micro-batches yields exactly the batch
    operator's output (the equivalence the sync query hash-checks).
    The corpus side is the PRECOMPUTED pair of bucketed artifacts
    (``corpus_bands`` (id_old, bkey) bucketed on bkey,
    ``corpus_shingles`` (id_old, hashes) bucketed on id_old —
    plans ``_corpus_minhash_bands_bucketed``), so a micro-batch serve
    shuffles only the batch side; the corpus-sized shuffles were paid
    once at artifact build, never per epoch.

    Sink semantics: foreachBatch is at-least-once — a micro-batch can be
    retried after a partial or even completed write. The sink is made
    EFFECTIVELY EXACTLY-ONCE by writing each epoch to its own partition
    directory (``epoch_id=<n>``) with overwrite mode: a replayed epoch
    rewrites its own directory instead of appending duplicates. Readers
    see ``epoch_id`` as an ordinary partition column. Returns the
    DataStreamWriter (caller sets the trigger)."""
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        cross_corpus_near_dup_ids_served,
    )

    def process(batch: DataFrame, epoch_id: int) -> None:
        flagged = cross_corpus_near_dup_ids_served(
            batch, corpus_bands, corpus_shingles, "doc_id", "text", threshold
        )
        (
            batch.join(flagged, "doc_id", "left_anti")
            .select("doc_id")
            .write.mode("overwrite")
            .parquet(f"{out_path}/epoch_id={int(epoch_id)}")
        )

    return new_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )


def streaming_decontamination_spans(
    new_stream: DataFrame,
    bench_kgrams: DataFrame,
    out_path: str,
    checkpoint: str,
    k: int,
):
    """Streaming span-level benchmark decontamination: each micro-batch
    of incoming docs is swept for >= k-token substrings that appear
    verbatim in the PERSISTED benchmark k-gram set (the
    decontamination_overlap_spans_served artifact — built nightly,
    broadcast per batch), flagged starts island-merge into maximal
    spans, and the spans append to ``out_path``.

    Batch boundaries cannot change the result: a doc's spans depend
    only on that doc's text and the static benchmark set — docs never
    interact — so any micro-batch split reproduces the batch operator
    exactly (the equivalence the sync gate hash-checks). Same
    epoch-partition overwrite sink as the other gates: at-least-once
    foreachBatch replays rewrite their own epoch directory, never
    duplicate."""
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        _flagged_to_spans,
        _stride1_kgrams,
    )

    def process(batch: DataFrame, epoch_id: int) -> None:
        flagged = (
            _stride1_kgrams(batch, "doc_id", "text", k)
            .join(F.broadcast(bench_kgrams), "kg", "left_semi")
            .select("doc_id", "pos")
        )
        (
            _flagged_to_spans(flagged, "doc_id", k)
            .write.mode("overwrite")
            .parquet(f"{out_path}/epoch_id={int(epoch_id)}")
        )

    return new_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )


def streaming_incremental_substring_spans(
    new_stream: DataFrame,
    corpus_kgrams: DataFrame,
    out_path: str,
    checkpoint: str,
    k: int,
):
    """Streaming INCREMENTAL ExactSubstr: each micro-batch of incoming
    crawl docs is swept for >= k-token substrings appearing verbatim in
    the PERSISTED CORPUS k-gram set (the exact_substring_new_vs_corpus
    artifact — built nightly, served to batch and streaming consumers
    alike), flagged starts island-merge into maximal spans, spans land
    in an epoch-partition-overwrite sink (at-least-once replays rewrite
    their epoch, never duplicate).

    The twin of ``streaming_decontamination_spans`` with the reference
    set CORPUS-sized instead of benchmark-sized: no broadcast hint —
    the per-batch semi-join is size-planned, and at scale the artifact
    is written BUCKETED on kg so only the (small) micro-batch side
    shuffles per trigger. Batch boundaries cannot change the result: a
    doc's spans depend only on its own text and the static corpus set —
    docs never interact — so any micro-batch split reproduces the batch
    operator exactly (the equivalence the sync gate hash-checks)."""
    from spotify_tracks_etl_portfolio_spark.operators.dedup import (
        incremental_substring_spans,
    )

    def process(batch: DataFrame, epoch_id: int) -> None:
        (
            incremental_substring_spans(
                batch, corpus_kgrams, "doc_id", "text", k
            )
            .write.mode("overwrite")
            .parquet(f"{out_path}/epoch_id={int(epoch_id)}")
        )

    return new_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )


def streaming_histogram_cells(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    group_col: str,
    value_col: str,
    scale: int,
    bin_width: int,
):
    """Per-group histogram-quantile SKETCH maintained over a stream:
    each micro-batch reduces to its own PARTIAL ``(group, b, c)`` cell
    table — bounded by #groups × #bins regardless of stream length —
    and the merged sketch is the cell-wise SUM of the epoch partials,
    bit-identical to the batch cells over the full input (counter
    addition is associative+commutative; the binning is the IEEE-exact
    micro-int quantization the batch sketch queries freeze). This is
    the monitoring pipeline the mergeable cells exist for: per-day /
    per-trigger partials persist, quantile selection reads cells only.

    Sink semantics: foreachBatch is at-least-once; per-epoch partition
    overwrite makes the partials effectively exactly-once under replay
    (same contract as the CMS/near-dedup sinks). Returns the
    DataStreamWriter (caller sets the trigger)."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        (
            batch.filter(F.col(value_col).isNotNull())
            .select(
                F.col(group_col),
                F.floor(
                    F.round(F.col(value_col) * F.lit(scale))
                    / F.lit(float(bin_width))
                )
                .cast("long")
                .alias("b"),
            )
            .groupBy(group_col, "b")
            .agg(F.count(F.lit(1)).alias("c"))
            .write.mode("overwrite")
            .parquet(f"{out_path}/epoch_id={int(epoch_id)}")
        )

    return stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )


def streaming_cms_cells(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    rows: tuple[tuple[int, int], ...] = ((31, 7), (131, 17), (1031, 29)),
    width: int = 64,
    mod: int = 1_000_000_007,
):
    """Count-min sketch maintained over a stream: each micro-batch
    reduces to its own PARTIAL (r, bucket, cnt) cell table — bounded
    state (rows × width cells) regardless of stream length or key
    cardinality — and the final sketch is the cell-wise SUM of the
    partials, bit-identical to the batch sketch over the full input
    because counter addition is associative and commutative (the
    mergeability that makes sketches the right streaming/distributed
    frequency primitive).

    Sink semantics: foreachBatch is at-least-once; per-epoch partition
    overwrite (``epoch_id=<n>``) makes the partials effectively
    exactly-once under replay — same contract as the near-dedup sink.
    Returns the DataStreamWriter (caller sets the trigger)."""

    def process(batch: DataFrame, epoch_id: int) -> None:
        pos = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        (((F.col(key_col) * a + b) % mod) % width).alias(
                            "bucket"
                        ),
                    )
                    for r, (a, b) in enumerate(rows)
                ]
            )
        ).alias("rb")
        (
            batch.select(pos)
            .select("rb.r", "rb.bucket")
            .groupBy("r", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .write.mode("overwrite")
            .parquet(f"{out_path}/epoch_id={int(epoch_id)}")
        )

    return stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
