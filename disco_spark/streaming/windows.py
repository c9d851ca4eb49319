"""Streaming surface over the events table (beyond-reference: the
reference is strictly batch — SURVEY §2.8; its closest construct,
concurrent pipeline stages, is explicitly mapped to Structured
Streaming micro-batches).

Operators: tumbling / sliding / session windows, watermark late-data
handling, stateful dedup. Each windowed aggregation is registered both
as a batch query (with a DuckDB oracle — streaming results must
converge to the batch answer, which is exactly what the oracle checks)
and exercised as a REAL readStream→writeStream run:
``streaming_tumbling_window`` executes Structured Streaming with an
availableNow trigger into a memory sink inside the query call.

Scale notes: event-time windows + watermarks bound state (state store
holds only open windows); dropDuplicatesWithinWatermark bounds the
dedup state the same way. A stream fixes its state-store count at start
and commits every store on every batch, and AQE never coalesces it, so
run_stream_to_memory starts each stream with one store per core
(session.default_parallelism) rather than the batch shuffle width. At
100 TB of events/day the same rule holds — O(cores) stores, checkpointed
to object store.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.registry import query
from disco_spark.session import default_parallelism, load_tables, table_file_schema

_TUMBLING_ORACLE = """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
"""


def _tumbling_agg(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query("events_tumbling_window", oracle=_TUMBLING_ORACLE)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return _tumbling_agg(t["events"])


@query(
    "events_sliding_window",
    oracle="""
    WITH grid AS (
      SELECT *, unnest([time_bucket(INTERVAL '30 minutes', ts),
                        time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
      FROM events
    )
    SELECT CAST(ws AS TIMESTAMP) AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
    FROM grid
    WHERE ts < ws + INTERVAL '1 hour'   -- window [ws, ws+1h) containing ts
    GROUP BY 1
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h windows sliding every 30min: each event lands in 2 windows."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("window.start").alias("window_start"), "n_events", "total_value")
    )


@query(
    "events_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '10 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) + INTERVAL '10 minutes' AS TIMESTAMP) AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 10-minute inactivity gap per user.
    (Spark defines session end = last event + gap; the oracle mirrors
    the same gaps-and-islands semantics.)"""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "events_dedup_by_key",
    oracle="""
    SELECT event_type, COUNT(*) AS n_unique_users
    FROM (SELECT DISTINCT event_type, user_id FROM events)
    GROUP BY event_type
    """,
)
def events_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch shape of stateful streaming dedup (dropDuplicates on key
    columns; the streaming run uses dropDuplicatesWithinWatermark to
    bound state — exercised in tests)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .dropDuplicates(["event_type", "user_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_users"))
    )


def run_stream_to_memory(
    spark: SparkSession,
    sf_dir: str,
    transform,
    *,
    output_mode: str = "complete",
    watermark: tuple[str, str] | None = ("ts", "1 hour"),
    source_file: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Execute a REAL Structured Streaming job over a testdata parquet:
    readStream -> transform -> memory sink, availableNow trigger (process
    everything, then stop). Returns the sink contents as a DataFrame.
    ``max_files_per_trigger`` splits availableNow processing into
    multiple micro-batches (replay tests use it to prove cross-batch
    state behavior). The source schema is the file schema of the table
    ``source_file`` names, from the read load_tables caches."""
    # events.parquet is TIMESTAMP(NANOS); a vanilla (driver) session can't
    # read it without this runtime conf (session.py invariant) — don't rely
    # on an earlier query having called load_tables in the same session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(
        table_file_schema(spark, sf_dir, source_file.removesuffix(".parquet"))
    )
    source_path = os.path.join(sf_dir, source_file)
    if os.path.isdir(source_path):
        # directory-shaped table (part-files inside <name>.parquet/):
        # stream the directory itself. A pathGlobFilter of the table
        # NAME would match no leaf file and SILENTLY stream zero rows —
        # exactly what happened on the 10x replicated dataset.
        stream_path = source_path
    else:
        # single-file table: file stream sources need a directory, so
        # stream the sf dir glob-filtered to the one file (on a cluster
        # this is the landing directory new files drop into)
        reader = reader.option("pathGlobFilter", source_file)
        stream_path = sf_dir
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(stream_path)
    # ns-precision or NTZ parquet (see session._normalize_event_ts): both
    # must become plain TIMESTAMP before withWatermark accepts the column.
    ts_dtype = dict(stream.dtypes).get("ts")
    if ts_dtype == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_dtype == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    if watermark is not None:
        stream = stream.withWatermark(*watermark)
    sink = f"stream_sink_{uuid.uuid4().hex[:8]}"
    # A streaming query fixes its state-store count from shuffle.partitions
    # AT START and commits every store on every batch; AQE never coalesces
    # state. At the batch width (32) on a few cores those commits were most
    # of a small stream's time (stream-stream join: 3.8x at 32 vs 8), so a
    # stream starts with one store per core. The conf is restored right
    # after start, so nothing else in the session sees it.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism(spark)))
    try:
        q = (
            transform(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    return spark.table(sink)


def _incremental_dedup_transform(stream: DataFrame) -> DataFrame:
    """Normalized-content streaming dedup: synthesize a deterministic
    ingest time from doc_id (the testdata documents carry no event
    time), watermark it, and dropDuplicatesWithinWatermark on the
    content hash — state for a hash is dropped once the watermark
    passes it, so state size is bounded by the dedup horizon instead of
    growing with the corpus (the property plain dropDuplicates lacks)."""
    hashed = stream.select(
        F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))).alias(
            "content_hash"
        ),
        F.timestamp_seconds(F.pmod(F.col("doc_id"), F.lit(600)) + F.lit(1_000_000)).alias(
            "ingest_ts"
        ),
    )
    return (
        hashed.withWatermark("ingest_ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["content_hash"])
        .select("content_hash")
    )


@query(
    "dedup_incremental_watermark",
    oracle="""
    SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
    FROM documents
    """,
)
def dedup_incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup run as a REAL streaming query over
    documents-as-stream (readStream + dropDuplicatesWithinWatermark +
    availableNow): the emitted distinct content hashes must equal the
    batch DISTINCT — the streaming-converges-to-batch guarantee. The
    cross-micro-batch replay behavior (duplicates arriving in a later
    batch are suppressed while their hash is inside the watermark) is
    exercised in tests/test_streaming.py."""
    return run_stream_to_memory(
        spark,
        sf_dir,
        _incremental_dedup_transform,
        output_mode="append",
        watermark=None,
        source_file="documents.parquet",
    )


@query("streaming_tumbling_window", oracle=_TUMBLING_ORACLE)
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling aggregation executed as an actual streaming query
    (readStream + watermark + availableNow); its result must equal the
    batch/oracle answer — the streaming-converges-to-batch guarantee."""
    return run_stream_to_memory(spark, sf_dir, _tumbling_agg)


# --------------------------------------------------------------------------
# custom stateful operator: applyInPandasWithState
# --------------------------------------------------------------------------
_TOTALS_OUT = "user_id bigint, n_events bigint, value_micro_sum bigint"
_TOTALS_STATE = "n bigint, micro bigint"


def _user_totals_fn(key, pdfs, state):
    """Running per-user totals held in the state store. Value sums use
    integer micro-units (floor(value*1e6)) so accumulation is exact and
    order-independent — double addition would be shuffle-order-dependent
    and break cross-engine hash matching."""
    import numpy as np
    import pandas as pd

    n, micro = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        micro += int(np.floor(pdf["value"].to_numpy() * 1e6).astype("int64").sum())
    state.update((int(n), int(micro)))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "value_micro_sum": [micro]}
    )


def stateful_user_totals(stream: DataFrame) -> DataFrame:
    """Arbitrary stateful processing (applyInPandasWithState): the Spark
    analog of a custom stateful pipeline stage. State lives in the state
    store per user_id; each micro-batch updates and emits the running
    totals."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("user_id").applyInPandasWithState(
        _user_totals_fn,
        _TOTALS_OUT,
        _TOTALS_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )


@query(
    "streaming_stateful_user_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micro_sum
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator run for real (readStream +
    applyInPandasWithState + availableNow): after draining the source the
    per-user running totals equal the batch GROUP BY — the oracle checks
    exactly that. (availableNow over one source file = one micro-batch;
    'update' mode emits each group's final state once.)"""
    return run_stream_to_memory(
        spark, sf_dir, stateful_user_totals, output_mode="update", watermark=None
    )


# --------------------------------------------------------------------------
# event-sequence analytics (funnel / retention) — the batch analytics a
# training-data/event pipeline runs next to the streaming surface
# --------------------------------------------------------------------------
@query(
    "events_funnel_view_purchase",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_viewers,
           COUNT(CASE WHEN last_purchase > first_view THEN 1 END) AS n_converted
    FROM per_user WHERE first_view IS NOT NULL
    """,
)
def events_funnel_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel (view -> later purchase) in ONE scan: per-user
    conditional min/max, then a global count — no self-join of the
    events table (the naive funnel join is quadratic in events-per-user;
    this shape stays linear and shuffles only user_id grains)."""
    t = load_tables(spark, sf_dir)
    per_user = t["events"].groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase"),
    )
    return per_user.filter(F.col("first_view").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_viewers"),
        F.count(F.when(F.col("last_purchase") > F.col("first_view"), 1)).alias("n_converted"),
    )


@query(
    "events_last_action_per_user",
    oracle="""
    SELECT user_id,
           arg_max(event_type, ts) AS last_event_type,
           MAX(ts) AS last_ts,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def events_last_action_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest action per user via max_by/arg_max (SURVEY §2.5's top-k
    row: the fold the reference writes as a user reduce) — one partial-
    aggregating scan, no window/sort. Deterministic because (user_id, ts)
    is unique in this data; with tie-prone data you'd max_by on a
    composite (ts, event_id) key (DuckDB's arg_max is scalar-keyed, so
    the oracle would need an encoded scalar)."""
    t = load_tables(spark, sf_dir)
    return t["events"].groupBy("user_id").agg(
        F.max_by("event_type", "ts").alias("last_event_type"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_daily_retention",
    oracle="""
    WITH days AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events)
    SELECT CAST(a.d AS TIMESTAMP) AS day,
           COUNT(*) AS n_active,
           COUNT(b.user_id) AS n_retained
    FROM days a LEFT JOIN days b
      ON a.user_id = b.user_id AND b.d = a.d + INTERVAL '1 day'
    GROUP BY a.d
    """,
)
def events_daily_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-day retention: distinct (user, day) grains self-joined one
    day apart. The self-join is keyed on user_id — co-partitioned, no
    broadcast needed; the distinct pre-aggregation shrinks the join
    input to active-user grains first."""
    t = load_tables(spark, sf_dir)
    days = t["events"].select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    a, b = days.alias("a"), days.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.d") == F.col("a.d") + F.expr("INTERVAL 1 DAY")),
            "left",
        )
        .groupBy(F.col("a.d").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.count(F.col("b.user_id")).alias("n_retained"),
        )
    )


@query(
    "streaming_static_join_value_by_segment",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(e.value * 1000000) AS BIGINT)) AS BIGINT) AS value_micro_sum
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def streaming_static_join_value_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join run for real: the events stream joins the
    static customer dim (broadcast per micro-batch — the streaming
    enrichment pattern), then aggregates per segment. Totals accumulate
    in integer micro-units for order-independence (see
    streaming_stateful_user_totals)."""
    t = load_tables(spark, sf_dir)
    static_dim = t["customer"].select("c_custkey", "c_mktsegment")

    def enrich_and_agg(stream: DataFrame) -> DataFrame:
        return (
            stream.join(F.broadcast(static_dim), stream.user_id == static_dim.c_custkey)
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 1000000).cast("bigint")).alias(
                    "value_micro_sum"
                ),
            )
        )

    return run_stream_to_memory(
        spark, sf_dir, enrich_and_agg, output_mode="complete", watermark=None
    )


@query(
    "streaming_stream_stream_join",
    oracle="""
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
    FROM events v JOIN events p
      ON p.user_id = v.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream inner join (both sides streaming, state on
    both): every (view, purchase) pair by the same user within 30
    minutes. Both sides carry a watermark and the join predicate bounds
    event time in both directions, so each side's buffered state is
    evicted once the other side's watermark passes — the bounded-state
    contract a 100 TB stream join lives or dies by. availableNow
    processing makes the result equal to the batch self-join the oracle
    runs."""

    def join_views_purchases(stream: DataFrame) -> DataFrame:
        views = stream.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        purchases = stream.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        joined = views.join(
            purchases,
            F.expr(
                "v_user = p_user AND purchase_ts >= view_ts "
                "AND purchase_ts <= view_ts + interval 30 minutes"
            ),
        )
        return joined.select(
            F.col("v_user").alias("user_id"), "view_id", "purchase_id"
        )

    return run_stream_to_memory(
        spark, sf_dir, join_views_purchases, output_mode="append"
    )


@query(
    "streaming_sliding_topk_types",
    # top-2 event types per 1-hour window sliding every 30 min: the
    # windowed agg runs IN the stream (availableNow); the rank over
    # the completed windows is a batch fold over the sink — exactly
    # how a production job serves "top movers per window" (rank
    # happens on the materialized aggregate, not inside the stream)
    oracle="""
    WITH grid AS (
      SELECT *, unnest([time_bucket(INTERVAL '30 minutes', ts),
                        time_bucket(INTERVAL '30 minutes', ts)
                          - INTERVAL '30 minutes']) AS ws
      FROM events
    ),
    agg AS (
      SELECT CAST(ws AS TIMESTAMP) AS window_start, event_type,
             COUNT(*) AS n_events
      FROM grid
      WHERE ts < ws + INTERVAL '1 hour'
      GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY window_start
        ORDER BY n_events DESC, event_type) AS rnk
      FROM agg
    ) WHERE rnk <= 2
    """,
)
def streaming_sliding_topk_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-2 event types per sliding 1-hour window (30-min slide),
    computed as a REAL streaming job: the per-(window, type) counts
    aggregate inside Structured Streaming (availableNow, watermarked),
    and the rank is a batch window over the materialized sink — the
    standard split for "top-k per window" (rank is not an incremental
    aggregate; production jobs rank the stored window aggregates).

    Per-window state is |types| counters; the rank partitions by
    window_start over <= |types| rows."""

    def transform(stream: DataFrame) -> DataFrame:
        return stream.groupBy(
            F.window("ts", "1 hour", "30 minutes"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n_events"))

    sunk = run_stream_to_memory(spark, sf_dir, transform)
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        sunk.select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .drop("rnk")
    )


# --------------------------------------------------------------------------
# checkpoint recovery — THE production streaming property: a restarted
# query resumes from persisted state instead of reprocessing (or
# worse, losing) history. Proven the only way it can be: the first
# wave of files is DELETED before the restart, so the final counts
# are right only if the state store actually came back.
# --------------------------------------------------------------------------
@query(
    "streaming_checkpoint_recovery",
    oracle="""
    SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1
    """,
)
def streaming_checkpoint_recovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-phase checkpointed aggregation over a file-landing stream:
    wave 1 (even event_ids) is processed under a checkpointLocation
    and then REMOVED from the landing dir; wave 2 (odd ids) lands and
    a brand-new query object restarts from the same checkpoint. The
    complete-mode per-type counts equal the full batch GROUP BY only
    because (a) the recovered state store still holds wave 1's counts
    and (b) the file-source log knows wave 1 was processed. foreachBatch
    overwrites a parquet result per micro-batch (memory sinks do not
    survive restarts; a real pipeline upserts to a table the same way).

    Scale: state is |event_type| rows; the checkpoint cost is the
    state-store commit per partition per batch — the same contract at
    any volume."""
    import shutil
    import tempfile

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    stage = tempfile.mkdtemp(prefix="disco_spark_ckpt_")
    land = os.path.join(stage, "landing")
    ckpt = os.path.join(stage, "checkpoint")
    out = os.path.join(stage, "result")
    wave1, wave2 = (
        os.path.join(stage, "wave1"),
        os.path.join(stage, "wave2"),
    )
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(wave1)
    ev.filter(F.col("event_id") % 2 == 1).write.parquet(wave2)
    schema = ev.schema

    def run_wave() -> None:
        stream = spark.readStream.schema(schema).parquet(land)
        counts = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        q = (
            counts.writeStream.foreachBatch(
                lambda df, _epoch: df.write.mode("overwrite").parquet(out)
            )
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def land_files(src: str) -> None:
        for f in os.listdir(src):
            if f.startswith("part-"):
                shutil.copy(os.path.join(src, f), os.path.join(land, f))

    os.makedirs(land)
    land_files(wave1)
    run_wave()
    partial = spark.read.parquet(out).agg(F.sum("n")).collect()[0][0]
    total = ev.count()
    assert partial < total, (
        f"wave 1 should be partial: saw {partial} of {total}"
    )
    # the recovery proof: wave 1 is GONE before the restart
    for f in os.listdir(land):
        os.remove(os.path.join(land, f))
    land_files(wave2)
    run_wave()
    return spark.read.parquet(out)


@query(
    "streaming_stateful_recovery",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
             AS value_micro_sum
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM-STATE checkpoint recovery: the applyInPandasWithState
    per-user running totals (streaming_stateful_user_totals) survive a
    query restart. Wave 1 (even event_ids) runs under a
    checkpointLocation and is REMOVED from the landing dir; wave 2
    (odd ids) lands and a brand-new query object restarts from the same
    checkpoint. Users in both waves emit wave-2 rows whose totals
    include wave-1 events that no longer exist anywhere but the
    recovered STATE STORE — so the latest emission per user equals the
    full batch GROUP BY, which is exactly what the oracle checks (the
    windowed-count sibling streaming_checkpoint_recovery proves the
    built-in agg state; this proves the arbitrary-state handle used by
    custom operators, the reference's tempfail re-run contract for
    stateful stages — tests/test_tempfail.py).

    Update-mode emissions append with their checkpoint batch id (ids
    continue across restarts); the result takes each user's latest
    emission — the same pick-latest upsert a real foreachBatch sink
    performs against a keyed table. Scale: state is one (n, micro) pair
    per user; the restart cost is the state-store load per partition."""
    import shutil

    from disco_spark.session import scratch_dir

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "user_id", "value"
    )
    # restart semantics need a FRESH checkpoint per invocation: wipe the
    # per-(operator, dataset) scratch root (self-cleaning convention)
    stage = scratch_dir("stateful_recovery", sf_dir)
    shutil.rmtree(stage)
    land = os.path.join(stage, "landing")
    ckpt = os.path.join(stage, "checkpoint")
    out = os.path.join(stage, "result")
    wave1 = os.path.join(stage, "wave1")
    wave2 = os.path.join(stage, "wave2")
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(wave1)
    ev.filter(F.col("event_id") % 2 == 1).write.parquet(wave2)
    schema = ev.schema

    def run_wave() -> None:
        stream = spark.readStream.schema(schema).parquet(land)
        totals = stateful_user_totals(stream)
        q = (
            totals.writeStream.foreachBatch(
                lambda df, epoch: df.withColumn("epoch", F.lit(epoch))
                .write.mode("append")
                .parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def land_files(src: str) -> None:
        for f in os.listdir(src):
            if f.startswith("part-"):
                shutil.copy(os.path.join(src, f), os.path.join(land, f))

    os.makedirs(land)
    land_files(wave1)
    run_wave()
    wave1_users = spark.read.parquet(out).select("user_id").distinct().count()
    # the recovery proof: wave 1's files are GONE before the restart —
    # only the checkpointed state store remembers them
    for f in os.listdir(land):
        os.remove(os.path.join(land, f))
    land_files(wave2)
    run_wave()
    emitted = spark.read.parquet(out)
    assert emitted.select("epoch").distinct().count() > 1, (
        "restart should emit under a later checkpoint batch id"
    )
    assert wave1_users > 0, "wave 1 should have emitted state"
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("epoch").desc())
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "value_micro_sum")
    )
