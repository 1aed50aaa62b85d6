"""Streaming event operators (SURVEY §2.10 [EXT]).

The reference has no streaming at all; these are the Structured
Streaming forms of the batch operators in ``operators.events_ops`` —
the *same* ``F.window`` expression runs in both modes, which is what
lets the DuckDB oracle validate the batch twin while pytest asserts
stream ≡ batch.

Watermarks bound state: at scale the hourly agg keeps only windows
younger than the watermark; late events beyond it are dropped
(documented, test-asserted behavior).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparketl.io import normalize_events_ts, read_parquet, table_path


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events fixture (parquet-file source stands
    in for Kafka; the transformations are source-agnostic).

    The file source requires a *directory*; the fixture is a single
    file, so it is staged (copied once) into a temp dir.
    """
    src_file = table_path(sf_dir, "events")
    stage = os.path.join(
        tempfile.gettempdir(), f"sparketl-stream-{hashlib.md5(src_file.encode()).hexdigest()[:8]}"
    )
    staged = os.path.join(stage, "events.parquet")
    if not os.path.exists(staged):
        os.makedirs(stage, exist_ok=True)
        shutil.copyfile(src_file, staged + ".tmp")
        os.replace(staged + ".tmp", staged)
    stream = (
        spark.readStream.schema(read_parquet(spark, staged).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return normalize_events_ts(stream)


def streaming_hourly_agg(
    events: DataFrame, watermark: str = "2 hours", width: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window aggregate (same expression as the
    batch ``tumbling_window_agg``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_sliding_agg(
    events: DataFrame,
    watermark: str = "2 hours",
    width: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    """Watermarked HOPPING-window aggregate — each event lands in
    width/slide overlapping windows (2 here), the streaming twin of the
    batch ``events_ops.hopping_window_agg``.

    State story at scale: overlap multiplies open-window state by
    width/slide, but the watermark still closes every window slide-width
    behind the event-time frontier, so state is (windows per slide ×
    overlap × group cardinality) — bounded regardless of stream length.
    The oracle expands each event into its two epoch-aligned window
    starts (bucket, bucket - slide) and re-aggregates; Spark's
    ``F.window(ts, width, slide)`` is epoch-aligned the same way, so the
    finite-stream complete-mode result matches it exactly.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: first occurrence per key wins, duplicate
    re-deliveries within the watermark horizon are dropped.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes it, so state size tracks the dedup horizon (the
    at-least-once redelivery window), not the whole stream history —
    the standard exactly-once-ification of an at-least-once source. The
    batch twin is ``dropDuplicates`` on the same keys (EXT-01 exact
    dedup); pytest asserts stream ≡ batch on the fixture."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def streaming_enrich(
    events: DataFrame, dim: DataFrame, on: str = "user_id"
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the event
    stream joins against a static dimension snapshot — the standard
    "attach user/account attributes on the way in" ingest step.

    Spark plans the static side as a broadcast per micro-batch (no
    stream-side state at all, unlike stream-stream joins): at 100 TB/day
    of events and an MB-to-GB dimension, this is stateless, scales with
    the stream, and a dimension refresh is just restarting the query
    against the new snapshot. The batch twin is the identical join
    expression on the batch frame; pytest asserts stream ≡ batch."""
    return events.join(F.broadcast(dim), on, "left").select(
        "event_id",
        on,
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        dim["grp"].alias("user_grp"),
    )


def streaming_view_purchase_join(
    views: DataFrame,
    purchases: DataFrame,
    horizon_s: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each purchase pairs with the same
    user's view events from the preceding ``horizon_s`` seconds — the
    conversion-attribution join, with BOTH sides unbounded.

    Both streams carry watermarks and the join condition bounds the
    event-time distance, so Spark can expire buffered state: a view is
    held only until the watermark guarantees no in-horizon purchase
    can still arrive (state ∝ rate × horizon, not stream history).
    This is the canonical scalable formulation — an unbounded-range
    stream-stream join would accumulate state forever. The batch twin
    is the identical join expression on the batch frame (pytest
    asserts stream ≡ batch on the finite fixture).
    """
    v = (
        views.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    p = (
        purchases.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon_s} SECONDS")),
    )
    return joined.select(
        "purchase_id",
        "view_id",
        F.col("p_user").alias("user_id"),
        F.unix_micros("v_ts").alias("view_ts_us"),
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        "amount",
    )


def streaming_view_purchase_left_join(
    events: DataFrame,
    horizon_s: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every view pairs with
    the same user's purchases in the following ``horizon_s`` seconds,
    and views that convert to NOTHING are still emitted (null purchase
    columns) once the watermark proves no in-horizon purchase can
    still arrive — the shape attribution pipelines need (inner joins
    silently drop the non-converting majority).

    This exercises Spark's OUTER-join state eviction: a buffered view
    is held until ``watermark > v_ts + horizon``, then either its
    matches or its null row are final. The watermark is applied BEFORE
    the event-type filters, so any event on the stream (including a
    terminal flush record) advances it — with a filtered-side
    watermark the unmatched tail would never close on a finite
    fixture. State ∝ rate × horizon on both sides, as in the inner
    variant (``streaming_view_purchase_join``); the batch twin is the
    identical LEFT join expression (pytest asserts stream ≡ batch).
    """
    wm = events.withWatermark("ts", watermark)
    v = wm.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    p = wm.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("amount"),
    )
    joined = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (
            F.col("p_ts")
            <= F.col("v_ts") + F.expr(f"INTERVAL {horizon_s} SECONDS")
        ),
        "leftOuter",
    )
    return joined.select(
        "view_id",
        F.col("v_user").alias("user_id"),
        F.unix_micros("v_ts").alias("view_ts_us"),
        "purchase_id",
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        "amount",
    )


def streaming_view_purchase_full_join(
    events: DataFrame,
    horizon_s: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream FULL OUTER interval join (r10): every view pairs
    with the same user's purchases in the following ``horizon_s``
    seconds, AND both unmatched sides surface — views that never
    convert (null purchase columns) and orphan purchases with no
    preceding in-horizon view (null view columns) — completing the
    inner (r7) / LEFT OUTER (ext_103) family.

    This exercises state eviction on BOTH sides of the join: a
    buffered view finalizes (matches or null row) once
    ``watermark > v_ts + horizon``, and a buffered purchase finalizes
    once ``watermark > p_ts`` — each side's unmatched output is only
    ever emitted on watermark close, never speculatively. As in the
    LEFT variant, the watermark is applied BEFORE the event-type
    filters so any stream event (including a terminal flush record)
    advances it. State ∝ rate × horizon on both sides; the batch twin
    is the identical FULL join expression (pytest asserts stream ≡
    batch)."""
    wm = events.withWatermark("ts", watermark)
    v = wm.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    p = wm.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("amount"),
    )
    joined = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (
            F.col("p_ts")
            <= F.col("v_ts") + F.expr(f"INTERVAL {horizon_s} SECONDS")
        ),
        "fullOuter",
    )
    return joined.select(
        "view_id",
        F.coalesce("v_user", "p_user").alias("user_id"),
        F.unix_micros("v_ts").alias("view_ts_us"),
        "purchase_id",
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        "amount",
    )


def run_stream_static_enrich(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> DataFrame:
    """Drive the stream-static enrichment end-to-end over the staged
    multi-batch fixture: the event stream inner-joins the STATIC
    customer dimension (broadcast per micro-batch, zero streaming
    state), and the materialized rows aggregate into per-nation event
    counts + exact cents. Stateless join ⇒ the kept set is chunking-
    independent and equals the batch join — full SQL oracle, no flush
    tricks needed (contrast ext_134's stateful sessionizer)."""
    from sparketl.io import load_table
    from sparketl.streaming.stateful import drive, staged_events

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey")
    )
    with staged_events(spark, sf_dir, n_chunks) as stream:
        joined = stream.join(
            F.broadcast(cust), stream["user_id"] == cust["c_custkey"]
        ).select(
            "event_id",
            "c_nationkey",
            F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
                "cents"
            ),
        )
        return (
            drive(joined)
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").alias("total_cents"),
            )
            .orderBy("c_nationkey")
        )
