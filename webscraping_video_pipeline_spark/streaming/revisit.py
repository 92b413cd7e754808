"""Streaming twin of contract q82 (freshness-driven re-visit
scheduling): fetch observations arrive as parquet micro-batches and the
per-URL change-rate state accumulates batch over batch, so the frontier
can ask "what is due for re-crawl?" at any point without rescanning the
full fetch log.

State: APPEND-ONLY per-batch DELTA rows (url_id, d_fetches, d_changes,
last_ts, last_value), one ``batch_id`` partition per batch under the
``streaming/commit.py`` ledger. The current schedule is a rollup over
the delta partitions (sum counters, argmax-ts tail), O(urls) rows.

Cross-batch change counting: within a batch, changes are counted by the
same (ts, event_id)-ordered lag as batch q82; at the batch BOUNDARY the
previous batch's last observed value (from the accumulated state, taken
at the max (batch_id, ts, event_id)) plays the role of lag(value), so
when files land in timestamp order the final schedule is row-identical
to running q82 over the concatenated log
(``tests/test_streaming_revisit.py`` pins stream ≡ batch and replay
idempotence). Out-of-order arrivals are the watermark story of
``streaming/windows.py`` — a production feed would bound disorder with
``withWatermark`` and route stragglers to a quarantine table, same as
the crawl's late-page path.

Reference semantic: the reference re-scrapes every source every run
(parallel_scraper_manager.py:140-178); this is the incremental
re-crawl scheduler that replaces that loop at web scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .commit import has_batches, run_ledger

# Mirrors the driver testdata `events` table (fetch-observation source).
EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

N_URLS_MOD = 200  # q82's url_id = user_id % 200 derivation


def _batch_delta(batch_df: DataFrame, prev_tail: DataFrame | None) -> DataFrame:
    """Per-URL delta rows for one micro-batch: fetch/change counts within
    the batch (ts, event_id ordered) plus the boundary change against the
    accumulated state's last observed value."""
    e = batch_df.select(
        (F.col("user_id") % N_URLS_MOD).alias("url_id"), "ts", "event_id", "value"
    )
    w = Window.partitionBy("url_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ch = e.withColumn("prev", F.lag("value").over(w))
    per = ch.groupBy("url_id").agg(
        F.count(F.lit(1)).alias("d_fetches"),
        F.sum(
            (F.col("prev").isNotNull() & (F.col("value") != F.col("prev"))).cast("long")
        ).alias("in_batch_changes"),
        F.min_by(F.col("value"), F.struct("ts", "event_id")).alias("first_value"),
        F.max_by(F.col("value"), F.struct("ts", "event_id")).alias("last_value"),
        F.max(F.struct("ts", "event_id")).alias("tail"),
    )
    if prev_tail is not None:
        per = per.join(
            prev_tail.select("url_id", F.col("last_value").alias("carry_value")),
            "url_id",
            "left",
        )
    else:
        per = per.withColumn("carry_value", F.lit(None).cast("double"))
    boundary = (
        F.col("carry_value").isNotNull() & (F.col("first_value") != F.col("carry_value"))
    ).cast("long")
    return per.select(
        "url_id",
        "d_fetches",
        (F.col("in_batch_changes") + boundary).alias("d_changes"),
        F.col("tail.ts").alias("last_ts"),
        F.col("tail.event_id").alias("last_event_id"),
        "last_value",
    )


def _state_tail(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Latest (url_id, last_value) across all committed delta partitions —
    the value that plays lag() at the next batch boundary."""
    if not has_batches(state_dir):
        return None
    s = spark.read.parquet(state_dir)
    pick = F.max(
        F.struct("batch_id", "last_ts", "last_event_id", "last_value")
    ).alias("m")
    return s.groupBy("url_id").agg(pick).select(
        "url_id", F.col("m.last_value").alias("last_value")
    )


def stream_revisit_state(spark: SparkSession, events_dir: str, workdir: str) -> None:
    """Drain all available fetch-observation files (trigger availableNow),
    each micro-batch appending its per-URL delta partition. Restartable
    and idempotent: counters are never double-applied."""
    state_dir = f"{workdir}/revisit_state"
    run_ledger(
        spark.readStream.schema(EVENTS).parquet(events_dir),
        f"{workdir}/ckpt",
        [state_dir],
        lambda batch_df, k: [_batch_delta(batch_df, _state_tail(spark, state_dir))],
    )


def revisit_schedule(spark: SparkSession, workdir: str) -> DataFrame:
    """The due list from the accumulated state — q82's exact output shape
    and formula (change_rate x staleness, due at > 8 fetch-equivalents),
    computed from O(urls) delta rows instead of the full fetch log."""
    s = spark.read.parquet(f"{workdir}/revisit_state")
    per = s.groupBy("url_id").agg(
        F.sum("d_fetches").alias("n_fetches"),
        F.sum("d_changes").alias("n_changes"),
        F.max(F.struct("batch_id", "last_ts", "last_event_id")).alias("m"),
    )
    hor = per.agg(F.max(F.col("m.last_ts")).alias("horizon"))
    stale = F.unix_timestamp("horizon") - F.unix_timestamp(F.col("m.last_ts"))
    rate = F.when(
        F.col("n_fetches") > 1,
        F.col("n_changes").cast("double") / (F.col("n_fetches") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    pri = rate * (stale.cast("double") / F.lit(3600.0))
    return per.crossJoin(F.broadcast(hor)).select(
        "url_id",
        "n_fetches",
        "n_changes",
        F.date_format(F.col("m.last_ts"), "yyyy-MM-dd HH:mm:ss").alias("last_fetch"),
        stale.cast("long").alias("staleness_s"),
        rate.alias("change_rate"),
        pri.alias("revisit_priority"),
        (pri > 8.0).alias("due"),
    )
