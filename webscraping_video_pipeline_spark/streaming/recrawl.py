"""Streaming twin of contract q182 (Cho-GM recrawl-priority
scheduling): fetch observations arrive as parquet micro-batches, the
per-URL change statistics accumulate batch over batch, and the cycle
scheduler can allocate fetch slots at any point without rescanning the
full fetch log — the shape a production scheduler actually runs in,
where the fetch log only ever grows.

State mirrors ``streaming/revisit.py``: APPEND-ONLY per-batch DELTA
rows (url_id, d_fetches, d_changes, first_ts, last_ts, last_event_id,
last_sk), one ``batch_id`` partition per batch under the
``streaming/commit.py`` ledger. The change counter uses q182's content sketch (floor(value) mod 2 — the
coarse per-fetch digest); within a batch, transitions are counted by
the same (ts, event_id)-ordered lag as batch q182, and at the batch
BOUNDARY the accumulated state's last sketch plays the role of
lag(sk), so when files land in (ts, event_id)-rank order the final
schedule is row-identical to batch q182 over the concatenated log
(``tests/test_streaming_recrawl.py`` pins stream ≡ batch and replay
idempotence).

The schedule itself — gain = OPIC importance x change risk, the
sharded-ordinal rank, the budget head — is literally q182's code:
``contract.graph.recrawl_rank`` consumes the state rollup here and the
full-log window there, so the twins cannot drift.

Reference semantic: the reference re-scrapes every source every run
(parallel_scraper_manager.py:140-178) with hard-coded priorities
(config.py:15-72); this is the incremental scheduler loop that
replaces both at web scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .commit import has_batches, run_ledger
from .revisit import EVENTS, N_URLS_MOD


def _batch_delta(batch_df: DataFrame, prev_tail: DataFrame | None) -> DataFrame:
    """Per-URL delta rows for one micro-batch: fetch count, sketch
    transitions within the batch ((ts, event_id) ordered) plus the
    boundary transition against the accumulated state's last sketch,
    and the batch-local first/last timestamps."""
    e = batch_df.select(
        (F.col("user_id") % N_URLS_MOD).alias("url_id"),
        "ts",
        "event_id",
        (F.floor("value").cast("long") % 2).alias("sk"),
    )
    w = Window.partitionBy("url_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ch = e.withColumn("prev", F.lag("sk").over(w))
    per = ch.groupBy("url_id").agg(
        F.count(F.lit(1)).cast("long").alias("d_fetches"),
        F.sum(
            (F.col("prev").isNotNull() & (F.col("sk") != F.col("prev"))).cast("long")
        ).alias("in_batch_changes"),
        F.min_by(F.col("sk"), F.struct("ts", "event_id")).alias("first_sk"),
        F.max_by(F.col("sk"), F.struct("ts", "event_id")).alias("last_sk"),
        F.min("ts").alias("first_ts"),
        F.max(F.struct("ts", "event_id")).alias("tail"),
    )
    if prev_tail is not None:
        per = per.join(
            prev_tail.select("url_id", F.col("last_sk").alias("carry_sk")),
            "url_id",
            "left",
        )
    else:
        per = per.withColumn("carry_sk", F.lit(None).cast("long"))
    boundary = (
        F.col("carry_sk").isNotNull() & (F.col("first_sk") != F.col("carry_sk"))
    ).cast("long")
    return per.select(
        "url_id",
        "d_fetches",
        (F.col("in_batch_changes") + boundary).alias("d_changes"),
        "first_ts",
        F.col("tail.ts").alias("last_ts"),
        F.col("tail.event_id").alias("last_event_id"),
        "last_sk",
    )


def _state_tail(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Latest (url_id, last_sk) across all committed delta partitions —
    the sketch that plays lag() at the next batch boundary."""
    if not has_batches(state_dir):
        return None
    s = spark.read.parquet(state_dir)
    pick = F.max(F.struct("batch_id", "last_ts", "last_event_id", "last_sk")).alias(
        "m"
    )
    return s.groupBy("url_id").agg(pick).select(
        "url_id", F.col("m.last_sk").alias("last_sk")
    )


def stream_recrawl_state(spark: SparkSession, events_dir: str, workdir: str) -> None:
    """Drain all available fetch-observation files (trigger availableNow),
    each micro-batch appending its per-URL delta partition. Restartable
    and idempotent: counters are never double-applied."""
    state_dir = f"{workdir}/recrawl_state"
    run_ledger(
        spark.readStream.schema(EVENTS).parquet(events_dir),
        f"{workdir}/ckpt",
        [state_dir],
        lambda batch_df, k: [_batch_delta(batch_df, _state_tail(spark, state_dir))],
    )


def recrawl_schedule(spark: SparkSession, workdir: str, sf_dir: str) -> DataFrame:
    """The cycle's fetch-slot allocation from the accumulated state —
    q182's exact output shape, columns, and rank, computed from
    O(urls x batches) delta rows instead of the full fetch log. The
    importance side (q122 OPIC over the link graph) is recomputed from
    sf_dir; in production it is the standing importance table the
    crawler maintains anyway."""
    from ..contract.graph import q122_opic_importance, recrawl_rank

    s = spark.read.parquet(f"{workdir}/recrawl_state")
    per = s.groupBy("url_id").agg(
        F.sum("d_fetches").cast("long").alias("n_fetches"),
        F.sum("d_changes").cast("long").alias("n_changes"),
        F.min("first_ts").alias("first_ts"),
        F.max(F.struct("batch_id", "last_ts", "last_event_id")).alias("m"),
    ).select(
        "url_id", "n_fetches", "n_changes", "first_ts", F.col("m.last_ts").alias(
            "last_ts"
        )
    )
    hor = per.agg(F.max("last_ts").alias("horizon"))
    imp = q122_opic_importance(spark, sf_dir).select(
        "doc_id", F.expr("importance_pico div 1000000").alias("importance_micro")
    )
    return recrawl_rank(imp, per, hor)
