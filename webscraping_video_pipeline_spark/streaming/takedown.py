"""Streaming twin of contract q190 (takedown / opt-out purge ledger):
fetch records arrive as parquet micro-batches and the per-rule purge
accounting accumulates batch over batch, so compliance can answer "what
would this opt-out list remove right now?" while the crawl is still
running — without rescanning the corpus when a report is due.

State discipline: each batch broadcast-joins ONLY its own rows against
the rule list (the q190 plan shape — host equi-key first, codegen
starts_with inside matched rows) and appends the matched slice as
per-batch delta rows (rule, url, d_fetches, d_bytes), pre-aggregated
per URL within the batch. Fetch and byte tallies are pure SUMS and the
distinct-URL census is a COUNT(DISTINCT) over the union of deltas — both
order-independent, so stream ≡ batch holds for ANY file landing order.
The state is the PURGED SLICE only (rules are selective by
construction), not the corpus. The ``streaming/commit.py`` ledger keeps
a replayed batch from double-counting
(``tests/test_streaming_takedown.py`` pins stream ≡ batch, out-of-order
equivalence, and replay idempotence).

Reference semantic: the reference applies its allow-list once, at fetch
time (/root/reference/config.py source registry); a retained corpus
must keep honoring NEW removal requests as data keeps landing — this is
that ledger kept live.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..contract.monitor import _TD_HOSTS, _TD_PATHS, _TD_PATTERNS
from .commit import run_ledger

# Mirrors the driver testdata `events` table.
EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def _batch_delta(spark: SparkSession, batch_df: DataFrame) -> DataFrame:
    """The batch's matched (rule, url) slice — q190's exact synthesis and
    match plan, pre-aggregated per URL within the batch."""
    hid = F.col("event_id") % _TD_HOSTS
    host = F.concat(F.lit("h"), hid.cast("string"))
    c = batch_df.select(
        host.alias("host"),
        F.concat(
            host, F.lit("/p"), (F.col("event_id") % _TD_PATHS).cast("string")
        ).alias("url"),
        (100 + F.col("event_id") % 900).cast("long").alias("n_bytes"),
    )
    pat = spark.createDataFrame(
        [(h, p) for h, p in _TD_PATTERNS], "p_host string, p_prefix string"
    )
    m = c.join(F.broadcast(pat), c.host == pat.p_host).filter(
        F.col("p_prefix").isNull()
        | F.col("url").startswith(F.concat(F.col("p_host"), F.col("p_prefix")))
    )
    return m.groupBy(
        "p_host",
        F.coalesce("p_prefix", F.lit("<entire host>")).alias("p_prefix"),
        "url",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("d_fetches"),
        F.sum("n_bytes").cast("long").alias("d_bytes"),
    )


def stream_takedown(spark: SparkSession, events_dir: str, workdir: str) -> None:
    """Drain all available fetch-record files (trigger availableNow),
    each micro-batch appending its matched-slice delta partition.
    Restartable and idempotent."""
    run_ledger(
        spark.readStream.schema(EVENTS).parquet(events_dir),
        f"{workdir}/ckpt",
        [f"{workdir}/takedown_state"],
        lambda batch_df, k: [_batch_delta(spark, batch_df)],
    )


def takedown_ledger(spark: SparkSession, workdir: str) -> DataFrame:
    """The compliance ledger from the accumulated state — q190's exact
    output shape, computed from the purged-slice delta rows only."""
    s = spark.read.parquet(f"{workdir}/takedown_state")
    return s.groupBy("p_host", "p_prefix").agg(
        F.sum("d_fetches").cast("long").alias("n_fetches_purged"),
        F.countDistinct("url").cast("long").alias("n_urls_purged"),
        F.sum("d_bytes").cast("long").alias("bytes_purged"),
    )
