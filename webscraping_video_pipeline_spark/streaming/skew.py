"""Streaming twin of contract q193 (partition-skew audit): fetch records
arrive as parquet micro-batches and the per-(strategy, partition) load
counters accumulate batch over batch — the LIVE skew monitor a frontier
consults as the crawl keeps discovering new mega-hosts, instead of
re-scanning the corpus each time a layout decision is due. (Skew is not
static: a crawl that admits one viral domain can turn a level layout
into a stragglered one mid-run — q183/q182 reprioritize WHAT to fetch;
this watches WHERE it will land.)

State discipline: pure additive counters — each batch appends its own
(strategy, part, d_load) delta partition (at most 3 x 32 skinny rows per
batch, pre-aggregated map-side), so stream ≡ batch holds for ANY file
landing order. The audit table is a rollup over the delta union applying
q193's exact integer arithmetic, so the streaming verdicts are
bit-identical to the batch query's. The ``streaming/commit.py`` ledger
keeps a replayed batch from double-counting
(``tests/test_streaming_skew.py`` pins stream ≡ batch, out-of-order
equivalence, and replay idempotence).

Reference semantic: none — a single-process scraper has no partitions;
a long-running cluster frontier re-checks its layout as the host mix
drifts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..contract.monitor import (
    _SKEW_HOSTS,
    _SKEW_MEGA_MOD,
    _SKEW_MULT,
    _SKEW_PARTS,
    _SKEW_SALTS,
)
from .commit import run_ledger
from .takedown import EVENTS


def _batch_delta(batch_df: DataFrame) -> DataFrame:
    """Per-(strategy, partition) load counters for one micro-batch —
    q193's exact synthesis and strategy arithmetic."""
    hid = F.when(F.col("event_id") % _SKEW_MEGA_MOD < 2, 0).otherwise(
        F.col("event_id") % _SKEW_HOSTS
    )
    u = batch_df.select(F.col("event_id"), hid.cast("long").alias("hid"))
    x = u.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("host").alias("strategy"),
                    (F.col("hid") % _SKEW_PARTS).alias("part"),
                ),
                F.struct(
                    F.lit("host_salted").alias("strategy"),
                    (
                        (F.col("hid") * _SKEW_SALTS + F.col("event_id") % _SKEW_SALTS)
                        % _SKEW_PARTS
                    ).alias("part"),
                ),
                F.struct(
                    F.lit("url_hash").alias("strategy"),
                    F.expr(
                        f"((event_id * {_SKEW_MULT}) % 2147483648) % {_SKEW_PARTS}"
                    ).alias("part"),
                ),
            )
        ).alias("sp")
    ).select(F.col("sp.strategy").alias("strategy"), F.col("sp.part").alias("part"))
    return x.groupBy("strategy", "part").agg(
        F.count(F.lit(1)).cast("long").alias("d_load")
    )


def stream_skew(spark: SparkSession, events_dir: str, workdir: str) -> None:
    """Drain all available fetch-record files (trigger availableNow),
    each micro-batch appending its counter delta partition. Restartable
    and idempotent."""
    run_ledger(
        spark.readStream.schema(EVENTS).parquet(events_dir),
        f"{workdir}/ckpt",
        [f"{workdir}/skew_state"],
        lambda batch_df, k: [_batch_delta(batch_df)],
    )


def skew_audit(spark: SparkSession, workdir: str) -> DataFrame:
    """The audit table from the accumulated state — q193's exact output
    shape and arithmetic, computed from O(strategies x partitions x
    batches) delta rows."""
    s = spark.read.parquet(f"{workdir}/skew_state")
    loads = s.groupBy("strategy", "part").agg(
        F.sum("d_load").cast("long").alias("load")
    )
    imb = F.expr(f"(1000 * max(load) * {_SKEW_PARTS}) div sum(load)")
    return loads.groupBy("strategy").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts_used"),
        F.sum("load").cast("long").alias("total_rows"),
        F.max("load").cast("long").alias("max_load"),
        imb.alias("imbalance_permille"),
        (imb > 2000).alias("is_skewed"),
    )
