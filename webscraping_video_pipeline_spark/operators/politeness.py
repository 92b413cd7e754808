"""P1 — deterministic per-host politeness scheduler (SURVEY.md §2.9 P1).

Reference semantic preserved: per-source fixed request delays enforced by
sleeping (global 1.0s lock ``parallel_scraper_manager.py:87-97``; per-scraper
delays 0.5-3.6s ``config.py:15-72``, ``nasa_scraper.py:41``,
``coverr_scraper.py:47``, ``noaa_scraper.py:50``; page sleep
``base_scraper.py:102``). The engine never sleeps: each admitted URL gets a
computed fetch slot, so crawl order is a pure function of
(frontier, policy, round) — the north_rule's exact-ordering requirement.

Semantics per round, per host ``h`` with policy ``(crawl_delay_s, capacity)``:

- candidates are ranked by ``(priority DESC, url_hash ASC)`` — the total
  tiebreak makes ordering reproducible across partitionings/retries;
- the top ``capacity`` candidates are admitted (token bucket: one bucket of
  ``capacity`` tokens per round);
- the i-th admitted URL (0-based) is scheduled at
  ``round_start + i * crawl_delay_s`` — the computed analog of the
  reference's inter-request sleep.

Scale note: the per-host window is the only per-host shuffle; mega-hosts are
pre-thinned with the salted two-phase top-k in ``frontier.per_host_top_k`` so
no single task ever ranks a mega-host's full candidate list.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .frontier import per_host_top_k

def _order_cols():
    return (F.col("priority").desc(), F.col("url_hash").asc())


def politeness_order() -> list[Column]:
    """The engine-wide deterministic candidate order (priority desc, hash asc)."""
    return list(_order_cols())


def max_bucket_capacity(host_policy: DataFrame, default_capacity: int = 4) -> int:
    """One-time driver-side scan of the (static, small) policy dim for the
    top-k thinning bound. Call once at engine init and pass the result to
    :func:`schedule_round` — never per round (it is a plan-blocking Spark
    job in the hot loop otherwise)."""
    caps = host_policy.agg(F.max("bucket_capacity")).collect()[0][0]
    return default_capacity if caps is None else max(default_capacity, int(caps))


def schedule_round(
    candidates: DataFrame,
    host_policy: DataFrame,
    round_start_ts: str | Column,
    default_delay_s: float = 1.0,
    default_capacity: int = 4,
    salts: int = 16,
    max_capacity: int | None = None,
) -> DataFrame:
    """Admit + slot one round of fetches.

    ``candidates``  — columns (canon_url, url_hash, host, priority, ...);
                      ``url_hash`` must be unique (callers schedule the
                      post-dedupe frontier — every engine path does).
    ``host_policy`` — columns (host, crawl_delay_s, bucket_capacity); small
                      dim table, broadcast (reference J4/J3 registry lookup).
    ``max_capacity`` — precomputed :func:`max_bucket_capacity`; when None it
                      is computed here (convenience for one-shot callers —
                      loops should hoist it).

    Returns admitted rows with (slot INT, scheduled_ts TIMESTAMP,
    crawl_delay_s DOUBLE) added.
    """
    ts = F.lit(round_start_ts).cast("timestamp") if isinstance(round_start_ts, str) else round_start_ts

    policy = host_policy.select(
        "host",
        F.col("crawl_delay_s").alias("_delay"),
        F.col("bucket_capacity").alias("_cap"),
    )
    with_policy = candidates.join(F.broadcast(policy), "host", "left").withColumns(
        {
            # nanvl: a NaN delay means "not specified" exactly like null
            # (pandas-built policy tables coerce None -> NaN; without the
            # guard NaN survives coalesce and the scheduled_ts cast throws
            # under ANSI — or silently casts to 0 with ANSI off)
            "_delay": F.coalesce(
                F.nanvl(F.col("_delay"), F.lit(None).cast("double")),
                F.lit(default_delay_s),
            ),
            "_cap": F.coalesce(F.col("_cap"), F.lit(default_capacity)),
        }
    )

    # mega-host skew: salted pre-thin keeps ≤ salts*max_cap rows per host
    # before the exact per-host ranking (two-phase top-k, semantics exact).
    max_cap = (
        max_capacity
        if max_capacity is not None
        else max_bucket_capacity(host_policy, default_capacity)
    )
    thinned = per_host_top_k(with_policy, k=max_cap, salts=salts)

    w = Window.partitionBy("host").orderBy(*_order_cols())
    return (
        thinned.withColumn("slot", F.row_number().over(w) - F.lit(1))
        .filter(F.col("slot") < F.col("_cap"))
        .withColumn(
            "scheduled_ts",
            F.timestamp_micros(
                F.unix_micros(ts)
                + (F.col("slot").cast("long") * (F.col("_delay") * 1_000_000).cast("long"))
            ),
        )
        .withColumnRenamed("_delay", "crawl_delay_s")
        .drop("_cap")
    )
