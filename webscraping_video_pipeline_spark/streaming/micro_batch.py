"""Streaming frontier ingestion: readStream + foreachBatch, micro-batch =
crawl round (SURVEY §2.10 row 1).

Reference semantic preserved: results are processed as they arrive off the
scraper queue while producers still run
(``parallel_scraper_manager.py:356-411``); here newly discovered seed
files land in a directory, Structured Streaming picks them up, and each
micro-batch runs the scheduling front half of a crawl round — canonicalize
-> dedupe against the accumulated seen set -> politeness slots — appending
its decisions to ``scheduled_log`` and its URLs to the cross-batch seen
state. The batch round loop (``plans/crawl.py``) stays the reproducibility
reference; this is the low-latency ingestion twin built on the same
operators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import dedupe_against_seen
from ..operators.politeness import schedule_round
from ..plans.crawl import BASE_ROUND_TS, canonicalize_candidates
from ..schemas import SEEDS
from .commit import has_batches, run_ledger


def stream_frontier_rounds(
    spark: SparkSession,
    seeds_dir: str,
    workdir: str,
    host_policy: DataFrame,
    round_interval_s: int = 3600,
    salts: int = 4,
) -> None:
    """Drain all available seed files (trigger availableNow) through
    per-micro-batch scheduling rounds. Restartable AND idempotent through
    the ``streaming/commit.py`` ledger: ``scheduled_log`` is written
    first and the ``seen`` delta last (it holds the marker), so the
    no-URL-scheduled-twice invariant survives crash/restart."""
    seen_dir = f"{workdir}/seen"

    def delta_fn(batch_df: DataFrame, k: int):
        cands = canonicalize_candidates(batch_df, "url").withColumn(
            "priority", F.coalesce(F.col("priority"), F.lit(0.0))
        )
        seen = spark.read.parquet(seen_dir) if has_batches(seen_dir) else None
        fresh = dedupe_against_seen(cands, seen, None)
        round_ts = F.lit(BASE_ROUND_TS).cast("timestamp") + F.make_interval(
            secs=F.lit(k * round_interval_s)
        )
        sched = schedule_round(fresh, host_policy, round_ts, salts=salts)
        yield sched.select("canon_url", "url_hash", "host", "slot", "scheduled_ts")
        yield sched.select(
            "url_hash", "canon_url", F.lit(k).cast("int").alias("seen_round")
        )

    run_ledger(
        spark.readStream.schema(SEEDS).parquet(seeds_dir),
        f"{workdir}/ckpt",
        [f"{workdir}/scheduled_log", seen_dir],
        delta_fn,
    )


def _latest_partition(base: str, below: int) -> str | None:
    """Largest committed ``batch_id=<k>`` partition dir with k < below."""
    if not os.path.isdir(base):
        return None
    ks = [
        int(n.split("=", 1)[1])
        for n in os.listdir(base)
        if n.startswith("batch_id=") and os.listdir(f"{base}/{n}")
    ]
    ks = [k for k in ks if k < below]
    return f"{base}/batch_id={max(ks)}" if ks else None


def stream_crawl_rounds(
    spark: SparkSession,
    seeds_dir: str,
    workdir: str,
    pages: DataFrame,
    host_policy: DataFrame,
    robots_cache: DataFrame | None = None,
    round_interval_s: int = 3600,
    salts: int = 4,
    max_attempts: int = 3,
    default_delay_s: float = 1.0,
    default_capacity: int = 4,
    discover_outlinks: bool = False,
) -> None:
    """The FULL crawl round as a streaming micro-batch — the low-latency
    twin of ``plans/crawl.py::CrawlEngine.run_round`` including the retry /
    circuit-breaker bookkeeping the schedule-only twin above omits:

    micro-batch k = canonicalize new seeds ∪ due pending rows -> dedupe
    against seen -> politeness slots -> fetch against ``pages`` -> fetch_log;
    misses back off exponentially (``next_attempt_batch = k + 2**attempts``)
    and strike out at ``max_attempts`` (reference
    ``parallel_scraper_manager.py:171-178``, ``cloud_storage.py:159-208``),
    exactly as the batch round loop computes them — so the streamed
    fetch_log is row-identical to the batch engine's on the same input
    (asserted by ``tests/test_streaming.py``).

    State across batches (sinks of the ``streaming/commit.py`` ledger, in
    write order; ``seen`` is LAST and holds the marker):

    - ``fetch_log`` / ``scheduled_log`` — per-batch appends
    - ``pending``   — SNAPSHOT per batch of the live frontier (not-admitted
                      survivors + deferred + retryable); an empty frontier
                      still leaves its partition, so a later batch never
                      resurrects an older snapshot
    - ``seen``      — append-only delta per batch (fetched + struck-out)

    ``pages`` is the caller's ``prepare_pages()`` output.
    """
    seen_dir = f"{workdir}/seen"
    pending_dir = f"{workdir}/pending"
    max_cap = None  # resolved lazily once, outside the per-batch hot path

    pend_cols = [
        "url", "canon_url", "url_hash", "host", "priority",
        "attempts", "next_attempt_batch",
    ]

    def delta_fn(batch_df: DataFrame, bid: int):
        nonlocal max_cap
        from ..operators.frontier import fetch_join
        from ..operators.politeness import max_bucket_capacity

        if max_cap is None:
            max_cap = max_bucket_capacity(host_policy, default_capacity)
        new_cands = canonicalize_candidates(batch_df, "url").select(
            "url", "canon_url", "url_hash", "host",
            F.coalesce(F.col("priority"), F.lit(0.0)).alias("priority"),
            F.lit(0).alias("attempts"),
            F.lit(0).alias("next_attempt_batch"),
        )
        prev_pending_path = _latest_partition(pending_dir, bid)
        pending = (
            spark.read.parquet(prev_pending_path).select(*pend_cols)
            if prev_pending_path
            else None
        )
        cands = new_cands
        deferred = None
        if pending is not None:
            due = pending.filter(F.col("next_attempt_batch") <= bid)
            deferred = pending.filter(F.col("next_attempt_batch") > bid)
            cands = cands.unionByName(due)

        seen = spark.read.parquet(seen_dir) if has_batches(seen_dir) else None
        fresh = dedupe_against_seen(cands, seen, None)
        round_ts = F.lit(BASE_ROUND_TS).cast("timestamp") + F.make_interval(
            secs=F.lit(bid * round_interval_s)
        )
        # P2 parity with the batch round: robots disallow filter (disallowed
        # URLs leave the crawl — they are not kept pending) and per-host
        # crawl-delay override of the policy dim
        policy = host_policy
        allowed = fresh
        if robots_cache is not None:
            from ..operators.robots import apply_robots, resolve_robots_asof

            robots = resolve_robots_asof(robots_cache, round_ts)
            allowed = apply_robots(fresh, robots, url_col="canon_url").drop(
                "robots_delay_s"
            )
            policy = (
                host_policy.join(
                    robots.select("host", F.col("crawl_delay_s").alias("_rd")),
                    "host",
                    "left",
                )
                .withColumn(
                    "crawl_delay_s", F.coalesce(
                    F.nanvl(F.col("_rd"), F.lit(None).cast("double")), F.col("crawl_delay_s")
                )
                )
                .drop("_rd")
            )
        sched = schedule_round(
            allowed,
            policy,
            round_ts,
            default_delay_s=default_delay_s,
            default_capacity=default_capacity,
            salts=salts,
            max_capacity=max_cap,
        )
        joined = fetch_join(
            sched, pages.select("canon_url", "warc_ts", "html", "lang")
        )
        # html streams through ONE projection and is never cached (same
        # rule as the batch round): harvest hrefs here when discovery is on
        derived = []
        if discover_outlinks:
            derived.append(
                F.regexp_extract_all(
                    F.decode(F.col("html"), "utf-8"), F.lit('href="([^"]+)"'), F.lit(1)
                ).alias("_outlinks")
            )
        fetched = joined.select(
            *[c for c in joined.columns if c != "html"], *derived
        )
        fetched.cache()

        misses = (
            fetched.filter(F.col("status") == "miss")
            .select(*pend_cols)
            .withColumn("attempts", F.col("attempts") + 1)
            .withColumn(
                "next_attempt_batch",
                F.lit(bid) + F.pow(F.lit(2.0), F.col("attempts")).cast("int"),
            )
        )
        retryable = misses.filter(F.col("attempts") < max_attempts)
        exhausted = misses.filter(F.col("attempts") >= max_attempts)

        survivors = allowed.join(
            fetched.select("url_hash"), "url_hash", "left_anti"
        ).select(*pend_cols)
        pending_next = survivors.unionByName(retryable.select(*pend_cols))
        if deferred is not None:
            pending_next = pending_next.unionByName(deferred.select(*pend_cols))

        # outlink discovery — same deterministic merge as the batch round:
        # existing pending rows (pairwise-disjoint hashes) beat discovered,
        # then (priority DESC, canon ASC, url ASC) among discovered dups
        if discover_outlinks:
            hrefs = (
                fetched.filter(F.col("status") == "fetched")
                .select(F.explode(F.col("_outlinks")).alias("_raw"))
                .select(
                    F.regexp_replace(F.col("_raw"), F.lit("&amp;"), F.lit("&")).alias("url")
                )
                .filter(F.col("url").startswith("http"))
            )
            discovered = canonicalize_candidates(hrefs, "url").select(
                "url",
                "canon_url",
                "url_hash",
                "host",
                (1.0 / (1 + F.pmod(F.xxhash64("canon_url"), F.lit(1000)))).alias(
                    "priority"
                ),
                F.lit(0).alias("attempts"),
                F.lit(bid + 1).alias("next_attempt_batch"),
            )
            from pyspark.sql import Window

            w_merge = Window.partitionBy("url_hash").orderBy(
                F.col("_cat").asc(),
                F.col("priority").desc(),
                F.col("canon_url").asc(),
                F.col("url").asc(),
            )
            pending_next = (
                pending_next.withColumn("_cat", F.lit(0))
                .unionByName(discovered.withColumn("_cat", F.lit(1)))
                .withColumn("_rn", F.row_number().over(w_merge))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_cat")
            )

        newly_seen = (
            fetched.filter(F.col("status") == "fetched")
            .select("url_hash", "canon_url")
            .unionByName(exhausted.select("url_hash", "canon_url"))
            .select(
                "url_hash", "canon_url",
                F.lit(bid).cast("int").alias("seen_round"),
            )
        )
        # anti-join vs THIS batch's seen delta only: a discovered/deferred
        # hash seen in an earlier batch is removed at candidacy time by
        # dedupe_against_seen, so fetch decisions match the batch engine
        pending_next = pending_next.join(
            newly_seen.select("url_hash"), "url_hash", "left_anti"
        )

        yield fetched.select(
            "canon_url", "url_hash", "host", "scheduled_ts",
            F.col("slot").cast("int").alias("slot"), "status",
        )
        yield fetched.select("canon_url", "url_hash", "host", "slot", "scheduled_ts")
        yield pending_next
        yield newly_seen
        fetched.unpersist()

    run_ledger(
        spark.readStream.schema(SEEDS).parquet(seeds_dir),
        f"{workdir}/ckpt",
        [f"{workdir}/fetch_log", f"{workdir}/scheduled_log", pending_dir, seen_dir],
        delta_fn,
    )
