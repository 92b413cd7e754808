"""P4 — the crawl-round loop (SURVEY.md §2.9 P4, §3 EP1 Spark mapping).

Reference semantic preserved: ``process_batch`` loops rounds until a budget
target, checkpointing JSON state after every batch and resuming from it
(``enhanced_batch_processor.py:364-445,740-764``, ``main.py:187-196``).

One round is ONE declarative DataFrame job::

    frontier ──► due-filter ──► J2 dedupe (Bloom pre-filter + exact anti-join)
             ──► P2 robots as-of + disallow filter
             ──► P1 politeness slots (per-host token bucket, salted top-k)
             ──► J5 fetch join against pages
             ──► E1 extract_text (Arrow pandas UDF)
             ──► writes: fetch_log, extracted, round_metrics (append)
                        url_seen', frontier', bloom_shards' (snapshot)
             ──► catalog.commit_round(k)          # the single atomic commit

plus outlink discovery (href harvest from fetched html, JVM-side regex) and
fetch-miss retry with exponential backoff
(``next_attempt_round = k + 2**attempts`` — the computed analog of the
reference's retry sleep, ``cloud_storage.py:159-208``) and a 3-strike circuit
breaker per URL (``parallel_scraper_manager.py:171-178``).

Determinism: round_start_ts is a pure function of the round number; every
ordering has a total tiebreak; politeness slots are computed, never slept —
so crawl ordering is reproducible run-to-run and across restarts (north_rule).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..functions.extract import extract_text_udf
from ..functions.urls import canonicalize_url_udf, host_col, url_hash_col
from ..operators.dedup import build_bloom_shards, dedupe_against_seen
from ..operators.frontier import fetch_join
from ..operators.politeness import max_bucket_capacity, schedule_round
from ..operators.robots import apply_robots, resolve_robots_asof

BASE_ROUND_TS = "2025-06-01 00:00:00"


@dataclass
class CrawlConfig:
    n_shards: int = 64
    salts: int = 16
    default_delay_s: float = 1.0
    default_capacity: int = 4
    max_attempts: int = 3
    round_interval_s: int = 3600
    discover_outlinks: bool = True
    # seen-set prefilter flavor: "bloom" (OR-mergeable, smallest) or
    # "cuckoo" (deletable — re-crawl-after-TTL support); results are
    # identical either way (exact-join backstop decides)
    seen_filter: str = "bloom"
    # fixed bitset width per shard so cross-round OR-merge works; size for
    # the shard's expected FINAL population (10 bits/key): the default
    # carries ~100k keys/shard at 1% fpp. At 10^10 keys / 4096 shards use
    # ~2.4e7 bits (~3 MB/shard).
    bloom_bits_per_shard: int = 1 << 20
    # cuckoo table width per shard (pow2; capacity ≈ buckets*4*0.95 keys)
    cuckoo_buckets_per_shard: int = 1 << 12


def _round_ts(round_no: int, cfg: CrawlConfig):
    return F.lit(BASE_ROUND_TS).cast("timestamp") + F.make_interval(
        secs=F.lit(round_no * cfg.round_interval_s)
    )


def canonicalize_candidates(df: DataFrame, url_col: str = "url") -> DataFrame:
    """C1 applied: adds canon_url, url_hash, host."""
    return (
        df.withColumn("canon_url", canonicalize_url_udf(F.col(url_col)))
        .withColumn("url_hash", url_hash_col(F.col("canon_url")))
        .withColumn("host", host_col(F.col("canon_url")))
    )


def prepare_pages(pages: DataFrame) -> DataFrame:
    """Canonicalize + dedup the pages table to one row per canon_url
    (latest warc_ts wins — the as-of fetch target)."""
    from pyspark.sql import Window

    canon = canonicalize_candidates(pages, "url")
    w = Window.partitionBy("url_hash").orderBy(
        F.col("warc_ts").desc(), F.col("url").asc()
    )
    return (
        canon.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def partition_lineage(df: DataFrame, round_no: int, stage: str, t_ms: float) -> DataFrame:
    """M1 — per-partition row counts (JVM-side spark_partition_id, no UDF)."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.lit(round_no).cast("int").alias("round"),
            F.lit(stage).alias("stage"),
            F.col("partition_id").cast("int"),
            F.col("n_rows").cast("long"),
            F.lit(float(t_ms)).alias("t_ms"),
        )
    )


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        pages: DataFrame,
        seeds: DataFrame,
        host_policy: DataFrame,
        robots_cache: DataFrame,
        cfg: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        self.catalog = Catalog(spark, workdir)
        self.host_policy = host_policy
        self.robots_cache = robots_cache
        self._pages_path = f"{workdir}/_prepared_pages"
        self._seeds = seeds
        self._pages_raw = pages
        # policy is static per crawl: resolve the top-k thinning bound ONCE
        # here, not per round (it is a plan-blocking collect otherwise)
        self._max_capacity = max_bucket_capacity(
            host_policy, self.cfg.default_capacity
        )

    # ------------------------------------------------------------ bootstrap
    def _ensure_prepared(self) -> DataFrame:
        import os

        if not os.path.exists(self._pages_path):
            prepare_pages(self._pages_raw).write.mode("overwrite").parquet(self._pages_path)
        return self.spark.read.parquet(self._pages_path)

    def _initial_frontier(self) -> DataFrame:
        return canonicalize_candidates(self._seeds, "url").select(
            "url",
            "canon_url",
            "url_hash",
            "host",
            "priority",
            "source",
            "discovered_ts",
            F.lit(0).alias("attempts"),
            F.lit(0).alias("next_attempt_round"),
        )

    # ---------------------------------------------------------------- round
    def run_round(self, round_no: int) -> dict:
        cfg, cat = self.cfg, self.catalog
        pages = self._ensure_prepared()
        round_ts = _round_ts(round_no, cfg)
        lineage: list[DataFrame] = []

        frontier = cat.read_snapshot("frontier", round_no - 1)
        if frontier is None:
            frontier = self._initial_frontier()
        # url_seen is APPEND-ONLY: each round adds a delta partition (rounds
        # never re-see a URL by construction), so the standing 10^10-row set
        # is never rewritten — the parquet analog of Iceberg appends
        url_seen = cat.read_appended("url_seen", round_no - 1)
        shards_table = f"{cfg.seen_filter}_shards"
        shards = cat.read_snapshot(shards_table, round_no - 1)

        due = frontier.filter(F.col("next_attempt_round") <= round_no)
        deferred = frontier.filter(F.col("next_attempt_round") > round_no)

        # J2: within-batch + cross-round dedup (exact, filter-accelerated)
        t0 = time.monotonic()
        fresh = dedupe_against_seen(
            due, url_seen, shards, n_shards=cfg.n_shards, prefilter=cfg.seen_filter
        )

        # P2: robots as-of + disallow
        robots = resolve_robots_asof(self.robots_cache, round_ts)
        allowed = apply_robots(fresh, robots, url_col="canon_url")

        # P1: politeness slots; robots delay overrides host_policy where set
        policy = self.host_policy
        allowed = allowed.withColumn(
            "priority", F.coalesce(F.col("priority"), F.lit(0.0))
        )
        scheduled = schedule_round(
            allowed.drop("robots_delay_s"),
            policy.join(
                resolve_robots_asof(self.robots_cache, round_ts).select(
                    "host", F.col("crawl_delay_s").alias("_rd")
                ),
                "host",
                "left",
            )
            .withColumn("crawl_delay_s", F.coalesce(
                    F.nanvl(F.col("_rd"), F.lit(None).cast("double")), F.col("crawl_delay_s")
                ))
            .drop("_rd"),
            round_start_ts=round_ts,
            default_delay_s=cfg.default_delay_s,
            default_capacity=cfg.default_capacity,
            salts=cfg.salts,
            max_capacity=self._max_capacity,
        )
        scheduled.cache()
        t_sched = (time.monotonic() - t0) * 1000
        lineage.append(partition_lineage(scheduled, round_no, "scheduled", t_sched))

        # J5 + E1: fetch + extract. Both html consumers (extract, outlink
        # harvest) run in ONE projection so the BinaryType html column
        # streams through the scan exactly once and is NEVER cached — only
        # the skinny derived columns persist (caching page bytes is the
        # first executor OOM at 100× scale).
        t1 = time.monotonic()
        joined = fetch_join(
            scheduled,
            pages.select("canon_url", F.col("warc_ts"), "html", "lang"),
        )
        derived = [extract_text_udf(F.col("html")).alias("extracted_text")]
        if cfg.discover_outlinks:
            derived.append(
                F.regexp_extract_all(
                    F.decode(F.col("html"), "utf-8"), F.lit('href="([^"]+)"'), F.lit(1)
                ).alias("_outlinks")
            )
        fetched = joined.select(
            *[c for c in joined.columns if c != "html"], *derived
        )
        fetched.cache()
        # round counters ride the fetch_log WRITE as observed metrics — no
        # separate count() jobs in the hot loop (every count re-executes a
        # full DAG or re-scans the cache; at 10^8-row rounds that is two
        # wasted cluster passes per round)
        from pyspark.sql import Observation

        obs = Observation(f"round_{round_no}")
        fetch_log = fetched.select(
            F.lit(round_no).cast("int").alias("round"),
            "url_hash",
            "canon_url",
            "host",
            "scheduled_ts",
            F.col("slot").cast("int"),
            "status",
        ).observe(
            obs,
            F.count(F.lit(1)).alias("n_scheduled"),
            F.count(F.when(F.col("status") == "fetched", 1)).alias("n_fetched"),
        )
        extracted = fetched.filter(F.col("status") == "fetched").select(
            F.lit(round_no).cast("int").alias("round"),
            "url_hash",
            "canon_url",
            F.col("url"),
            "warc_ts",
            "lang",
            "extracted_text",
            F.length("extracted_text").cast("int").alias("n_chars"),
        )
        cat.append_round("fetch_log", fetch_log, round_no)
        counters = obs.get  # available: the write above ran the plan
        n_scheduled, n_fetched = counters["n_scheduled"], counters["n_fetched"]
        cat.append_round("extracted", extracted, round_no)
        t_fetch = (time.monotonic() - t1) * 1000
        lineage.append(partition_lineage(fetched, round_no, "fetched", t_fetch))

        # retry bookkeeping: misses back off exponentially, 3 strikes out
        misses = (
            fetched.filter(F.col("status") == "miss")
            .select(
                "url", "canon_url", "url_hash", "host", "priority", "source",
                "discovered_ts", "attempts", "next_attempt_round",
            )
            .withColumn("attempts", F.col("attempts") + 1)
            .withColumn(
                "next_attempt_round",
                F.lit(round_no) + F.pow(F.lit(2.0), F.col("attempts")).cast("int"),
            )
        )
        retryable = misses.filter(F.col("attempts") < cfg.max_attempts)
        exhausted = misses.filter(F.col("attempts") >= cfg.max_attempts)

        # url_seen delta: fetched + exhausted are now permanently seen.
        # Deltas never overlap prior seen (scheduled rows passed the exact
        # anti-join) nor each other within a round (in-batch dedupe), so the
        # full set is the plain union of committed delta partitions —
        # appended, O(delta) per round, never a full-table rewrite.
        newly_seen = (
            fetched.filter(F.col("status") == "fetched")
            .select("url_hash", "canon_url")
            .unionByName(exhausted.select("url_hash", "canon_url"))
            .withColumn("seen_round", F.lit(round_no).cast("int"))
        )
        cat.append_round("url_seen", newly_seen, round_no)
        # re-read the materialized delta so downstream stages don't
        # recompute the lineage (round not yet committed; direct path)
        seen_delta = self.spark.read.parquet(str(cat.root / "url_seen" / f"round={round_no}"))
        url_seen_next = (
            seen_delta if url_seen is None else url_seen.unionByName(seen_delta)
        )

        if cfg.seen_filter == "cuckoo":
            # incremental: insert the delta into the standing cuckoo tables
            # (O(delta) work per round; deletable for re-crawl-after-TTL)
            from ..operators.cuckoo import build_cuckoo_shards, insert_into_cuckoo_shards

            if shards is None:
                shards_next = build_cuckoo_shards(
                    seen_delta,
                    n_shards=cfg.n_shards,
                    n_buckets_per_shard=cfg.cuckoo_buckets_per_shard,
                )
            else:
                shards_next = insert_into_cuckoo_shards(
                    shards,
                    seen_delta,
                    n_shards=cfg.n_shards,
                    n_buckets_per_shard=cfg.cuckoo_buckets_per_shard,
                )
            cat.write_snapshot(shards_table, shards_next, round_no)
        else:
            # incremental: OR the delta's shards into the standing bitsets
            # (O(delta) build + O(n_shards) merge per round, SCALE.md §1)
            delta_shards = build_bloom_shards(
                seen_delta,
                n_shards=cfg.n_shards,
                fixed_n_bits=cfg.bloom_bits_per_shard,
            )
            from ..operators.dedup import or_merge_bloom_shards

            bloom_next = (
                delta_shards if shards is None else or_merge_bloom_shards(shards, delta_shards)
            )
            cat.write_snapshot(shards_table, bloom_next, round_no)

        # outlink discovery: hrefs were harvested in the single html pass
        # above; attribute values are HTML-escaped in markup, so undo the
        # one entity that URL query strings legitimately contain (&amp;)
        discovered = None
        if cfg.discover_outlinks:
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
                (1.0 / (1 + F.pmod(F.xxhash64("canon_url"), F.lit(1000)))).alias("priority"),
                F.lit("discovered").alias("source"),
                round_ts.alias("discovered_ts"),
                F.lit(0).alias("attempts"),
                F.lit(round_no + 1).alias("next_attempt_round"),
            )

        # frontier': not-admitted survivors + deferred + retries + discoveries,
        # minus everything now seen. The merge is DETERMINISTIC (north_rule):
        # survivors/deferred/retryable carry pairwise-disjoint url_hashes by
        # construction (all descend from the already-unique previous frontier),
        # so the only possible collision is discovered-vs-existing — resolved
        # by an explicit precedence rank (existing wins), then the same
        # (priority DESC, canon_url ASC) survivor rule as the in-batch dedupe
        # (dedup.dedupe_against_seen) for discovered-internal duplicates.
        fcols = [f.name for f in frontier.schema.fields]
        survivors = allowed.drop("robots_delay_s").join(
            scheduled.select("url_hash"), "url_hash", "left_anti"
        ).select(*fcols)
        existing = (
            survivors.unionByName(deferred.select(*fcols))
            .unionByName(retryable.select(*fcols))
            .withColumn("_cat", F.lit(0))
        )
        frontier_next = existing
        if discovered is not None:
            frontier_next = existing.unionByName(
                discovered.select(*fcols).withColumn("_cat", F.lit(1))
            )
        from pyspark.sql import Window

        w_merge = Window.partitionBy("url_hash").orderBy(
            F.col("_cat").asc(),
            F.col("priority").desc(),
            F.col("canon_url").asc(),
            F.col("url").asc(),  # total order: raw spellings of one canon
        )
        frontier_next = (
            frontier_next.withColumn("_rn", F.row_number().over(w_merge))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_cat")
            .join(url_seen_next.select("url_hash"), "url_hash", "left_anti")
        )
        cat.write_snapshot(
            "frontier",
            frontier_next.repartition(self.spark.sparkContext.defaultParallelism, "host"),
            round_no,
        )

        metrics = lineage[0]
        for extra in lineage[1:]:
            metrics = metrics.unionByName(extra)
        cat.append_round("round_metrics", metrics, round_no)

        cat.commit_round(
            round_no,
            {"n_scheduled": n_scheduled, "n_fetched": n_fetched},
        )
        scheduled.unpersist()
        fetched.unpersist()
        return {"round": round_no, "n_scheduled": n_scheduled, "n_fetched": n_fetched}

    # ------------------------------------------------------------------ TTL
    def expire_seen_before(self, expire_round: int) -> dict:
        """Re-crawl-after-TTL: forget every URL whose ``seen_round`` is
        below ``expire_round`` so future discovery re-schedules it (the
        reference clears its JSON seen-state wholesale between batches —
        ``enhanced_batch_processor.py:126-143``; this is the incremental
        version). State surgery between rounds, not part of a round:

        - expired ``url_seen`` partitions are dropped whole (each round
          partition holds exactly that round's rows, so expiry by round is
          exact and O(1) per partition — never a rewrite of the survivors);
        - cuckoo shards: O(expired) counted deletes
          (``delete_from_cuckoo_shards``) — the operation this filter
          flavor exists for;
        - bloom shards: bitsets cannot delete, so the standing filter is
          REBUILT from the surviving seen set (O(survivors)) — correct but
          the expensive path, which is the documented trade-off.
        """
        import shutil

        cat, cfg = self.catalog, self.cfg
        last = cat.last_round()
        url_seen = cat.read_appended("url_seen", last)
        if url_seen is None:
            return {"n_expired": 0}
        # CRASH-SAFETY ORDER: every intermediate state must err toward
        # false POSITIVES (filter flags a hash url_seen no longer holds —
        # harmless, the exact join decides), never the reverse (filter
        # negative while url_seen still holds the hash would skip the
        # exact join and re-append a duplicate). So: (1) materialize the
        # expired hashes, (2) drop the url_seen partitions, (3) only then
        # rewrite the prefilter from the now-authoritative state.
        expired_tmp = str(cat.root / "_staging" / "expired_hashes")
        url_seen.filter(F.col("seen_round") < expire_round).select(
            "url_hash"
        ).write.mode("overwrite").parquet(expired_tmp)
        expired = self.spark.read.parquet(expired_tmp)
        n_expired = expired.count()
        if n_expired:
            for r in range(expire_round):
                part = cat.root / "url_seen" / f"round={r}"
                if part.exists():
                    shutil.rmtree(part)
        if n_expired:
            shards_table = f"{cfg.seen_filter}_shards"
            shards = cat.read_snapshot(shards_table, last)
            if shards is not None:
                if cfg.seen_filter == "cuckoo":
                    from ..operators.cuckoo import delete_from_cuckoo_shards

                    nxt = delete_from_cuckoo_shards(
                        shards, expired, n_shards=cfg.n_shards
                    )
                else:
                    survivors = cat.read_appended("url_seen", last)
                    if survivors is None:  # everything expired
                        from ..schemas import URL_SEEN

                        survivors = self.spark.createDataFrame([], URL_SEEN)
                    nxt = build_bloom_shards(
                        survivors,
                        n_shards=cfg.n_shards,
                        fixed_n_bits=cfg.bloom_bits_per_shard,
                    )
                cat.write_snapshot(shards_table, nxt, last)
        shutil.rmtree(expired_tmp, ignore_errors=True)
        return {"n_expired": n_expired}

    # ----------------------------------------------------------------- loop
    def run(self, n_rounds: int) -> list[dict]:
        """Run (or resume) the crawl through round ``n_rounds - 1``.

        Resume is trivial by construction: the catalog manifest names the
        last committed round; a crash mid-round leaves the manifest at k-1
        and re-running round k overwrites its partial output (idempotent).
        """
        results = []
        start = self.catalog.last_round() + 1
        for k in range(start, n_rounds):
            results.append(self.run_round(k))
        return results
