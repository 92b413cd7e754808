"""P1/P3 — politeness + frontier properties:

- per-host inter-fetch gap ≥ crawl_delay (computed slots, never slept);
- per-host admitted count ≤ bucket_capacity;
- deterministic ordering (two runs byte-equal);
- salted top-k ≡ unsalted top-k (salt only touches the shuffle key).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from webscraping_video_pipeline_spark.operators.frontier import budget_prefix, per_host_top_k
from webscraping_video_pipeline_spark.operators.politeness import schedule_round


def _cands(spark, n=400, hosts=5):
    return spark.range(n).select(
        F.concat(F.lit("https://host"), F.pmod(F.col("id"), F.lit(hosts)), F.lit(".com/p/"), F.col("id")).alias("canon_url"),
        F.xxhash64(F.col("id")).alias("url_hash"),
        F.concat(F.lit("host"), F.pmod(F.col("id"), F.lit(hosts)), F.lit(".com")).alias("host"),
        (F.pmod(F.xxhash64(F.col("id") + 7), F.lit(1000)) / 1000.0).alias("priority"),
    )


def _policy(spark, hosts=5):
    rows = [(f"host{i}.com", [0.5, 1.0, 2.0][i % 3], [2, 5, 9][i % 3], 3) for i in range(hosts)]
    return spark.createDataFrame(
        rows, "host string, crawl_delay_s double, bucket_capacity int, max_errors int"
    )


def test_capacity_and_gap(spark):
    sched = schedule_round(_cands(spark), _policy(spark), "2025-06-01 00:00:00", salts=4)
    pdf = sched.select("host", "slot", "scheduled_ts", "crawl_delay_s").toPandas()
    for host, grp in pdf.groupby("host"):
        cap = {r[0]: r[2] for r in _policy(sched.sparkSession).collect()}[host]
        assert len(grp) <= cap
        g = grp.sort_values("slot")
        gaps = g["scheduled_ts"].diff().dt.total_seconds().dropna()
        assert (gaps >= g["crawl_delay_s"].iloc[0] - 1e-9).all()


def test_deterministic_two_runs(spark):
    a = schedule_round(_cands(spark), _policy(spark), "2025-06-01 00:00:00", salts=4)
    b = schedule_round(_cands(spark), _policy(spark), "2025-06-01 00:00:00", salts=4)
    ka = sorted(map(tuple, a.select("canon_url", "slot", "scheduled_ts").collect()))
    kb = sorted(map(tuple, b.select("canon_url", "slot", "scheduled_ts").collect()))
    assert ka == kb


def test_salted_topk_equals_unsalted(spark):
    df = _cands(spark, n=1000, hosts=3)
    salted = per_host_top_k(df, k=7, salts=8)
    plain = per_host_top_k(df, k=7, salts=1)
    assert sorted(r.url_hash for r in salted.collect()) == sorted(
        r.url_hash for r in plain.collect()
    )


def test_budget_prefix_property(spark):
    df = _cands(spark, n=50, hosts=1).withColumn("cost", F.lit(10.0))
    out = budget_prefix(df, "cost", budget=95.0)
    # greedy prefix in (priority desc, url_hash) order: exactly 9 rows of cost 10
    assert out.count() == 9
    # the kept rows are exactly the top-9 by the engine order
    top9 = df.orderBy(F.col("priority").desc(), F.col("url_hash")).limit(9)
    assert sorted(r.url_hash for r in out.collect()) == sorted(
        r.url_hash for r in top9.collect()
    )
    # first row always admitted even when over budget
    assert budget_prefix(df, "cost", budget=5.0).count() == 1


def test_nan_delay_treated_as_unspecified(spark):
    """A float64-NaN crawl_delay_s (what pandas turns None into, and what a
    non-Arrow createDataFrame hands Spark verbatim) must behave exactly
    like null — fall back to the default — instead of poisoning the
    scheduled_ts cast (ANSI CAST_OVERFLOW) or silently casting to epoch."""
    cands = _cands(spark, n=60, hosts=2)
    policy = spark.createDataFrame(
        [("host0.com", float("nan"), 3, 3), ("host1.com", 2.0, 3, 3)],
        "host string, crawl_delay_s double, bucket_capacity int, max_errors int",
    )
    sched = schedule_round(cands, policy, "2025-06-01 00:00:00", default_delay_s=7.0, salts=2)
    rows = {(r["host"], r["slot"]): r for r in sched.collect()}
    assert rows[("host0.com", 1)]["crawl_delay_s"] == 7.0  # NaN -> default
    assert rows[("host1.com", 1)]["crawl_delay_s"] == 2.0
    ts0 = rows[("host0.com", 0)]["scheduled_ts"]
    ts1 = rows[("host0.com", 1)]["scheduled_ts"]
    assert (ts1 - ts0).total_seconds() == 7.0
