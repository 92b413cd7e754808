"""One benchmark workload in one driver process (started by ``run.py``).

    python3 perfbench/worker.py <workload> <seed> <seconds> <trace 0|1> <out.json> <inputs_dir>

Closed loop: the next round starts only after the previous one has been
written or committed. Warm-up rounds run first and are not timed (one for
frontier_round, two for crawl_loop, whose rounds speed up most over the
first two); then rounds are timed until the run's seconds are spent.
A full JVM garbage collection precedes every round, outside its timing. With
trace 1 the process enables the Spark UI, labels job groups and records
spans around the calls into each layer (see ``tracing.py``); the
end-to-end figures of a traced process include the tracing overhead.

Writes one JSON object to ``out.json``: end-to-end figures, per-layer
figures (traced only), attempted/failed round counts, and output digests
for the cross-run check.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import (  # noqa: E402
    Tracer,
    group_stage_metrics,
    median_or_zero,
    peak_rss_mb,
    tree_cpu_s,
)

# frontier_round shape: bench.py's frontier plan at 3e5 URLs a round
FRONTIER_URLS = 300_000
FRONTIER_SEEN = 5 * FRONTIER_URLS
FRONTIER_HOSTS = 200
FRONTIER_WARMUP = 1
# crawl rounds speed up most over the first two; from round 8 on some
# hosts' frontiers run dry and rounds admit fewer URLs, so none is timed
CRAWL_WARMUP = 2
CRAWL_LAST_ROUND = 7
MIN_MEASURED = 1
SETUP_RUNS = 3


def session_totals(rest: dict) -> dict[str, float]:
    """GC time and spill summed over every job group of the session."""
    return {
        "session.gc_s": sum(m.get("gc_s", 0.0) for m in rest.values()),
        "session.spill_bytes": sum(m.get("spill_bytes", 0.0) for m in rest.values()),
    }


def _digest(*cols):
    """Order-insensitive digest of rows: the exact sum of their 64-bit
    hashes (decimal, so it cannot overflow)."""
    from pyspark.sql import functions as F

    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


class Run:
    """State shared by a workload body and the reporting around it."""

    def __init__(self, spark, seed: int, seconds: float, traced: bool):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.tracer = Tracer(spark, label_jobs=traced)
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.digests: dict[str, object] = {}
        self.shape = ""  # names the input shape the digests belong to
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.measured: list[str] = []  # trace ids of the timed rounds
        self.setup_s = 0.0
        self.bootstrap_s: list[float] = []

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok)
        if not ok:
            self.failed += 1
            print(f"[perfbench] output check failed: {name}", file=sys.stderr)

    def setup(self, bootstrap):
        """Run the workload's bootstrap SETUP_RUNS times and keep the last
        result. ``setup_s`` is the time from process start to the first
        bootstrap (Python and JVM launch, ``get_spark``, reading inputs),
        which happens once, plus the median bootstrap time."""
        before = time.monotonic() - T_PROCESS
        for _ in range(SETUP_RUNS):
            t0 = time.monotonic()
            out = bootstrap()
            self.bootstrap_s.append(time.monotonic() - t0)
        self.setup_s = before + median_or_zero(self.bootstrap_s)
        print(
            f"[perfbench] setup: {self.setup_s:.2f}s (bootstrap "
            + ", ".join(f"{b:.2f}" for b in self.bootstrap_s) + "s)",
            file=sys.stderr, flush=True,
        )
        return out

    def loop(self, warmup: int, step, last: int | None = None):
        """Run ``step(k)`` for warm-up rounds, then timed rounds until their
        wall time reaches the run's seconds (at least MIN_MEASURED, and no
        round after ``last``). A full GC precedes every round, untimed, so
        no round pays for its predecessor's garbage. Returns a list of
        (wall seconds, step result) per timed round."""
        timed, k = [], 0
        while True:
            if len(timed) >= MIN_MEASURED and (
                sum(dt for dt, _ in timed) >= self.seconds
                or (last is not None and k > last)
            ):
                break
            self.tracer.trace_id = f"r{k}"
            self.attempted += 1
            self.spark.sparkContext._jvm.System.gc()
            t0 = time.monotonic()
            with self.tracer.span("round"):
                out = step(k)
            dt = time.monotonic() - t0
            print(f"[perfbench] round {k}: {dt:.2f}s {out}", file=sys.stderr, flush=True)
            if k >= warmup:
                timed.append((dt, out))
                self.measured.append(f"r{k}")
            k += 1
        self.tracer.trace_id = "checks"
        return timed


# ------------------------------------------------------------ frontier_round
def frontier_round(run: Run) -> None:
    """Canonicalize -> Bloom+exact dedupe against a cached seen set ->
    politeness schedule, over raw URL spellings generated in the plan
    (the shape of bench.py's frontier_throughput). The seed offsets every
    URL id, so each seed crawls a disjoint id range."""
    from pyspark.sql import functions as F

    from webscraping_video_pipeline_spark.functions.urls import (
        canonicalize_url_udf,
        host_col,
        url_hash_col,
    )
    from webscraping_video_pipeline_spark.operators import dedup
    from webscraping_video_pipeline_spark.operators.politeness import schedule_round

    spark, tr = run.spark, run.tracer
    parts = spark.sparkContext.defaultParallelism
    n_shards = parts * 2
    off = run.seed * 10**9
    n, n_seen = FRONTIER_URLS, FRONTIER_SEEN
    # 30% of candidates re-discover a seen URL, 70% are new
    pid = (
        F.when(F.col("id") % 10 < 3, (F.col("id") * 3) % n_seen)
        .otherwise(F.col("id") + n_seen)
        .cast("long")
        + off
    )
    raw = spark.range(0, n, 1, parts).select(
        F.concat(
            F.lit("HTTPS://H"),
            F.pmod(F.xxhash64(pid), F.lit(FRONTIER_HOSTS)),
            F.lit(".Example.COM:443/p/"),
            pid,
            F.lit("?b=2&a=1#frag"),
        ).alias("url")
    )
    cands = (
        raw.withColumn("canon_url", canonicalize_url_udf(F.col("url")))
        .withColumn("url_hash", url_hash_col(F.col("canon_url")))
        .withColumn("host", host_col(F.col("canon_url")))
        .withColumn("priority", F.pmod(F.xxhash64("url_hash"), F.lit(1000)) / 1000.0)
        .drop("url")
    )
    sid = F.col("id") + off
    seen = (
        spark.range(0, n_seen, 1, parts)
        .select(
            F.concat(
                F.lit("https://h"),
                F.pmod(F.xxhash64(sid), F.lit(FRONTIER_HOSTS)),
                F.lit(".example.com/p/"),
                sid,
                F.lit("?a=1&b=2"),
            ).alias("canon_url")
        )
        .withColumn("url_hash", F.xxhash64("canon_url"))
        .withColumn("seen_round", F.lit(0))
        .repartition(parts, "url_hash")
    )
    policy = spark.createDataFrame(
        [(f"h{i}.example.com", 1.0, 64, 3) for i in range(FRONTIER_HOSTS)],
        "host string, crawl_delay_s double, bucket_capacity int, max_errors int",
    )
    built = []

    def build():
        # every set-up run starts with nothing cached
        seen.unpersist(True)
        for old in built:
            old.unpersist(True)
        with tr.span("dedup.build"):
            seen.cache().count()
            built[:] = [dedup.build_bloom_shards(seen, n_shards=n_shards).cache()]
            built[0].count()
        return built[0]

    shards = run.setup(build)

    digest_col = _digest("url_hash", "slot", "scheduled_ts")
    state = {}

    if run.traced:
        # materialize the probe at its boundary so probe and exact join
        # time apart; dedupe_against_seen looks the name up in its module
        orig_probe = dedup.bloom_positive_hashes

        def probe(*args, **kwargs):
            with tr.span("dedup.probe"):
                pos = orig_probe(*args, **kwargs).cache()
                state["positives"] = pos
                state["n_positives"] = pos.count()
                return pos

        tr.replace(dedup, "bloom_positive_hashes", probe)

    keys = _digest("url_hash"), F.count(F.lit(1))
    outs = set()

    def step(k):
        with tr.span("urls.canonicalize"):
            cpu0 = tree_cpu_s(run.jvm_pid) if run.traced else 0.0
            batch = cands.persist()
            n_in = batch.count()
            if run.traced:
                state.setdefault("canon_cpu", []).append(tree_cpu_s(run.jvm_pid) - cpu0)
        with tr.span("dedup"):
            fresh = dedup.dedupe_against_seen(batch, seen, shards, n_shards=n_shards)
            if run.traced:
                with tr.span("dedup.exact"):
                    fresh = fresh.cache()
                    state["n_fresh"] = fresh.count()
        with tr.span("politeness.schedule"):
            sched = schedule_round(
                fresh, policy, "2025-06-01 00:00:00", salts=16, max_capacity=64
            )
            n_out, digest = sched.agg(F.count(F.lit(1)), digest_col).first()
            out = (n_out, str(digest))
        state["n_in"] = n_in
        if k == 0:  # untimed warm-up: the fresh set equals a plain
            # left_anti of the distinct batch keys against the seen set
            plain = batch.select("url_hash").distinct().join(seen, "url_hash", "left_anti")
            run.check(
                "frontier.fresh_equals_left_anti",
                fresh.agg(*keys).first() == plain.agg(*keys).first(),
            )
        if run.traced:
            fresh.unpersist()
            state.pop("positives").unpersist()
        batch.unpersist(True)
        outs.add(out)
        return out

    timed = run.loop(FRONTIER_WARMUP, step)
    tr.restore()
    rounds = [dt for dt, _ in timed]
    run.e2e = {"items_per_s": n / median_or_zero(rounds), "setup_s": run.setup_s}
    run.check("frontier.rounds_identical", len(outs) == 1)
    run.digests = {"scheduled": [list(o) for o in sorted(outs)]}
    run.shape = f"{n}-urls"

    if run.traced:
        st = tr.self_times(run.measured)
        rest = group_stage_metrics(spark)
        per_group = {}
        for g, m in rest.items():
            tid, _, name = g.partition(":")
            if tid in run.measured:
                per_group.setdefault(name, []).append(m)

        def med(name, key):
            return median_or_zero(m.get(key, 0.0) for m in per_group.get(name, []))

        n_in = state["n_in"]
        n_dups = n_in - state["n_fresh"]
        n_pos = state["n_positives"]
        run.layers.update(
            {
                "urls.canonicalize_s": median_or_zero(st["urls.canonicalize"]),
                "urls.canonicalize_cpu_s": median_or_zero(state["canon_cpu"][FRONTIER_WARMUP:]),
                "dedup.probe_s": median_or_zero(st["dedup.probe"]),
                "dedup.exact_s": median_or_zero(st["dedup.exact"]),
                "dedup.bloom_positives": float(n_pos),
                "dedup.fp_rate": (n_pos - n_dups) / max(1, n_in - n_dups),
                "dedup.shuffle_bytes": med("dedup.probe", "shuffle_bytes")
                + med("dedup.exact", "shuffle_bytes"),
                "dedup.build_s": median_or_zero(
                    s.end - s.start for s in tr.spans if s.name == "dedup.build"
                ),
                "politeness.schedule_s": median_or_zero(st["politeness.schedule"]),
                "politeness.admitted": float(next(iter(outs))[0]),
                "politeness.shuffle_bytes": med("politeness.schedule", "shuffle_bytes"),
            }
        )
        run.layers.update(session_totals(rest))
    seen.unpersist()
    shards.unpersist()


# ---------------------------------------------------------------- crawl_loop
CATALOG_TABLES = ("fetch_log", "extracted", "url_seen", "bloom_shards", "frontier", "round_metrics")
PLAN_CALLS = (
    "canonicalize_candidates",
    "dedupe_against_seen",
    "resolve_robots_asof",
    "apply_robots",
    "schedule_round",
    "fetch_join",
    "build_bloom_shards",
    "partition_lineage",
)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def crawl_loop(run: Run, inputs: dict[str, str], workdir: str) -> None:
    """CrawlEngine.run_round on a synthetic web from ``inputs.py``; every
    round admits hosts x capacity URLs. Starts from an empty catalog."""
    from pyspark.sql import functions as F

    from webscraping_video_pipeline_spark import catalog as catalog_mod
    from webscraping_video_pipeline_spark.operators import dedup
    from webscraping_video_pipeline_spark.plans import crawl

    spark, tr = run.spark, run.tracer
    read = {k: spark.read.parquet(v) for k, v in inputs.items()}
    if run.traced:
        Cat = catalog_mod.Catalog
        tr.wrap(Cat, "append_round", "catalog.write.{0}")
        tr.wrap(Cat, "write_snapshot", "catalog.write.{0}")
        tr.wrap(Cat, "commit_round", "catalog.commit")
        tr.wrap(Cat, "read_snapshot", "catalog.read")
        tr.wrap(Cat, "read_appended", "catalog.read")
        for name in PLAN_CALLS:
            tr.wrap(crawl, name, "crawl.plan")
        tr.wrap(dedup, "or_merge_bloom_shards", "crawl.plan")

    def build():
        # every set-up run starts from an empty catalog
        shutil.rmtree(workdir, ignore_errors=True)
        eng = crawl.CrawlEngine(
            spark,
            workdir,
            read["pages"],
            read["seeds"],
            read["host_policy"],
            read["robots_cache"],
            crawl.CrawlConfig(n_shards=8, salts=4),
        )
        with tr.span("crawl.prepare"):
            eng._ensure_prepared()  # the engine's one-time page preparation
        return eng

    eng = run.setup(build)

    sizes = []

    def step(k):
        before = _dir_bytes(workdir) if run.traced else 0
        res = eng.run_round(k)
        if run.traced:  # the catalog walk stays out of untraced timings
            sizes.append(_dir_bytes(workdir) - before)
        return res["n_scheduled"], res["n_fetched"]

    timed = run.loop(CRAWL_WARMUP, step, last=CRAWL_LAST_ROUND)
    run.e2e = {
        "items_per_s": median_or_zero(out[1] / dt for dt, out in timed),
        "setup_s": run.setup_s,
    }

    tr.restore()
    cat = eng.catalog
    seen = cat.read_appended("url_seen")
    n_seen, n_seen_distinct = seen.agg(
        F.count(F.lit(1)), F.countDistinct("url_hash")
    ).first()
    run.check("crawl.url_seen_unique", n_seen == n_seen_distinct)
    log = cat.read_appended("fetch_log")
    per_round = (
        log.groupBy("round")
        .agg(_digest("url_hash", "slot", "scheduled_ts", "status").alias("d"))
        .collect()
    )
    run.digests = {"fetch_log": {str(r["round"]): str(r["d"]) for r in per_round}}
    run.shape = os.path.basename(os.path.dirname(inputs["seeds"]))

    if run.traced:
        n_frontier = cat.read_snapshot("frontier").count()
        st = tr.self_times(run.measured)
        rest = group_stage_metrics(spark)
        wall = {s.trace_id: s.end - s.start for s in tr.spans if s.name == "round"}
        layers = {
            "catalog.commit_s": median_or_zero(st["catalog.commit"]),
            "catalog.read_s": median_or_zero(st["catalog.read"]),
            "catalog.bytes_written": median_or_zero(sizes[CRAWL_WARMUP:]),
            "catalog.bytes_on_disk": float(_dir_bytes(workdir)),
            "crawl.plan_s": median_or_zero(st["crawl.plan"]),
            "crawl.unattributed_s": median_or_zero(st["round"]),
            # share of round wall spent inside the wrapped calls
            "crawl.covered_share": median_or_zero(
                1 - st["round"][t] / wall[t] for t in run.measured
            ),
            "crawl.jobs": sum(
                m["jobs"] for g, m in rest.items() if g.split(":", 1)[0] in run.measured
            ) / len(run.measured),
            "crawl.admitted": float(timed[-1][1][0]),
            "crawl.fetched": float(timed[-1][1][1]),
            "crawl.frontier_rows": float(n_frontier),
            "crawl.seen_rows": float(n_seen),
            **session_totals(rest),
        }
        for t in CATALOG_TABLES:
            label = f"catalog.write.{t}"
            layers[f"{label}_s"] = median_or_zero(st[label])
            groups = [rest.get(f"{tid}:{label}", {}) for tid in run.measured]
            layers[f"{label}_cpu_s"] = median_or_zero(g.get("cpu_s", 0.0) for g in groups)
            layers[f"{label}_shuffle_bytes"] = median_or_zero(
                g.get("shuffle_bytes", 0.0) for g in groups
            )
        run.layers.update(layers)


# -------------------------------------------------------------------- main
def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main() -> None:
    workload, seed, seconds, trace, out_path, inputs_dir = sys.argv[1:7]
    seed, seconds, traced = int(seed), float(seconds), trace == "1"
    from webscraping_video_pipeline_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    if traced:  # the status REST API serves the per-group stage metrics
        extra.update({"spark.ui.enabled": "true", "spark.ui.retainedStages": "10000",
                      "spark.ui.retainedJobs": "10000"})
    spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=extra)
    start_s = time.monotonic() - T_PROCESS
    run = Run(spark, seed, seconds, traced)
    workdir = os.path.join(os.environ["PERFBENCH_WORK"], "catalog")
    error = None
    try:
        if workload == "frontier_round":
            frontier_round(run)
        else:
            from inputs import generate

            crawl_loop(run, generate(inputs_dir, seed), workdir)
    except Exception:
        error = traceback.format_exc()
        print(error, file=sys.stderr)
        run.failed += 1
    finally:
        run.tracer.restore()
    if traced:
        run.layers["session.start_s"] = start_s
        run.layers["session.peak_rss_mb"] = peak_rss_mb(run.jvm_pid) + peak_rss_mb(os.getpid())
        run.layers["session.storage_mb"] = sum(
            i.memSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        ) / 2**20
        run.tracer.write(os.path.join(os.path.dirname(out_path), f"spans-{workload}.jsonl"))
    _stop(spark)
    shutil.rmtree(workdir, ignore_errors=True)
    result = {
        "error": error,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "checks": run.checks,
        "digests": run.digests,
        "shape": run.shape,
        "e2e": run.e2e,
        "layers": run.layers,
    }
    print(f"[perfbench] end-to-end: {run.e2e}", file=sys.stderr)
    with open(out_path, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
