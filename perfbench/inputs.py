"""Generate the crawl_loop inputs for one seed and write them as parquet.

Runs as its own process, before the workload process starts, so the
workload receives only generated files:

    python3 perfbench/inputs.py <out_dir> <seed>

The synthetic web (``pages``) does not depend on the seed and is written
once per output directory. The seed picks the crawl's seed list; the host
policy gives every host the same bucket capacity, so every measured round
admits hosts x capacity URLs and no host's frontier runs dry.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_PAGES = 100_000
N_SEEDS = 75_000
SEED_POOL = 2 * N_SEEDS  # the seed list is a seeded sample of this pool
BUCKET_CAPACITY = 10


def _utc(pdf, *cols):
    # Spark reads zone-aware parquet timestamps as TIMESTAMP, the type the
    # engine's schemas use; naive ones would come back as TIMESTAMP_NTZ
    for c in cols:
        pdf[c] = pdf[c].dt.tz_localize("UTC")
    return pdf


def _write(pdf, path: str, schema: pa.Schema) -> None:
    tmp = f"{path}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), f"{tmp}/part-0.parquet")
    os.replace(tmp, path)


TS = pa.timestamp("us", tz="UTC")
PAGES = pa.schema([("url", pa.string()), ("warc_ts", TS), ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
SEEDS = pa.schema([("url", pa.string()), ("priority", pa.float64()), ("source", pa.string()), ("discovered_ts", TS)])
POLICY = pa.schema([("host", pa.string()), ("crawl_delay_s", pa.float64()), ("bucket_capacity", pa.int32()), ("max_errors", pa.int32())])
ROBOTS = pa.schema([("host", pa.string()), ("fetched_ts", TS), ("disallow_prefixes", pa.list_(pa.string())), ("crawl_delay_s", pa.float64())])


def generate(out_dir: str, seed: int) -> dict[str, str]:
    """Write pages (once) and the seed's seeds/policy/robots; return paths."""
    from webscraping_video_pipeline_spark import synth

    pages_dir = os.path.join(out_dir, f"pages-{N_PAGES}")
    pool_dir = os.path.join(out_dir, f"seed-pool-{SEED_POOL}")
    seed_dir = os.path.join(out_dir, f"seed-{seed}-{N_SEEDS}-of-{SEED_POOL}-cap{BUCKET_CAPACITY}")
    paths = {
        "pages": pages_dir,
        "seeds": f"{seed_dir}/seeds",
        "host_policy": f"{seed_dir}/host_policy",
        "robots_cache": f"{seed_dir}/robots_cache",
    }
    if not os.path.exists(pages_dir):
        _write(_utc(synth.gen_pages_pdf(N_PAGES), "warc_ts"), pages_dir, PAGES)
    if not os.path.exists(pool_dir):
        _write(_utc(synth.gen_seeds_pdf(SEED_POOL, N_PAGES), "discovered_ts"), pool_dir, SEEDS)
    if not os.path.exists(paths["robots_cache"]):
        pool = pq.read_table(pool_dir).to_pandas()
        pick = np.sort(np.random.default_rng(seed).choice(SEED_POOL, N_SEEDS, replace=False))
        seeds = pool.iloc[pick].reset_index(drop=True)
        _write(seeds, paths["seeds"], SEEDS)
        policy = synth.gen_host_policy_pdf(N_PAGES)
        policy["bucket_capacity"] = np.int32(BUCKET_CAPACITY)
        _write(policy, paths["host_policy"], POLICY)
        # robots last: its presence marks the seed's inputs complete
        _write(_utc(synth.gen_robots_pdf(N_PAGES), "fetched_ts"), paths["robots_cache"], ROBOTS)
    return paths


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    generate(sys.argv[1], int(sys.argv[2]))
