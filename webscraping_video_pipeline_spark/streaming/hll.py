"""Streaming twin of contract q174 (HyperLogLog URL-cardinality
registers): documents arrive as parquet micro-batches and the per-group
register table accumulates batch over batch, so the monitor can ask
"how many distinct URLs has each group contributed?" at any point
without rescanning — bounded state (m registers per group) no matter
how many micro-batches have landed.

State discipline: the standing state is append-only per-batch DELTA
register rows (lang, b, d_rho = the batch's max leading-zero rank per
register). HLL registers merge by elementwise MAX — associative,
commutative AND idempotent — so stream ≡ batch holds for ANY file
landing order (the ``streaming/hostprior.py`` order-independence
argument, strengthened: even a double-applied delta could not corrupt a
MAX). The ``streaming/commit.py`` ledger is kept anyway, so the state
stays an exact per-batch ledger, not just a correct aggregate.

``url_cardinality`` folds the accumulated registers with q174's exact
estimator arithmetic (dyadic harmonic sum, raw Flajolet estimate,
small-range linear-counting arm), emitting the REGISTERS-ONLY columns —
bit-identical to the batch query's sketch columns
(``tests/test_streaming_hll.py`` pins stream ≡ batch, out-of-order
equivalence, and replay idempotence). The batch query's fixture-only
exact-count audit columns have no streaming twin BY DESIGN: not keeping
them is the entire point of the sketch.

Reference semantic: the reference counts processed items in driver-local
dicts for the lifetime of one run (parallel_scraper_manager.py:60-75);
this is that counter made distinct-exact-ish, mergeable, and restartable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..contract.monitor import _HLL_ALPHA, _HLL_M, _HLL_MOD, _HLL_W
from .commit import run_ledger
from .hostprior import DOCS


def _batch_delta(batch_df: DataFrame) -> DataFrame:
    """Per-(lang, register) max rank for one micro-batch — q174's exact
    md5 bucket + leading-zero probe over the batch's elements."""
    d = batch_df.select(
        "lang",
        F.concat(F.lit("u:"), (F.col("doc_id") % _HLL_MOD).cast("string")).alias(
            "elem"
        ),
    )
    h = d.select(
        "lang",
        (F.conv(F.substring(F.md5("elem"), 1, 8), 16, 10).cast("long") % _HLL_M)
        .alias("b"),
        F.conv(F.substring(F.md5("elem"), 9, 5), 16, 10).cast("long").alias("v"),
    )
    rho = F.when(F.col("v") == 0, F.lit(_HLL_W + 1)).otherwise(
        F.lit(_HLL_W + 1) - F.length(F.conv(F.col("v").cast("string"), 10, 2))
    )
    return h.groupBy("lang", "b").agg(F.max(rho).cast("long").alias("d_rho"))


def stream_hll_registers(spark: SparkSession, docs_dir: str, workdir: str) -> None:
    """Drain all available document files (trigger availableNow), each
    micro-batch appending its per-register delta partition. Restartable
    and idempotent."""
    run_ledger(
        spark.readStream.schema(DOCS).parquet(docs_dir),
        f"{workdir}/ckpt",
        [f"{workdir}/hll_state"],
        lambda batch_df, k: [_batch_delta(batch_df)],
    )


def url_cardinality(spark: SparkSession, workdir: str) -> DataFrame:
    """The cardinality table from the accumulated registers — q174's
    exact sketch arithmetic (registers-only columns), computed from
    O(groups x m) delta rows."""
    s = spark.read.parquet(f"{workdir}/hll_state")
    reg = s.groupBy("lang", "b").agg(F.max("d_rho").alias("rho"))
    fold = reg.groupBy("lang").agg(
        F.sum(F.expr("1.0 / cast(shiftleft(1, cast(rho as int)) as double)"))
        .alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    hs = F.col("s_present") + (_HLL_M - F.col("n_present")).cast("double")
    zr = (F.lit(_HLL_M) - F.col("n_present")).cast("long")
    fin = fold.select(
        "lang",
        hs.alias("harmonic_sum"),
        zr.alias("n_zero_registers"),
        (F.lit(_HLL_ALPHA) * F.lit(float(_HLL_M * _HLL_M)) / hs).alias("raw_estimate"),
    )
    est = F.when(
        (F.col("raw_estimate") <= 2.5 * _HLL_M) & (F.col("n_zero_registers") > 0),
        F.lit(float(_HLL_M))
        * F.log(F.lit(float(_HLL_M)) / F.col("n_zero_registers").cast("double")),
    ).otherwise(F.col("raw_estimate"))
    return fin.select(
        "lang", "n_zero_registers", "harmonic_sum", "raw_estimate", est.alias("estimate")
    )
