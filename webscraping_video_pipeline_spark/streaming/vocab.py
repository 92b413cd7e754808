"""Streaming twin of contract q187 (Heaps'-law vocabulary growth):
document micro-batches land and the engine keeps an exact first-seen
vocabulary ledger, so "how fast are NEW words still arriving?" — the
dictionary/BPE-vocab/term-id capacity signal — is answerable after every
batch without rescanning the corpus.

State: two sinks under the ``streaming/commit.py`` ledger —

- ``vocab_state``: the words FIRST SEEN in each batch (one row per new
  word). A batch's new words are its distinct words anti-joined against
  the union of STRICTLY EARLIER partitions (``batch_id < bid``), so a
  scrubbed replay recomputes against exactly the state it originally saw
  and the partitions stay a disjoint exact partition of the vocabulary.
- ``vocab_counts``: one row per batch (docs, tokens, batch-distinct
  words, new words). It is the batch's LAST sink, so its marker implies
  both landed.

New-word counts are NOT order-independent (the first batch to show a
word owns it) — but cumulative vocabulary IS: any landing order yields
the same ``vocab_cum`` because the per-batch new-word sets always
partition the same distinct-word union (the twin's stream ≡ batch test
pins the in-order growth curve against the batch recount, and the
any-order test pins the order-invariant cumulative columns).

Scale note: the anti-join reads the accumulated vocabulary ledger once
per batch — O(vocab), not O(corpus); web-scale vocabularies are 10^8-9
rows of one string, and a production deployment buckets ``vocab_state``
by word hash (or fronts it with a Bloom probe, ``operators/dedup.py``)
so the anti-join is bucket-local. The exact ledger is the semantics;
the probe is an optimization, not a correctness change.

Reference semantic: none — the reference counts files, never terms
(cloud_storage.py metrics); this is q187's planning curve kept live as
the crawl lands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .commit import has_batches, run_ledger
from .hostprior import DOCS


def _batch_tokens(batch_df: DataFrame) -> DataFrame:
    """(doc_id, word) occurrences for one micro-batch — q187's exact
    tokenization (lowercase, split on single space, empties dropped)."""
    return (
        batch_df.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
        )
        .filter(F.length("word") > 0)
    )


def stream_vocab_state(spark: SparkSession, docs_dir: str, workdir: str) -> None:
    """Drain all available document files (trigger availableNow), each
    micro-batch appending its first-seen-word partition and its tally
    row. Restartable and idempotent: a replayed batch recomputes against
    strictly-earlier state."""
    state_dir = f"{workdir}/vocab_state"

    def delta_fn(batch_df: DataFrame, k: int):
        tok = _batch_tokens(batch_df).localCheckpoint(eager=True)
        bw = tok.select("word").distinct()
        if has_batches(state_dir):
            prior = (
                spark.read.parquet(state_dir)
                .filter(F.col("batch_id") < k)
                .select("word")
            )
            new = bw.join(prior, "word", "left_anti")
        else:  # first batch: no state yet
            new = bw
        new = new.localCheckpoint(eager=True)  # counted AND written
        yield new
        yield spark.createDataFrame(
            [(batch_df.count(), tok.count(), bw.count(), new.count())],
            "n_docs long, n_tokens long, n_batch_words long, n_new_words long",
        )

    run_ledger(
        spark.readStream.schema(DOCS).parquet(docs_dir),
        f"{workdir}/ckpt",
        [state_dir, f"{workdir}/vocab_counts"],
        delta_fn,
    )


def vocab_growth(spark: SparkSession, workdir: str) -> DataFrame:
    """The live growth curve from the accumulated tally ledger — per
    batch: docs, tokens, new words, and the cumulative docs/tokens/
    vocabulary. Cumulatives run as the triangular broadcast self-join
    over the (tiny) per-batch rows — the ordinals-operator prefix idiom,
    never an unpartitioned window."""
    c = spark.read.parquet(f"{workdir}/vocab_counts").select(
        "batch_id", "n_docs", "n_tokens", "n_new_words"
    )
    lo = c.select(
        F.col("batch_id").alias("j"),
        F.col("n_docs").alias("jd"),
        F.col("n_tokens").alias("jt"),
        F.col("n_new_words").alias("jv"),
    )
    return (
        c.join(F.broadcast(lo), F.col("j") <= F.col("batch_id"))
        .groupBy("batch_id", "n_docs", "n_tokens", "n_new_words")
        .agg(
            F.sum("jd").cast("long").alias("docs_cum"),
            F.sum("jt").cast("long").alias("tokens_cum"),
            F.sum("jv").cast("long").alias("vocab_cum"),
        )
        .select(
            "batch_id",
            "n_docs",
            "n_tokens",
            F.col("n_new_words").alias("new_words"),
            "docs_cum",
            "tokens_cum",
            "vocab_cum",
        )
    )
