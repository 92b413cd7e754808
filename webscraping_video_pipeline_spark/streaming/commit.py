"""The per-batch commit ledger every streaming twin in this package runs on.

``run_ledger`` drains a file stream (trigger availableNow) through
``foreachBatch``. Batch ``k`` owns one partition dir ``<sink>/batch_id=<k>``
in each of its sinks, so an at-least-once replay can rewrite exactly its
own output. A twin supplies only ``delta_fn(batch_df, k)``, which yields
one frame per sink, in sink order; the ledger owns the rest:

1. **guard** — a batch whose LAST sink partition holds a ``_COMMITTED``
   marker is skipped. "Directory exists and is non-empty" is not
   commitment: a crash mid job-commit leaves some task files renamed and
   some not.
2. **scrub** — every sink partition of an unmarked batch is removed
   before ``delta_fn`` runs, so the state reads that feed the
   recomputation never see this batch's partial files.
3. **write** — each yielded frame goes straight into its
   ``batch_id=<k>`` dir with ``mode("overwrite")`` and no ``partitionBy``
   (Spark's partition discovery adds ``batch_id`` back on read). An empty
   frame still leaves a readable partition, which is what snapshot sinks
   such as the crawl twin's ``pending`` frontier need.
4. **mark** — ``_COMMITTED`` is dropped into the last sink's partition
   after the last write (underscore prefix: invisible to the parquet
   reader).

Crash windows: before any write, the scrub is a no-op; between writes or
mid-commit, the scrub removes partials and the batch recomputes
identically; between the last write and the marker, the same; after the
marker, the replay skips. In every window the net effect equals
exactly-once. ``tests/test_streaming_commit.py`` pins the crash-between-
sinks and zero-row cases.

Reference parity: the reference's resume path trusts a JSON state file
written whole (enhanced_batch_processor.py:126-143); at cluster scale the
state is many files per batch, so commitment needs its own marker.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Iterable

from pyspark.sql import DataFrame

_MARKER = "_COMMITTED"


def batch_committed(marker_part: str) -> bool:
    """True iff the batch that owns ``marker_part`` fully committed."""
    return os.path.isfile(os.path.join(marker_part, _MARKER))


def scrub_partial(*parts: str) -> None:
    """Remove any partial partition dirs a crashed attempt left behind.

    Call with EVERY partition the batch writes (all sinks), before
    recomputing."""
    for p in parts:
        shutil.rmtree(p, ignore_errors=True)


def mark_committed(marker_part: str) -> None:
    """Drop the commit marker; call strictly AFTER the batch's last write."""
    os.makedirs(marker_part, exist_ok=True)
    with open(os.path.join(marker_part, _MARKER), "w", encoding="utf-8") as fh:
        fh.write("")


def has_batches(base: str) -> bool:
    """True when ``base`` holds at least one ``batch_id=`` partition with a
    data file — the probe a twin runs before reading its own state. A
    partition holding only underscore files must not count: a parquet read
    over markers alone fails schema inference."""
    if not os.path.isdir(base):
        return False
    for n in os.listdir(base):
        sub = f"{base}/{n}"
        if (
            n.startswith("batch_id=")
            and os.path.isdir(sub)
            and any(not f.startswith(("_", ".")) for f in os.listdir(sub))
        ):
            return True
    return False


def run_ledger(
    stream: DataFrame,
    ckpt_dir: str,
    sink_dirs: list[str],
    delta_fn: Callable[[DataFrame, int], Iterable[DataFrame]],
) -> None:
    """Drain ``stream`` to completion, committing each micro-batch through
    the ledger above. ``delta_fn(batch_df, k)`` yields exactly one frame
    per entry of ``sink_dirs``, in that order; the marker lands in the
    last sink."""

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        k = int(batch_id)
        parts = [f"{d}/batch_id={k}" for d in sink_dirs]
        if batch_committed(parts[-1]):
            return  # fully committed already (at-least-once replay)
        scrub_partial(*parts)
        for part, df in zip(parts, delta_fn(batch_df, k), strict=True):
            df.write.mode("overwrite").parquet(part)
        mark_committed(parts[-1])

    (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
