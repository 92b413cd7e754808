"""The streaming commit ledger (``streaming/commit.py::run_ledger``) on its
own: a crash between any two sinks replays to the uncrashed result, a
zero-row batch commits and reads back, and the commit policy lives in
exactly one module."""

from __future__ import annotations

import os
import pathlib
import re
import shutil
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from webscraping_video_pipeline_spark.streaming.commit import (
    batch_committed,
    has_batches,
    run_ledger,
)

SCHEMA = "key long, v long"
SINKS = ("out", "tally", "seen")  # "seen" is last: it holds the marker


def _land(src_dir: str, files: list[list[tuple[int, int]]]) -> None:
    """One parquet file per batch; spaced mtimes make the file source
    take them in list order, one per micro-batch."""
    os.makedirs(src_dir, exist_ok=True)
    t0 = time.time() - 1000
    for i, rows in enumerate(files):
        path = f"{src_dir}/b{i}.parquet"
        pd.DataFrame(rows, columns=["key", "v"], dtype="int64").to_parquet(
            path, index=False
        )
        os.utime(path, (t0 + 10 * i, t0 + 10 * i))


def _first_seen(spark, wd: str):
    """Three-sink delta: rows whose key no earlier batch saw, a one-row
    tally of them, and the seen-key delta the next batch reads back."""
    seen_dir = f"{wd}/seen"

    def delta_fn(batch_df, k):
        rows = batch_df.select("key", "v")
        if has_batches(seen_dir):
            rows = rows.join(
                spark.read.parquet(seen_dir).select("key"), "key", "left_anti"
            )
        rows = rows.localCheckpoint(eager=True)
        yield rows
        yield rows.agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").cast("long").alias("s")
        )
        yield rows.select("key")

    return delta_fn


def _run(spark, src_dir: str, wd: str, delta_fn) -> None:
    run_ledger(
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir),
        f"{wd}/ckpt",
        [f"{wd}/{s}" for s in SINKS],
        delta_fn,
    )


def _sinks(spark, wd: str) -> dict[str, list[tuple]]:
    return {
        s: sorted(tuple(r) for r in spark.read.parquet(f"{wd}/{s}").collect())
        for s in SINKS
    }


FILES = [
    [(k, k) for k in range(10)],
    [(k, 10 * k) for k in range(5, 15)],  # keys 5..9 were seen in batch 0
]


@pytest.fixture(scope="module")
def uncrashed(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ledger_ref")
    src, wd = str(root / "src"), str(root / "wd")
    _land(src, FILES)
    _run(spark, src, wd, _first_seen(spark, wd))
    return _sinks(spark, wd)


@pytest.mark.parametrize("crash_after", [0, 1, 2])
def test_crash_between_sinks_replays_to_uncrashed(
    spark, tmp_path, uncrashed, crash_after
):
    src, wd = str(tmp_path / "src"), str(tmp_path / "wd")
    _land(src, FILES)
    delta_fn = _first_seen(spark, wd)

    def crashing(batch_df, k):
        for i, df in enumerate(delta_fn(batch_df, k)):
            yield df  # the ledger writes it before resuming us
            if k == 1 and i == crash_after:
                raise RuntimeError("injected crash")

    with pytest.raises(Exception, match="injected crash"):
        _run(spark, src, wd, crashing)
    assert batch_committed(f"{wd}/seen/batch_id=0")
    assert not batch_committed(f"{wd}/seen/batch_id=1")
    # crash_after == 2 leaves batch 1's seen delta on disk without its
    # marker: unless the replay scrubs it, batch 1 reads its own keys as
    # already seen and emits nothing
    shutil.rmtree(f"{wd}/ckpt")
    _run(spark, src, wd, delta_fn)
    assert _sinks(spark, wd) == uncrashed
    assert batch_committed(f"{wd}/seen/batch_id=1")


def test_zero_row_batch_commits_and_is_skipped_on_replay(spark, tmp_path):
    src, wd = str(tmp_path / "src"), str(tmp_path / "wd")
    _land(
        src,
        [
            [(k, 1) for k in range(5)],
            [(k, 2) for k in range(5)],  # every key already seen: empty delta
            [(k, 3) for k in range(5, 8)],
        ],
    )
    _run(spark, src, wd, _first_seen(spark, wd))

    for k in range(3):
        assert batch_committed(f"{wd}/seen/batch_id={k}")
    want = {
        "out": sorted([(k, 1, 0) for k in range(5)] + [(k, 3, 2) for k in range(5, 8)]),
        "tally": [(0, None, 1), (3, 9, 2), (5, 5, 0)],  # (n, s, batch_id)
        "seen": sorted([(k, 0) for k in range(5)] + [(k, 2) for k in range(5, 8)]),
    }
    assert _sinks(spark, wd) == want

    def must_not_run(batch_df, k):
        raise AssertionError(f"committed batch {k} was recomputed")

    shutil.rmtree(f"{wd}/ckpt")
    _run(spark, src, wd, must_not_run)
    assert _sinks(spark, wd) == want


def test_has_batches_ignores_marker_only_partitions(tmp_path):
    base = tmp_path / "sink"
    assert not has_batches(str(base))
    (base / "batch_id=0").mkdir(parents=True)
    (base / "batch_id=0" / "_COMMITTED").write_text("")
    (base / "batch_id=0" / "_SUCCESS").write_text("")
    assert not has_batches(str(base))
    (base / "batch_id=1").mkdir()
    (base / "batch_id=1" / "part-0.parquet").write_text("")
    assert has_batches(str(base))


def test_commit_policy_lives_only_in_commit_py():
    """Regrowth guard: no twin may carry its own foreachBatch loop,
    batch write, dynamic-overwrite option or replay guard."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "webscraping_video_pipeline_spark/streaming"
    )
    banned = {
        "foreachBatch(": re.compile(r"foreachBatch\("),
        "partitionOverwriteMode": re.compile(r"partitionOverwriteMode"),
        "batch_committed(": re.compile(r"\bbatch_committed\("),
        ".write": re.compile(r"\.write\."),
        "has_batches definition": re.compile(r"def _?has_batches\("),
    }
    offenders = [
        f"{p.name}: {name}"
        for p in sorted(pkg.glob("*.py"))
        if p.name != "commit.py"
        for name, rx in banned.items()
        if rx.search(p.read_text())
    ]
    assert not offenders, offenders
    commit_src = (pkg / "commit.py").read_text()
    assert len(re.findall(r"foreachBatch\(", commit_src)) == 1
    assert len(re.findall(r"\.write\.", commit_src)) == 1
