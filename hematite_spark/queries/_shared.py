"""DuckDB-oracle SQL helper fragments shared by several thematic
query modules, plus the checkpoint lifecycle helpers."""

from __future__ import annotations

import warnings


def release_checkpoint(*dfs) -> None:
    """Unpersist the RDD blocks behind localCheckpointed DataFrames.

    ``Dataset.localCheckpoint`` registers its materialized RDD in the
    SparkContext's persistent-RDD map and NOTHING in a normal query
    lifecycle ever releases it — dropping the Python reference does
    not help (the map holds the JVM object until a FULL GC, and
    Spark's own periodic GC defaults to every 30 minutes), so a
    long-lived session accumulates every checkpoint it ever made.
    Measured: 53-query bench suite × 3 reps retained 100+ block sets,
    and the storage/GC pressure made the 32-core suite SLOWER than the
    same suite at 8 cores. At 100 TB the same leak is executors OOMing
    on retained storage blocks.

    Call this on checkpointed intermediates the moment their last
    consumer has materialized (checkpoints are eager, so "the last
    downstream checkpoint/collect happened" is a build-time event).
    Never call it on a frame the RETURNED plan still reads — a local
    checkpoint has no lineage to recompute from, so unpersisting a
    live one makes the next action fail.

    ``None`` arguments are skipped (an iterative caller's first step
    has no previous checkpoint). Release is an optimization, never a
    correctness dependency, so a failing RDD accessor (private API,
    shape verified on Spark 4.x; or a frame that is no checkpoint)
    does not raise: it warns once per process."""
    for df in dfs:
        if df is None:
            continue
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception as exc:
            _warn_release_failed(exc)


def release_all_checkpoints(spark) -> None:
    """Unpersist EVERY persisted RDD in the session — the between-
    queries hygiene for sequential drivers (bench.py, check_oracle).

    Safe exactly when nothing built earlier will be re-executed: each
    bench/oracle iteration rebuilds its DataFrame from the parquet
    inputs, so blocks from the previous query are dead weight. Not for
    use mid-query or in sessions that hold live handles to earlier
    frames. Failures warn once per process, like release_checkpoint."""
    try:
        for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(False)
    except Exception as exc:
        _warn_release_failed(exc)


_RELEASE_WARNED = False


def _warn_release_failed(exc: Exception) -> None:
    """One RuntimeWarning per process for a failed checkpoint release:
    storage then stays retained until the JVM's next full GC."""
    global _RELEASE_WARNED
    if not _RELEASE_WARNED:
        _RELEASE_WARNED = True
        warnings.warn(
            "hematite_spark: checkpoint release failed "
            f"({type(exc).__name__}: {exc}); checkpoint blocks stay "
            "retained until a full JVM GC — check the PySpark classic-mode "
            "internals (DataFrame._jdf, SparkContext._jsc)",
            RuntimeWarning,
            stacklevel=3,
        )


_DUCK_HASH_PCT_EVENTS = (
    "(((strpos('0123456789abcdef', md5(event_id::VARCHAR)[1]) - 1) * 4096"
    " + (strpos('0123456789abcdef', md5(event_id::VARCHAR)[2]) - 1) * 256"
    " + (strpos('0123456789abcdef', md5(event_id::VARCHAR)[3]) - 1) * 16"
    " + (strpos('0123456789abcdef', md5(event_id::VARCHAR)[4]) - 1)) % 100)"
)
