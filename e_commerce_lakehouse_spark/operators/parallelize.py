"""Driver-side parallelism helpers.

``spread_for_cpu`` is the input-parallelism helper for CPU-heavy
per-row operators. Spark sizes scan splits by bytes
(``spark.sql.files.maxPartitionBytes``), which is right for I/O-bound
plans but wrong for compute-bound ones: a small file packs into ONE
split, serializing an expensive Arrow kernel or per-pair verify onto
one core. ``spread_for_cpu`` round-robins such inputs up to the
session's default parallelism — and is a structural no-op at 100 TB,
where the scan already yields thousands of splits.

``overlap`` runs independent eager chains from concurrent driver
threads; the checkpoint helpers own the block ids of iterative state.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any
from urllib.parse import urlparse

from pyspark.sql import DataFrame


def spread_for_cpu(df: DataFrame, cap: int | None = None) -> DataFrame:
    """Round-robin repartition to the session's default parallelism IF
    the scan is under-parallel. Split count is estimated from file
    metadata (local files) — no job, no RDD conversion; non-local URIs
    fall back to the physical-plan partition count.

    ``cap`` bounds the inflation target (never the natural split count):
    iterative algorithms that re-reference a SMALL input across many
    stages pay per-task scheduling each round, so a caller that knows
    its stage structure can cap fan-out. At scale the scan is already
    parallel and both the spread and the cap are structural no-ops."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if cap is not None:
        target = min(target, cap)
    try:
        files = df.inputFiles()
        max_bytes = int(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728").rstrip("b")
        )
        total = sum(
            os.path.getsize(urlparse(f).path) for f in files if f.startswith("file:")
        )
        est_splits = max(len(files), -(-total // max_bytes))
    except Exception:
        # exception path ONLY (non-local URIs / missing files): df.rdd
        # here is a metadata peek at the physical plan's partitioning,
        # never an action — it must stay the one place this module
        # touches the RDD API.
        est_splits = df.rdd.getNumPartitions()
    if est_splits < target:
        return df.repartition(target)
    return df


def overlap(spark, *calls: Callable[[], Any]) -> list[Any]:
    """Run independent zero-argument ``calls`` from one driver thread
    each and return their results in call order.

    Each call's jobs are submitted concurrently to the same executors
    (Spark's scheduler is thread-safe), so one chain's barriers — a
    scalar collect, an eager checkpoint, a commit's metadata I/O —
    back-fill with another chain's tasks instead of leaving cores idle.
    The calls must share no mutable state; lazily built input frames
    may be shared read-only.

    Threads run through ``pyspark.inheritable_thread_target``, so each
    inherits the caller's local properties (job group, description,
    scheduler pool) and session tags: every job a call starts is
    attributed to the caller's group. All calls run to completion even
    when one fails; the first failure in call order is then re-raised,
    so no sibling is left writing behind the caller's back."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(c)) for c in calls
        ]
    # leaving the pool joined every call: result() re-raises in order
    return [f.result() for f in futures]


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def local_checkpoint_tracked(
    df: DataFrame, eager: bool = True
) -> tuple[DataFrame, set[int]]:
    """``df.localCheckpoint()`` plus the id of the RDD block the
    checkpoint pinned, so iterative algorithms can release superseded
    rounds with :func:`release_rdds`. Spark's ContextCleaner only frees
    checkpoint blocks after BOTH the Python wrapper and the py4j proxy
    are garbage-collected — far too late for a loop that pins a fresh
    copy of its state every round (N rounds would hold N copies of the
    state in executor storage memory, evicting genuinely hot blocks at
    scale). The id is read from the checkpoint's own plan node (the
    ``LogicalRDD`` Spark SQL wraps around the checkpointed RDD), never
    from the session's global persistent-RDD set: concurrent driver
    threads cannot mis-attribute each other's blocks, and blocks of a
    ``.cache()``d input that materialize during the checkpoint job stay
    the caller's.

    ``eager=False`` marks the checkpoint but defers materialization to
    the caller's next action — use when that action is immediate (e.g.
    a convergence-witness aggregate), folding checkpoint-write and
    witness into ONE job instead of two. The persist registration (and
    therefore the id) happens at call time either way. Only safe
    when the frame is consumed by an action before any multi-reference
    plan — a lazy checkpoint referenced twice inside its materializing
    job may compute partitions twice."""
    out = df.localCheckpoint(eager=eager)
    return out, {int(out._jdf.queryExecution().logical().rdd().id())}


def release_rdds(spark, ids: set[int]) -> None:
    """Unpersist the given checkpoint block ids (non-blocking). Only
    ever call this on SUPERSEDED state: a localCheckpoint's blocks ARE
    its data — releasing blocks a live DataFrame still reads fails its
    next action."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)
