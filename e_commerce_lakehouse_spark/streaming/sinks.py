"""Streaming sinks (reference K4/K5/K6, hardened).

- Bronze parquet append with checkpoint, partitioned by event-time
  y/m/d (reference partitions by processing time — gap fixed).
- foreachBatch adapters for external serving stores behind a small
  interface, executed per-PARTITION on executors (the reference
  collect()s every batch to the driver — streaming_flow.py:92,134).
- The reference's Redis sink has no checkpoint (streaming_flow.py:219-225,
  at-least-once with unbounded replay); here every sink checkpoints.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def write_bronze_stream(
    events: DataFrame, path: str, checkpoint: str, available_now: bool = False
) -> StreamingQuery:
    """Checkpointed append of the parsed stream to partitioned parquet
    (reference K4, streaming_flow.py:200-208)."""
    writer = (
        events.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .partitionBy("year", "month", "day")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class RecencyStore(Protocol):
    """Redis-shaped serving interface (LPUSH/LTRIM/EXPIRE semantics).
    Implementations must be serializable or constructed per-partition.

    ``expire_seconds`` carries the reference's 24 h key TTL
    (streaming_flow.py:109-111 issues EXPIRE alongside LTRIM) through
    the protocol — implementations that ignore it silently diverge from
    reference serving semantics (keys of inactive users never age out).
    """

    def push(
        self,
        user_id: str,
        kind: str,
        product_ids: Iterable[str],
        expire_seconds: int = 86400,
    ) -> None: ...


def foreach_batch_recency(
    store_factory, kind: str, cap: int = 50, expire_seconds: int = 86400
):
    """Build a foreachBatch fn that updates per-user recency lists
    DISTRIBUTED: newest-first per user computed with Spark (not a
    driver loop), then foreachPartition opens one store connection per
    partition (reference K5 semantics: cap 50, 24 h EXPIRE;
    streaming_flow.py:87-113).
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.col("event_time").desc())
        compact = (
            batch_df.filter(
                F.col("user_id").isNotNull() & F.col("product_id").isNotNull()
            )
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= cap)
            .groupBy("user_id")
            .agg(F.collect_list("product_id").alias("products"))
        )

        def handle(rows):
            store = store_factory()
            for row in rows:
                store.push(row["user_id"], kind, row["products"], expire_seconds)

        compact.foreachPartition(handle)

    return fn


def kafka_payload(recs: DataFrame) -> DataFrame:
    """Serialize rerank output to Kafka key/value (reference K6 does
    this driver-side with json.dumps; native F.to_json keeps it on
    executors — streaming_flow.py:151-163)."""
    return recs.select(
        F.col("user_id").cast("string").alias("key"),
        F.to_json(
            F.struct(
                "user_id",
                F.col("recommendations"),
                F.current_timestamp().alias("generated_at"),
            )
        ).alias("value"),
    )


def foreach_batch_merge_snapshot(
    root: str, keys: list[str], order_col: str | None = None
):
    """Exactly-once streaming MERGE sink over the engine's snapshot
    log: each micro-batch upserts (source wins) into the snapshot
    table at ``root``, and the Structured Streaming ``batch_id`` is
    committed ATOMICALLY with the rows it covers — it rides the
    manifest entry, and the manifest swap IS the commit point. On
    restart Spark replays the last in-flight batch with the SAME
    batch_id; the sink finds it in a committed entry and no-ops. This
    is the standard foreachBatch idempotence recipe (Structured
    Streaming docs' "idempotent writes by batchId"), implemented over
    the repo's own transaction log the way Delta does it with
    txnAppId/txnVersion.

    ``order_col``: when a batch can carry several rows per key, keep
    the max-``order_col`` row per key (ties broken by the key tuple)
    before merging; None asserts nothing and merges the batch as-is —
    a multi-row key would then write one post-state per row, so
    pre-dedup or pass order_col.

    A crash BETWEEN the data write and the manifest swap leaves an
    orphan snap dir invisible to every reader — replay rewrites the
    batch under the next snapshot id; no torn state is readable.

    Write strategy: the row-level change writer
    (``sources.deletes._write_changes``), merge-on-read by DEFAULT
    (deletion-vector ``merge_upsert_dv`` — O(batch) bytes per trigger);
    the table property ``write.delete.mode='copy-on-write'`` rewrites
    only the files holding a matched row instead. Schedule
    ``sources.deletes.maintain()`` as the compaction story for the
    default path.
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        from ..sources import deletes

        src = batch_df
        if order_col is not None:
            src = _first_per_key(src, keys, F.col(order_col).desc(), *map(F.col, keys))

        def write(mode: str, meta: dict) -> None:
            spark = batch_df.sparkSession
            if mode == deletes.MOR:
                deletes.merge_upsert_dv(spark, root, src, list(keys), meta=meta)
            else:
                deletes._write_changes(
                    spark, root, mode, "merge", meta=meta,
                    **deletes._upsert(root, src, list(keys)),
                )

        _write_batch_once(root, batch_id, src, write)

    return fn


def foreach_batch_apply_changes(
    root: str, keys: list[str], order_col: str | None = None
):
    """Exactly-once streaming CDC consumer (DLT ``APPLY CHANGES INTO``
    as a foreachBatch sink): each micro-batch is a change feed — rows
    carry ``_change_type`` (see ``operators.upsert.cdc_diff``) — folded
    onto the snapshot table at ``root`` with ``apply_changes``'
    semantics, which unlike the MERGE sink can DELETE. Idempotence is
    the same batch-id-in-the-manifest transaction as
    :func:`foreach_batch_merge_snapshot`.

    ``order_col`` is DLT's SEQUENCE BY: within a batch, a key's fate is
    its max-``order_col`` change (preimages rank below their postimage
    at the same sequence value, so a pre/post pair compacts to the
    post). None asserts the batch is already compacted to one change
    per key.

    Merge-on-read by default, like :func:`foreach_batch_merge_snapshot`
    (``write.delete.mode='copy-on-write'`` opts out).
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        from ..sources import deletes

        src = batch_df
        if order_col is not None:
            pre_last = (F.col("_change_type") == "update_preimage").cast("int")
            # _change_type joins the sort so a delete-vs-insert tie at
            # the same sequence value resolves the same way on every
            # task/retry (keys are constant within the partition and
            # cannot break this tie)
            src = _first_per_key(
                src, keys, F.col(order_col).desc(), pre_last.asc(), F.col("_change_type").asc()
            )

        def write(mode: str, meta: dict) -> None:
            deletes._write_changes(
                batch_df.sparkSession, root, mode, "apply_changes", meta=meta,
                **deletes._changes(root, src, list(keys)),
            )

        _write_batch_once(root, batch_id, deletes._post_states(src), write)

    return fn


def _first_per_key(df: DataFrame, keys: list[str], *order) -> DataFrame:
    """Each key's first row under ``order`` (DLT's SEQUENCE BY)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def _write_batch_once(
    root: str, batch_id: int, first: DataFrame, write: Callable[[str, dict], None]
) -> None:
    """The exactly-once micro-batch commit both snapshot sinks share,
    one retried read-check-write cycle: a committed batch id writes
    nothing; an empty table takes ``first`` as its first snapshot;
    otherwise ``write(mode, meta)`` commits through the row-level
    change writer in the table's delete mode (unset: merge-on-read, the
    sparse-write shape DVs were built for). The batch id rides the
    commit's meta; a conflict re-runs the cycle, batch-id check
    included."""
    from ..sources import deletes
    from ..sources import snapshots as snap

    @snap._retry_conflicts
    def attempt() -> None:
        manifest = snap._load(root)
        if _batch_committed(manifest, batch_id):
            return
        meta = {"stream_batch_id": batch_id}
        if manifest["current"] is None:
            snap.write_snapshot(
                first, root, mode="overwrite", meta=meta, expected_base=None
            )
            return
        write(deletes._mode_of(manifest, deletes.MOR), meta)

    attempt()


def _batch_committed(manifest: dict, batch_id: int) -> bool:
    """The exactly-once check every snapshot sink makes before writing:
    does a committed entry of ``manifest`` already carry stream batch
    ``batch_id`` in its meta (a replayed batch then writes nothing)?"""
    return any(
        e.get("meta", {}).get("stream_batch_id") == batch_id
        for e in manifest["snapshots"]
    )


def _commit_batch_once(fact_root: str, batch_df: DataFrame, batch_id: int) -> None:
    """The exactly-once micro-batch commit both materialized-view
    sinks share: append the batch to the fact snapshot table with its
    stream batch id in the commit meta; a replayed batch finds its id
    already committed and writes nothing."""
    from ..sources import snapshots as snap

    manifest = snap._load(fact_root)
    if not _batch_committed(manifest, batch_id):
        snap.write_snapshot(
            batch_df,
            fact_root,
            mode="append" if manifest["current"] is not None else "overwrite",
            meta={"stream_batch_id": batch_id},
        )


def foreach_batch_gold_refresh(fact_root: str, state_root: str, spec: dict):
    """Streaming materialized view: each micro-batch APPENDS its rows
    to the silver fact snapshot table and folds the gold aggregate
    forward at O(batch) via the incremental-gold machinery
    (plans/ivm.refresh_gold_incremental — file-granular feed + signed
    partial merge). Exactly-once rides the same batch-id-in-manifest
    transaction as the sinks above, on the FACT table: a replayed
    batch finds its id committed and no-ops, and the gold refresh is
    idempotent by watermark (state already at the fact's head ->
    no-op), so the pair needs no cross-table transaction.

    This is the streaming form of a Delta Live Tables materialized
    view over an append stream: the base table and its rollup stay
    consistent without ever recomputing the rollup from the base.
    """
    from ..plans.ivm import refresh_gold_incremental

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        _commit_batch_once(fact_root, batch_df, batch_id)
        refresh_gold_incremental(
            batch_df.sparkSession, fact_root, state_root, spec
        )

    return fn


def foreach_batch_join_view_refresh(
    fact_root: str,
    dim_root: str,
    state_root: str,
    join_keys: list[str],
):
    """Streaming materialized JOIN view: each micro-batch appends its
    rows to the fact snapshot table (exactly-once by
    batch-id-in-manifest, as above) and brings the persisted A ⋈ B
    view forward with plans/ivm.refresh_join_view — the delta-join
    feed covers the batch's fact rows AND any dim commits that landed
    since the last refresh, so out-of-band dim updates flow into the
    view on the next micro-batch without any extra wiring. Idempotent
    end-to-end: a replayed batch finds its id committed and the
    refresh no-ops on matching watermarks."""
    from ..plans.ivm import refresh_join_view

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        _commit_batch_once(fact_root, batch_df, batch_id)
        refresh_join_view(
            batch_df.sparkSession,
            fact_root,
            dim_root,
            state_root,
            join_keys,
        )

    return fn
