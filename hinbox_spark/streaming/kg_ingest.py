"""Streaming KG construction: pages stream in, the entity store absorbs
each micro-batch as an incremental delta.

Composition, not new machinery: `writeStream.foreachBatch` hands every
micro-batch of pages to `incremental.run_incremental`, which already gives
the two properties a streaming sink needs —
  * idempotence under re-delivery: the processed-pages log's content-hash
    skip turns a re-delivered epoch into an empty delta whose apply is a
    no-op (the store head doesn't move), so foreachBatch's at-least-once
    contract composes to exactly-once EFFECTS on the store;
  * crash atomicity: a run's store commit (`incremental.commit_run`) is
    visible only once it publishes a store version, at which every store
    read resolves its tables; the next commit rolls back what a crashed one
    left past it. The batch bootstrap the stream starts from commits the
    same way, and `run_pipeline(resume=True)` finishes a crashed one.
Each epoch's per-run tables (articles, mentions, deltas, review, metrics)
land under `output_root/batch-<epoch>/` for lineage.

Trigger.AvailableNow drains everything present and stops — the reference's
operating mode is periodic incremental batches, so that is the honest
trigger; a continuous trigger works identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from hinbox_spark.config import DomainConfig
from hinbox_spark.incremental import run_incremental
from hinbox_spark.pipeline import overlap


def stream_kg_ingest(
    pages_stream: DataFrame,
    output_root: str,
    cfg: DomainConfig,
    checkpoint_dir: str,
):
    """Start an AvailableNow streaming query funnelling page micro-batches
    into the snapshot store as incremental KG deltas. Returns the
    StreamingQuery; callers awaitTermination()."""
    if not cfg.snapshot_store_path:
        raise ValueError("stream_kg_ingest requires cfg.snapshot_store_path")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # nothing reads the returned frames: keep none of the checkpoints
        # the run made for them, or every epoch leaves them behind
        with overlap(batch_df.sparkSession):
            run_incremental(
                batch_df.sparkSession,
                batch_df,
                f"{output_root.rstrip('/')}/batch-{batch_id}",
                cfg=cfg,
                run_id=f"stream-{batch_id}",
            )

    return (
        pages_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
