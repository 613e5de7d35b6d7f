"""Streaming KG ingest (streaming/kg_ingest.py): page micro-batches drain
into the snapshot store as incremental deltas — the store ends identical
to batch runs over the same corpus, a re-drain is a no-op (exactly-once
EFFECTS from the content-hash skip under foreachBatch's at-least-once
contract), and per-epoch run tables land under the output root."""

import dataclasses
import shutil

import pyspark.sql.functions as F

from hinbox_spark.config import get_default_config
from hinbox_spark.pipeline import run_pipeline
from hinbox_spark.sources.pages_gen import pages_dataframe
from hinbox_spark.streaming.kg_ingest import stream_kg_ingest
from hinbox_spark.tables import SnapshotTable


def _store_entities(spark, store):
    st = SnapshotTable(spark, store + "/entities")
    return st.read_resolved(["entity_id"])

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def test_stream_kg_ingest_matches_batch_and_redrain_is_noop(spark, tmp_path):
    pages, _ = pages_dataframe(spark, 60, 7)
    urls = sorted(r.url for r in pages.select("url").collect())
    pages_a = pages.filter(F.col("url").isin(set(urls[:45])))
    pages_b = pages.filter(F.col("url").isin(set(urls[45:])))

    store = str(tmp_path / "store")
    cfg = dataclasses.replace(get_default_config(), snapshot_store_path=store)
    # bootstrap the store with a batch run over corpus A (the documented
    # operating mode), then stream corpus B in as micro-batches
    run_pipeline(spark, pages_a, str(tmp_path / "boot"), cfg=cfg, resume=False)
    # the batch reference below starts from a copy of the same bootstrap
    store2 = str(tmp_path / "store2")
    shutil.copytree(store, store2)

    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "runs")
    pages_b.write.mode("append").parquet(src)
    q = stream_kg_ingest(
        spark.readStream.schema(PAGES_SCHEMA).parquet(src), out, cfg, ckpt
    )
    q.awaitTermination()

    ent_table = SnapshotTable(spark, store + "/entities")
    head_after_stream = ent_table.latest_snapshot_id()
    streamed = {
        (r["entity_type"], r["canonical_name"])
        for r in _store_entities(spark, store).collect()
    }

    # batch reference: one incremental(B) onto the copied bootstrap(A)
    cfg2 = dataclasses.replace(get_default_config(), snapshot_store_path=store2)
    from hinbox_spark.incremental import run_incremental

    run_incremental(spark, pages_b, str(tmp_path / "inc2"), cfg=cfg2)
    batch = {
        (r["entity_type"], r["canonical_name"])
        for r in _store_entities(spark, store2).collect()
    }
    assert streamed == batch and streamed

    # a second drain with no new files fires no epoch; re-submitting the
    # SAME pages as new files fires an epoch whose content-hash skip makes
    # it a store no-op (exactly-once effects under re-delivery)
    q2 = stream_kg_ingest(
        spark.readStream.schema(PAGES_SCHEMA).parquet(src), out, cfg, ckpt
    )
    q2.awaitTermination()
    pages_b.write.mode("append").parquet(src)  # same content, new files
    q3 = stream_kg_ingest(
        spark.readStream.schema(PAGES_SCHEMA).parquet(src), out, cfg, ckpt
    )
    q3.awaitTermination()
    assert ent_table.latest_snapshot_id() == head_after_stream
    assert streamed == {
        (r["entity_type"], r["canonical_name"])
        for r in _store_entities(spark, store).collect()
    }


def test_drain_leaves_no_persistent_rdds(spark, tmp_path, delta_world):
    """Each epoch's `run_incremental` returns frames over checkpoints that
    foreachBatch never reads: a drain must free them, not leave them
    behind per micro-batch."""
    from conftest import persistent_rdds

    store, cfg = delta_world["fork"]()
    pages_b = delta_world["pages_b"]
    urls = sorted(r.url for r in pages_b.select("url").collect())
    src = str(tmp_path / "incoming")
    half = len(urls) // 2
    for part in (urls[:half], urls[half:]):  # one file per epoch
        pages_b.filter(F.col("url").isin(part)).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    before = persistent_rdds(spark)
    runs = tmp_path / "runs"
    q = stream_kg_ingest(
        spark.readStream.schema(PAGES_SCHEMA).option("maxFilesPerTrigger", 1)
        .parquet(src),
        str(runs), cfg, str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    assert sorted(p.name for p in runs.iterdir()) == ["batch-0", "batch-1"]
    assert persistent_rdds(spark) <= before
