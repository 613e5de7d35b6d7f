"""Batch and delta runs share one resolution chain (`pipeline.resolve`) and
one background-work block (`pipeline.overlap`): each entry point resolves
exactly once, frees every RDD it cached or checkpointed except the
checkpoints it returns — on success and on failure — handles empty input,
and surfaces a failed background store commit only after joining the
foreground work, leaving the store at its published version."""

import pytest
from conftest import persistent_rdds, store_rows

from hinbox_spark import fs as hfs
from hinbox_spark.incremental import _RUN_TABLES, run_incremental, store_version
from hinbox_spark.pipeline import STAGES, _table_path, run_pipeline
from hinbox_spark.tables import SnapshotTable


def test_each_entry_point_resolves_once(delta_world):
    runs = delta_world["runs"]
    assert runs["batch"]["resolves"] == 1
    assert runs["delta"]["resolves"] == 1


def test_runs_free_their_persistent_rdds(delta_world):
    runs = delta_world["runs"]
    assert runs["batch"]["left"] == set()
    # delta returns its checkpointed articles and store assignments
    assert runs["delta"]["left"] <= runs["delta"]["returned"]
    assert 0 < len(runs["delta"]["left"]) <= 2


def test_empty_input(spark, delta_world):
    empty = delta_world["pages"].limit(0)
    out = str(delta_world["base"] / "empty_batch")
    before = persistent_rdds(spark)
    first = run_pipeline(spark, empty, out, resume=False)
    assert persistent_rdds(spark) - before == set()
    for stage in STAGES:
        assert hfs.exists(spark, _table_path(out, stage) + "/_SUCCESS")
        spark.read.parquet(_table_path(out, stage)).schema  # readable
    assert first["entities"].count() == 0 and first["edges"].count() == 0
    resumed = run_pipeline(spark, empty, out, resume=True)
    for name, df in first.items():
        assert resumed[name].schema == df.schema, name
        assert resumed[name].count() == df.count(), name

    store, cfg = delta_world["fork"]()
    heads = {t: SnapshotTable(spark, store + "/" + t).latest_snapshot_id()
             for t in _RUN_TABLES}
    res = run_incremental(spark, empty, str(delta_world["base"] / "empty_delta"),
                          cfg=cfg, run_id="empty")
    assert heads == {t: SnapshotTable(spark, store + "/" + t).latest_snapshot_id()
                     for t in _RUN_TABLES}
    metrics = {r.stage: r.rows for r in res["metrics"].collect()}
    assert len(metrics) == 5 and set(metrics.values()) == {0}


def test_failed_background_commit_in_delta(spark, monkeypatch, delta_world):
    """A failing name_bands append (a background commit) surfaces after the
    foreground profile rebuild finished, leaves no persistent RDDs and the
    published store version as it was, every table read at it equal to the
    pre-run store; a retry converges to the uncrashed control store."""
    store, cfg = delta_world["fork"]()
    out = str(delta_world["base"] / "bg_fail")
    real = SnapshotTable.append

    def append(self, df, *a, **k):
        if self.path.endswith("/name_bands"):
            raise RuntimeError("name_bands commit failure")
        return real(self, df, *a, **k)

    monkeypatch.setattr(SnapshotTable, "append", append)
    before = persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="name_bands commit failure"):
        run_incremental(spark, delta_world["pages_b"], out, cfg=cfg, run_id="bg")
    monkeypatch.undo()
    assert persistent_rdds(spark) - before == set()
    # the foreground profile rebuild ran to its store commit before the
    # background error was raised
    assert hfs.exists(spark, out + "/profiles/_SUCCESS")
    profiles = SnapshotTable(spark, store + "/profiles").latest_snapshot_id()
    assert profiles == delta_world["heads"]["profiles"] + 1
    pristine = delta_world["pristine"]
    assert store_version(spark, store) == store_version(spark, pristine)
    assert store_rows(spark, store) == store_rows(spark, pristine)

    run_incremental(spark, delta_world["pages_b"], out + "_retry", cfg=cfg,
                    run_id="bg-retry")
    assert store_rows(spark, store) == store_rows(spark, delta_world["store"])
