"""Incremental KG construction against the snapshot store.

The headline invariant: bootstrap the store from a batch run over corpus A,
apply corpus B with `run_incremental`, and the store's entity + profile
tables are FIELD-IDENTICAL to a from-scratch batch run over A∪B (and the
edge triple set is equal) — while the incremental run only ever touched
|B|-proportional data. Plus the incremental-mode semantics: processed-page
skip across runs, review-queue accumulation with run attribution, bridge
disputes instead of store-store auto-merges, empty-delta no-op commits.
"""

from __future__ import annotations

import dataclasses
import tempfile

import pyspark.sql.functions as F
import pytest

from hinbox_spark.config import get_default_config
from hinbox_spark.functions.embeddings import embed_text
from hinbox_spark.incremental import run_incremental
from hinbox_spark.operators.store_link import link_entities_to_store
from hinbox_spark.pipeline import run_pipeline
from hinbox_spark.sources.pages_gen import pages_dataframe
from hinbox_spark.tables import SnapshotTable

ENTITY_FIELDS = [
    "entity_type", "canonical_name", "canonical_type",
    "canonical_start_date", "aliases", "all_names", "n_mentions",
    "n_articles", "alt_entries", "alt_names", "alt_types",
    "alt_start_dates", "alternative_names", "extraction_timestamp",
    "articles", "search_embedding",
]
PROFILE_FIELDS = [
    "profile_text", "profile_tags", "profile_confidence",
    "profile_sources", "current_version", "versions", "qc_flags",
    "name_variants", "grounding_score", "grounding_passed",
    "total_claims", "supported_claims", "verified_claims",
    "profile_embedding",
]


@pytest.fixture(scope="module")
def worlds(spark):
    """Bootstrap(A) + incremental(B) store, and the full-batch(A∪B) run."""
    pages, _ = pages_dataframe(spark, 70, 7)
    urls = sorted(r.url for r in pages.select("url").collect())
    pages_a = pages.filter(F.col("url").isin(set(urls[:52]))).localCheckpoint()
    pages_b = pages.filter(F.col("url").isin(set(urls[52:]))).localCheckpoint()

    store = tempfile.mkdtemp()
    cfg = dataclasses.replace(
        get_default_config(), snapshot_store_path=store
    )
    run_pipeline(spark, pages_a, tempfile.mkdtemp(), cfg=cfg, resume=False)
    inc = run_incremental(
        spark, pages_b, tempfile.mkdtemp(), cfg=cfg, run_id="delta-1"
    )
    full = run_pipeline(
        spark, pages, tempfile.mkdtemp(),
        cfg=dataclasses.replace(cfg, snapshot_store_path=None), resume=False,
    )
    return {
        "store": store, "cfg": cfg, "pages_b": pages_b,
        "inc": inc, "full": full, "spark": spark,
    }


def test_incremental_entities_match_full_batch(worlds):
    inc = {r.entity_id: r for r in worlds["inc"]["entities_store"].collect()}
    full = {r.entity_id: r for r in worlds["full"]["entities"].collect()}
    # content-addressed ids: the incremental store converges to the exact
    # entity set a from-scratch batch run over A∪B derives
    assert set(inc) == set(full) and len(inc) > 0
    for eid in inc:
        for fld in ENTITY_FIELDS:
            assert getattr(inc[eid], fld) == getattr(full[eid], fld), (
                f"{inc[eid].canonical_name}: {fld}"
            )


def test_incremental_profiles_match_full_batch(worlds):
    st = SnapshotTable(worlds["spark"], worlds["store"] + "/profiles")
    inc = {r.entity_id: r for r in st.read_resolved(["entity_id"]).collect()}
    full = {r.entity_id: r for r in worlds["full"]["profiles"].collect()}
    assert set(inc) == set(full)
    for eid in inc:
        for fld in PROFILE_FIELDS:
            assert getattr(inc[eid], fld) == getattr(full[eid], fld), (
                f"{inc[eid].canonical_name}: {fld}"
            )


def test_incremental_edges_match_full_batch(worlds):
    st = SnapshotTable(worlds["spark"], worlds["store"] + "/edges")
    inc = {
        (r.subj, r.pred, r.obj)
        for r in st.read().select("subj", "pred", "obj").distinct().collect()
    }
    full = {
        (r.subj, r.pred, r.obj)
        for r in worlds["full"]["edges"].select("subj", "pred", "obj").collect()
    }
    assert inc == full and len(inc) > 0


def test_incremental_is_delta_scoped(worlds):
    """The run's own stage tables only cover the delta (never corpus A)."""
    m = {r.stage: r.rows for r in worlds["inc"]["metrics"].collect()}
    n_b = worlds["pages_b"].count()
    assert 0 < m["delta_articles"] <= n_b
    assert m["store_matched"] > 0  # overlapping entities were matched
    assert m["new_entities"] == m["delta_entities"] - m["store_matched"]
    # several delta entities can collapse into one store row, never the
    # other way around
    assert (
        m["new_entities"]
        < m["entities_upserted"]
        <= m["store_matched"] + m["new_entities"]
    )


def test_rerun_same_delta_is_noop(worlds):
    """Cross-run F2: a rerun of an already-applied delta skips every page
    and leaves the store head untouched (no empty snapshot commits)."""
    spark = worlds["spark"]
    st = SnapshotTable(spark, worlds["store"] + "/entities")
    head_before = st.latest_snapshot_id()
    out = run_incremental(
        spark, worlds["pages_b"], tempfile.mkdtemp(),
        cfg=worlds["cfg"], run_id="delta-1-rerun",
    )
    m = {r.stage: r.rows for r in out["metrics"].collect()}
    assert m["delta_articles"] == 0 and m["entities_upserted"] == 0
    assert st.latest_snapshot_id() == head_before


def test_review_queue_accumulates_with_run_attribution(worlds):
    st = SnapshotTable(worlds["spark"], worlds["store"] + "/review_queue")
    runs = {r.run_id for r in st.read().select("run_id").distinct().collect()}
    # the delta's disputes are attributed to its run id (cross-run
    # accumulation itself is pinned in test_snapshot_table.py); corpus A
    # happens to produce no disputes on this fixture
    assert "delta-1" in runs


def test_two_sequential_deltas_converge(spark):
    """A ⊕ B1 ⊕ B2 applied incrementally converges to the batch run over
    A∪B1∪B2: same entity ids, same aliases/counters — the store is a
    fixed point of repeated delta application, not a one-shot trick."""
    pages, _ = pages_dataframe(spark, 60, 11)
    urls = sorted(r.url for r in pages.select("url").collect())
    parts = [set(urls[:40]), set(urls[40:50]), set(urls[50:])]
    slices = [
        pages.filter(F.col("url").isin(p)).localCheckpoint() for p in parts
    ]
    store = tempfile.mkdtemp()
    cfg = dataclasses.replace(get_default_config(), snapshot_store_path=store)
    run_pipeline(spark, slices[0], tempfile.mkdtemp(), cfg=cfg, resume=False)
    run_incremental(spark, slices[1], tempfile.mkdtemp(), cfg=cfg, run_id="b1")
    out = run_incremental(
        spark, slices[2], tempfile.mkdtemp(), cfg=cfg, run_id="b2"
    )
    full = run_pipeline(
        spark, pages, tempfile.mkdtemp(),
        cfg=dataclasses.replace(cfg, snapshot_store_path=None), resume=False,
    )
    inc = {r.entity_id: r for r in out["entities_store"].collect()}
    ref = {r.entity_id: r for r in full["entities"].collect()}
    assert set(inc) == set(ref) and len(inc) > 0
    for eid in inc:
        for fld in ("canonical_name", "aliases", "all_names", "n_mentions",
                    "n_articles", "articles"):
            assert getattr(inc[eid], fld) == getattr(ref[eid], fld), (
                f"{inc[eid].canonical_name}: {fld}"
            )

    # ── maintenance over the 3-run store: compaction folds each keyed
    # table's merge chain to one sort-clustered batch and expires old
    # snapshots, while resolved contents stay identical and the
    # review_queue audit trail is untouched ──
    from hinbox_spark.incremental import maintain_store

    st_e = SnapshotTable(spark, store + "/entities")
    assert st_e.n_batches() >= 3  # bootstrap + 2 deltas
    before = {
        r.entity_id: r.n_mentions
        for r in st_e.read_resolved(["entity_id"]).collect()
    }
    queue_head = SnapshotTable(spark, store + "/review_queue").latest_snapshot_id()
    touched = maintain_store(spark, cfg, max_batches=2, keep_snapshots=1)
    assert "entities" in touched and "profile_facts" in touched
    assert "review_queue" not in touched
    assert st_e.n_batches() == 1
    after = {
        r.entity_id: r.n_mentions
        for r in st_e.read_resolved(["entity_id"]).collect()
    }
    assert after == before
    assert SnapshotTable(
        spark, store + "/review_queue"
    ).latest_snapshot_id() == queue_head
    # the store remains appliable after maintenance (no wedged state)
    rerun = run_incremental(
        spark, slices[2], tempfile.mkdtemp(), cfg=cfg, run_id="b2-rerun"
    )
    m = {r.stage: r.rows for r in rerun["metrics"].collect()}
    assert m["delta_articles"] == 0  # content-hash skip survived compaction


def _ent(cfg, eid, etype, name, aliases=(), date=""):
    vec = embed_text(f"{name} " + " ".join(aliases), cfg.embedding_dim).tolist()
    return (eid, etype, name, "", date, list(aliases), vec)


_ENT_DDL = (
    "entity_id string, entity_type string, canonical_name string, "
    "canonical_type string, canonical_start_date string, "
    "aliases array<string>, search_embedding array<float>"
)


class TestStoreLinkFamilies:
    """Unit semantics of the bipartite blocking + match-check operator."""

    def test_families_and_argmax(self, spark):
        cfg = get_default_config()
        store = spark.createDataFrame(
            [
                _ent(cfg, "s1", "organizations", "Department of Defense", ["DoD"]),
                _ent(cfg, "s2", "people", "Mohammed al-Qahtani"),
                _ent(cfg, "s3", "organizations",
                     "International Committee of the Red Cross", ["ICRC"]),
                _ent(cfg, "s4", "locations", "Guantanamo Bay"),
            ],
            _ENT_DDL,
        )
        delta = spark.createDataFrame(
            [
                _ent(cfg, "d1", "organizations", "Defense Department"),
                _ent(cfg, "d2", "people", "Mohammed al-Qahtani"),
                _ent(cfg, "d3", "organizations", "Red Cross"),
                _ent(cfg, "d4", "people", "Brand New Person"),
                _ent(cfg, "d5", "locations", "Naval Station Guantanamo Bay"),
            ],
            _ENT_DDL,
        )
        a, _ = link_entities_to_store(delta, store, cfg)
        got = {r.delta_id: (r.store_id, r.reason) for r in a.collect()}
        assert got["d1"] == ("s1", "equivalence")
        assert got["d2"][0] == "s2" and got["d2"][1] == "exact_key"
        assert got["d3"][0] == "s3"
        assert got["d5"][0] == "s4"
        assert "d4" not in got  # genuinely new entity stays unmatched

    def test_bridge_dispute_never_automerges_store(self, spark):
        """A delta entity matching TWO store entities picks one winner and
        defers the implied store-store duplicate to the review queue."""
        cfg = get_default_config()
        store = spark.createDataFrame(
            [
                _ent(cfg, "s1", "organizations", "Department of Defense"),
                _ent(cfg, "s2", "organizations", "Defense Department"),
            ],
            _ENT_DDL,
        )
        delta = spark.createDataFrame(
            [_ent(cfg, "d1", "organizations", "DoD")], _ENT_DDL
        )
        a, r = link_entities_to_store(delta, store, cfg)
        rows = a.collect()
        assert len(rows) == 1 and rows[0].delta_id == "d1"
        bridges = [
            x for x in r.collect()
            if {x.src, x.dst} == {"s1", "s2"} and x.decision == "defer"
        ]
        assert len(bridges) == 1  # one deferred store-store dispute

    def test_events_date_rule(self, spark):
        """Dated events only merge when dates agree (empty compatible)."""
        cfg = get_default_config()
        store = spark.createDataFrame(
            [_ent(cfg, "s1", "events", "Annual Review Hearing",
                  date="2005-03-01")],
            _ENT_DDL,
        )
        delta = spark.createDataFrame(
            [
                _ent(cfg, "d1", "events", "Annual Review Hearing",
                     date="2006-07-09"),
                _ent(cfg, "d2", "events", "Annual Review Hearing",
                     date="2005-03-01"),
                _ent(cfg, "d3", "events", "Annual Review Hearing"),
            ],
            _ENT_DDL,
        )
        a, _ = link_entities_to_store(delta, store, cfg)
        got = {r.delta_id: r.store_id for r in a.collect()}
        assert "d1" not in got          # conflicting date: no merge
        assert got.get("d2") == "s1"    # same date
        assert got.get("d3") == "s1"    # empty date compatible


def test_acronym_family_never_pairs_two_long_forms(spark):
    """Two different entities whose long names derive the same acronym
    must NOT match ('National Security Agency' vs 'National Shipping
    Association'); a true short⇄long acronym pair must."""
    cfg = get_default_config()
    store = spark.createDataFrame(
        [_ent(cfg, "s1", "organizations", "National Security Agency")],
        _ENT_DDL,
    )
    delta = spark.createDataFrame(
        [
            _ent(cfg, "d1", "organizations", "National Shipping Association"),
            _ent(cfg, "d2", "organizations", "N.S.A."),
        ],
        _ENT_DDL,
    )
    a, _ = link_entities_to_store(delta, store, cfg)
    got = {r.delta_id: (r.store_id, r.reason) for r in a.collect()}
    assert "d1" not in got          # long x long: no acronym identity
    assert got.get("d2", (None, None))[1] == "acronym"  # short x long: yes


def test_crash_mid_apply_recovers_exactly_once(spark, monkeypatch, delta_world):
    """Run transaction: a crash AFTER some store commits landed (entities
    merge, facts append) but BEFORE the run finalized leaves a pending
    journal; the retry rolls every table back to its pre-run head and
    re-applies the delta, ending byte-identical to a never-crashed run —
    counters are never double-merged, pages never skipped-forever."""
    import hinbox_spark.incremental as incmod

    # control: clean application of the same delta to the same bootstrap
    store_ok, pages_b = delta_world["store"], delta_world["pages_b"]

    # crash world: profiles rebuild raises AFTER the concurrent commits
    # were submitted (entities/facts/cited/edges/queue may have landed)
    store_cr, cfg_cr = delta_world["fork"]()
    real = incmod._rebuild_profiles

    def boom(*a, **k):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(incmod, "_rebuild_profiles", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_incremental(
            spark, pages_b, tempfile.mkdtemp(), cfg=cfg_cr, run_id="d-crash"
        )
    monkeypatch.setattr(incmod, "_rebuild_profiles", real)
    # pending journal left behind; pages were NOT logged (log is last)
    assert any(
        p.endswith("d-crash.pending.json")
        for p in __import__("glob").glob(store_cr + "/_runs/*")
    )
    # retry: recovery rolls back the partial commits, then applies cleanly
    out = run_incremental(
        spark, pages_b, tempfile.mkdtemp(), cfg=cfg_cr, run_id="d-retry"
    )
    m = {r.stage: r.rows for r in out["metrics"].collect()}
    assert m["delta_articles"] > 0  # NOT skipped-forever

    for table, key in [("entities", ["entity_id"]), ("profiles", ["entity_id"]),
                       ("profile_facts", ["entity_id", "url"])]:
        a = SnapshotTable(spark, store_ok + "/" + table).read_resolved(key)
        b = SnapshotTable(spark, store_cr + "/" + table).read_resolved(key)
        ra = sorted(map(tuple, a.select(*sorted(a.columns)).collect()))
        rb = sorted(map(tuple, b.select(*sorted(b.columns)).collect()))
        assert ra == rb, f"{table} diverged after crash recovery"


def _raw_rows(spark, store, table):
    """A store table's rows at its head, run attribution left out."""
    df = SnapshotTable(spark, f"{store}/{table}").read()
    cols = sorted(set(df.columns) - {"_seq", "run_id"})
    return sorted(map(repr, df.select(*cols).collect()))


@pytest.mark.parametrize(
    "crash", ["build_profiles", "name_bands", "processed_pages"]
)
def test_crashed_bootstrap_is_finished_by_resume(
    spark, monkeypatch, delta_world, crash
):
    """The batch bootstrap commits through the delta run's transaction. A
    crash before the store commit (in build_profiles) leaves every store
    table's head unchanged; a crash in a background commit (name_bands) or
    in the last one (the processed-pages log) leaves a pending journal.
    Either way `run_pipeline(resume=True)` on the same output rolls the
    partial commits back and finishes the bootstrap: every store table then
    holds the rows of an uncrashed bootstrap, none twice."""
    import hinbox_spark.pipeline as pl
    from hinbox_spark import fs as hfs
    from hinbox_spark.incremental import (
        _RUN_TABLES, _bootstrap_run_id, _runs_dir,
    )

    base = delta_world["base"]
    store, out = str(base / f"boot-{crash}"), str(base / f"boot-{crash}-out")
    cfg = dataclasses.replace(delta_world["cfg"], snapshot_store_path=store)

    def boom(*a, **k):
        raise RuntimeError("injected crash")

    if crash == "build_profiles":
        monkeypatch.setattr(pl, "build_profiles", boom)
    else:
        real = SnapshotTable.append

        def append(self, df, *a, **k):
            if self.path.endswith("/" + crash):
                boom()
            return real(self, df, *a, **k)

        monkeypatch.setattr(SnapshotTable, "append", append)
    if crash == "processed_pages":
        # a journal an earlier run of this output finalized under the same
        # run id must not pass this run's crash off as finalized
        hfs.mkdirs(spark, _runs_dir(store))
        hfs.write_text(
            spark, f"{_runs_dir(store)}/{_bootstrap_run_id(out)}.json", "{}"
        )
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, delta_world["pages_a"], out, cfg=cfg, resume=False)
    monkeypatch.undo()
    heads = {t: SnapshotTable(spark, f"{store}/{t}").latest_snapshot_id()
             for t in _RUN_TABLES}
    if crash == "build_profiles":
        assert set(heads.values()) == {None}
    else:
        assert hfs.exists(
            spark, f"{_runs_dir(store)}/{_bootstrap_run_id(out)}.pending.json"
        )

    run_pipeline(spark, delta_world["pages_a"], out, cfg=cfg, resume=True)
    for table in _RUN_TABLES:
        assert _raw_rows(spark, store, table) == _raw_rows(
            spark, delta_world["pristine"], table
        ), f"{table} differs from the uncrashed bootstrap"


def test_bootstrap_rows_carry_its_run_id(spark, delta_world):
    """Every row a bootstrap writes carries one run id: the one its
    finalized journal is published under."""
    from hinbox_spark import fs as hfs
    from hinbox_spark.incremental import _bootstrap_run_id, _runs_dir

    store = delta_world["pristine"]
    rid = _bootstrap_run_id(str(delta_world["base"] / "batch"))
    assert hfs.exists(spark, f"{_runs_dir(store)}/{rid}.json")
    for table in ("edges", "processed_pages", "review_queue"):
        df = SnapshotTable(spark, f"{store}/{table}").read()
        ids = {r.run_id for r in df.select("run_id").distinct().collect()}
        if table != "review_queue":
            assert df.count() > 0, table
        assert ids == ({rid} if df.count() else set()), table
