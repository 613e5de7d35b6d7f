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
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest
from conftest import store_rows

import hinbox_spark.incremental as incmod
from hinbox_spark import fs as hfs
from hinbox_spark.config import get_default_config
from hinbox_spark.functions.embeddings import embed_text
from hinbox_spark.incremental import (
    _RUN_TABLES, _bootstrap_run_id, maintain_store, run_incremental,
    store_version,
)
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


def _boom(*a, **k):
    raise RuntimeError("injected crash")


def _fail_commit(mp, table):
    """Make the commit of one store table raise."""
    method = "merge" if table in ("entities", "profiles") else "append"
    real = getattr(SnapshotTable, method)

    def commit(self, df, *a, **k):
        if self.path.endswith("/" + table):
            _boom()
        return real(self, df, *a, **k)

    mp.setattr(SnapshotTable, method, commit)


def test_crash_mid_apply_recovers_exactly_once(spark, monkeypatch, delta_world):
    """A crash AFTER some store commits landed (entities merge, facts
    append) but BEFORE the run published its store version leaves the
    version as it was, every table read at it equal to the pre-run store;
    the retry rolls every table back to the version and re-applies the
    delta, ending byte-identical to a never-crashed run — counters are
    never double-merged, pages never skipped-forever."""
    # control: clean application of the same delta to the same bootstrap
    store_ok, pages_b = delta_world["store"], delta_world["pages_b"]

    # crash world: profiles rebuild raises AFTER the concurrent commits
    # were submitted (entities/facts/cited/edges/queue may have landed)
    store_cr, cfg_cr = delta_world["fork"]()
    real = incmod._rebuild_profiles
    monkeypatch.setattr(incmod, "_rebuild_profiles", _boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_incremental(
            spark, pages_b, tempfile.mkdtemp(), cfg=cfg_cr, run_id="d-crash"
        )
    monkeypatch.setattr(incmod, "_rebuild_profiles", real)
    # the store as published is the pre-run store (its pages NOT logged)
    pristine = delta_world["pristine"]
    assert store_version(spark, store_cr) == store_version(spark, pristine)
    assert store_rows(spark, store_cr) == store_rows(spark, pristine)
    # retry: the commit rolls back the partial commits, then applies cleanly
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


@pytest.mark.parametrize(
    "crash", ["build_profiles", "name_bands", "processed_pages"]
)
def test_crashed_bootstrap_is_finished_by_resume(
    spark, monkeypatch, delta_world, crash
):
    """The batch bootstrap commits through the delta run's `commit_run`. A
    crash before the store commit (in build_profiles) leaves every store
    table's head unchanged; a crash in a background commit (name_bands) or
    in the processed-pages log append leaves no table in the published
    version and no version carrying the bootstrap's run id. Either way
    `run_pipeline(resume=True)` on the same output rolls the partial
    commits back and finishes the bootstrap: every store table read at the
    version it publishes then holds the rows of an uncrashed bootstrap,
    none twice."""
    import hinbox_spark.pipeline as pl

    base = delta_world["base"]
    store, out = str(base / f"boot-{crash}"), str(base / f"boot-{crash}-out")
    cfg = dataclasses.replace(delta_world["cfg"], snapshot_store_path=store)

    if crash == "build_profiles":
        monkeypatch.setattr(pl, "build_profiles", _boom)
    else:
        _fail_commit(monkeypatch, crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, delta_world["pages_a"], out, cfg=cfg, resume=False)
    monkeypatch.undo()
    # the store as published holds no table: read at its (empty) heads
    # after a crash before the commit, else at version 0, the empty store
    # the commit began from
    assert set(store_version(spark, store)["tables"].values()) == {None}
    assert not incmod._published(spark, store, _bootstrap_run_id(out))

    run_pipeline(spark, delta_world["pages_a"], out, cfg=cfg, resume=True)
    assert store_version(spark, store)["run_id"] == _bootstrap_run_id(out)
    assert store_rows(spark, store) == store_rows(spark, delta_world["pristine"])


def test_bootstrap_rows_carry_its_run_id(spark, delta_world):
    """Every row a bootstrap writes carries one run id: the one the store
    version it publishes carries."""
    store = delta_world["pristine"]
    rid = _bootstrap_run_id(str(delta_world["base"] / "batch"))
    version = store_version(spark, store)
    assert version["run_id"] == rid
    for table in ("edges", "processed_pages", "review_queue"):
        df = SnapshotTable(spark, f"{store}/{table}").read(
            version["tables"][table]
        )
        ids = {r.run_id for r in df.select("run_id").distinct().collect()}
        if table != "review_queue":
            assert df.count() > 0, table
        assert ids == ({rid} if df.count() else set()), table


def test_crash_at_each_commit_leaves_the_version(spark, delta_world):
    """A delta that fails at any one of its 9 table commits, or at the
    publish of its store version, leaves the published version as it was,
    and every table read at it equals the pre-run store row for row. One
    store takes the crashes in turn, each a retry of the one before; the
    retry after the last equals the uncrashed control."""
    store, cfg = delta_world["fork"]()
    pristine = delta_world["pristine"]
    before, rows = store_version(spark, pristine), store_rows(spark, pristine)
    for crash in (*_RUN_TABLES, "publish"):
        with pytest.MonkeyPatch.context() as mp:
            if crash == "publish":
                mp.setattr(incmod, "_publish_version", _boom)
            else:
                _fail_commit(mp, crash)
            with pytest.raises(RuntimeError, match="injected crash"):
                run_incremental(
                    spark, delta_world["pages_b"],
                    str(delta_world["base"] / f"crash-{crash}"),
                    cfg=cfg, run_id=f"crash-{crash}",
                )
        assert store_version(spark, store) == before, crash
        assert store_rows(spark, store) == rows, crash
    run_incremental(spark, delta_world["pages_b"],
                    str(delta_world["base"] / "crash-retry"), cfg=cfg,
                    run_id="crash-retry")
    assert store_rows(spark, store) == store_rows(spark, delta_world["store"])


def test_delta_reads_the_store_at_its_starting_version(
    spark, monkeypatch, delta_world
):
    """Every store read a delta makes before it publishes — the profile
    rebuild's facts read included, whatever the concurrent facts append has
    committed — is at the store version published when the run started. A
    reader of the store at its version sees exactly the pre-run rows after
    each table commit, and after the last one, just before the publish."""
    store, cfg = delta_world["fork"]()
    start = store_version(spark, store)
    reads, versions, publishing, at_publish = [], [], [], []
    real_read, real_resolved = SnapshotTable.read, SnapshotTable.read_resolved
    real_publish = incmod._publish_version

    def record(st, snapshot_id):
        if not publishing:
            reads.append((st.path.rsplit("/", 1)[-1], snapshot_id))

    def read(self, snapshot_id=None, *a, **k):
        record(self, snapshot_id)
        return real_read(self, snapshot_id, *a, **k)

    def read_resolved(self, key_cols, snapshot_id=None, *a, **k):
        record(self, snapshot_id)
        return real_resolved(self, key_cols, snapshot_id, *a, **k)

    def observed(method):
        real = getattr(SnapshotTable, method)

        def commit(self, df, *a, **k):
            sid = real(self, df, *a, **k)
            versions.append(store_version(spark, store))
            return sid

        return commit

    def publish(*a, **k):
        publishing.append(True)
        at_publish.append(store_rows(spark, store))
        return real_publish(*a, **k)

    monkeypatch.setattr(SnapshotTable, "read", read)
    monkeypatch.setattr(SnapshotTable, "read_resolved", read_resolved)
    for method in ("append", "merge"):
        monkeypatch.setattr(SnapshotTable, method, observed(method))
    monkeypatch.setattr(incmod, "_publish_version", publish)
    out = run_incremental(spark, delta_world["pages_b"],
                          str(delta_world["base"] / "pinned"), cfg=cfg,
                          run_id="pinned")
    monkeypatch.undo()

    assert {t for t, _ in reads} == {
        "processed_pages", "entities", "name_index", "name_bands",
        "profile_facts", "cited_articles",
    }
    assert all(sid == start["tables"][t] for t, sid in reads), reads
    assert len(versions) == len(_RUN_TABLES)
    assert all(v == start for v in versions)
    assert at_publish == [store_rows(spark, delta_world["pristine"])]
    assert out["entities_store"].count() == (
        SnapshotTable(spark, delta_world["store"] + "/entities")
        .read_resolved(["entity_id"]).count()
    )


def test_maintain_after_crashed_delta(spark, delta_world):
    """`maintain_store` after a delta that crashed in its last commits works
    on the published version: the crashed run's commits are not folded into
    the compacted tables, the snapshots the new version references survive
    `keep_snapshots=1`, and a retry equals the uncrashed control."""
    store, cfg = delta_world["fork"]()
    with pytest.MonkeyPatch.context() as mp:
        _fail_commit(mp, "processed_pages")
        with pytest.raises(RuntimeError, match="injected crash"):
            run_incremental(spark, delta_world["pages_b"],
                            str(delta_world["base"] / "maint-crash"),
                            cfg=cfg, run_id="maint-crash")
    touched = maintain_store(spark, cfg, max_batches=0, keep_snapshots=1)
    assert "entities" in touched
    assert store_rows(spark, store, resolved=True) == store_rows(
        spark, delta_world["pristine"], resolved=True
    )
    run_incremental(spark, delta_world["pages_b"],
                    str(delta_world["base"] / "maint-retry"), cfg=cfg,
                    run_id="maint-retry")
    assert store_rows(spark, store, resolved=True) == store_rows(
        spark, delta_world["store"], resolved=True
    )


def test_store_without_version_is_read_at_its_heads(spark, delta_world):
    """A store written before versions existed (no version file) is read at
    its table heads, a journal such a store may hold is ignored, and its
    first commit publishes version 1."""
    store, cfg = delta_world["fork"]()
    pristine = store_version(spark, store)
    shutil.rmtree(f"{store}/_versions")
    hfs.write_text(
        spark, f"{store}/_runs/old.pending.json",
        '{"entities": null, "processed_pages": null}',
    )
    assert store_version(spark, store) == {
        "version": None, "run_id": None, "tables": pristine["tables"],
    }
    run_incremental(spark, delta_world["pages_b"],
                    str(delta_world["base"] / "unversioned"), cfg=cfg,
                    run_id="unversioned")
    assert store_version(spark, store)["version"] == 1
    assert store_rows(spark, store) == store_rows(spark, delta_world["store"])
