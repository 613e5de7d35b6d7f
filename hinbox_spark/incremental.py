"""Incremental KG construction: `run_incremental` processes a DELTA batch
of pages against an existing snapshot store — extraction, self-linking and
store-linking cost scale with |delta|, never with the accumulated corpus.

This is the reference's actual operating mode (hinbox ingests article
batches and merges each new entity into the existing store,
/root/reference/src/process_and_extract.py:545-760) re-expressed
set-oriented: the delta is first resolved AMONG ITSELF by `pipeline.resolve`,
the same chain the batch build runs (blocking → match check → connected
components → canonicalize), then the resulting delta entities are linked
against the store with the bipartite families in `operators/store_link.py`,
and the store tables are updated with atomic snapshot commits:

  entities         merge-on-read upsert by entity_id. Each upserted row is
                   the batch build's entity fold (`operators/canonicalize`)
                   over the store row, as a partial, and this run's mentions
                   of that entity; a new entity folds its mentions alone.
                   Store identity is sticky: a matched entity keeps its
                   cluster_id, canonical (name, type, start_date) and so its
                   entity_id — a stronger delta name becomes an alias
  edges            append (triples are content-addressed; consumers
                   read_resolved(["subj","pred","obj"]) for the set view)
  review_queue     append-only cross-run dispute queue with run attribution
  processed_pages  (url, content_hash) log — the cross-run F2 skip
  profile_facts    per-(entity, url) reduced fact rows — the minimal state
                   from which `assemble_profiles` re-derives a merged
                   entity's profile byte-identically to a full batch run
  cited_articles   (url, text) for fact urls — grounding verification
                   input (in a production deployment this is a projection
                   of the primary pages table, not extra state)
  profiles         merge-on-read upsert by entity_id (affected rows only)
  name_index /     precomputed blocking keys (normalized names, acronym
  name_bands       keys, MinHash band entries) maintained per upsert —
                   a delta run's store-side blocking reads these columnar
                   tables instead of running pandas passes over all
                   store entities

Store mutations are applied as one RUN (`commit_run`) whose commit point is
one STORE VERSION, `store/_versions/version-<n>.json` = {version, run_id,
tables: {table: snapshot_id}}, published create-exclusive after the last
table commit. A run reads every store table at the published version
(`store_version`), so no reader sees a half-applied run; the next writer
rolls back whatever a crashed run committed past it, so a retry applies the
delta exactly once (single-writer model, like the reference).

The batch pipeline (`run_pipeline`) with `snapshot_store_path` set is the
bootstrap: it commits its run through the same `commit_run`, under a run id
derived from its output directory, so a bootstrap that crashed before its
version was published is finished by `run_pipeline(resume=True)` on the same
output. After it any number of incremental runs apply deltas. Because both
runs fold entities with the same code, a store that bootstrap + deltas
built equals a from-scratch batch run over the union corpus (same entity
set, aliases, counters, profiles) wherever the store matches are decided
deterministically — pinned in tests/test_incremental_store.py. The
documented divergences are the incremental-mode invariants themselves
(sticky canonical names, store-store merges deferred to the review queue as
"bridge" disputes).
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hinbox_spark import fs as hfs
from hinbox_spark import pipeline as pl
from hinbox_spark.config import DomainConfig, get_default_config
from hinbox_spark.operators.canonicalize import (
    build_edge_triples, build_entities, canonical_names, entity_facets, fold,
    identity_facets, mention_facets,
)
from hinbox_spark.operators.profiles import (
    PROFILE_ARTICLES_CAP, assemble_profiles, ground_profiles,
    profile_fact_rows,
)
from hinbox_spark.operators.store_link import (
    link_entities_to_store, name_band_rows, name_index_rows,
)
from hinbox_spark.pipeline import _table_path, _with_profile_embedding, _write
from hinbox_spark.session import local_frame
from hinbox_spark.tables import CommitConflict, SnapshotTable

# store-relative table names
ENTITIES, EDGES, QUEUE = "entities", "edges", "review_queue"
PAGES_LOG, FACTS, CITED, PROFILES = (
    "processed_pages", "profile_facts", "cited_articles", "profiles",
)
# blocking-index tables: precomputed name keys + MinHash band entries so a
# delta run's store-side blocking is a columnar scan, not a pandas pass
NAME_INDEX, NAME_BANDS = "name_index", "name_bands"


# every store table a run writes — the tables a store version pins — and
# its `maintain_store` compaction plan: (key columns, sort order), or None
# for the review queue, which is never folded by key
_TABLE_PLANS = {
    ENTITIES: (["entity_id"], ["entity_id"]),
    PROFILES: (["entity_id"], ["entity_id"]),
    FACTS: (["entity_id", "url"], ["entity_id", "url"]),
    CITED: (["url"], ["url"]),
    EDGES: (["subj", "pred", "obj"], ["subj", "pred"]),
    PAGES_LOG: (["url", "content_hash"], ["url"]),
    NAME_INDEX: (
        ["entity_id", "entity_type", "match_key"],
        ["entity_type", "match_key"],
    ),
    NAME_BANDS: (
        ["entity_type", "node_id", "band"],
        ["entity_type", "band", "bh"],
    ),
    QUEUE: None,
}
_RUN_TABLES = tuple(_TABLE_PLANS)


def _st(spark: SparkSession, store: str, name: str) -> SnapshotTable:
    return SnapshotTable(spark, store.rstrip("/") + "/" + name)


def _heads(spark: SparkSession, store: str) -> dict[str, int | None]:
    return {t: _st(spark, store, t).latest_snapshot_id() for t in _RUN_TABLES}


def _version_files(spark: SparkSession, store: str) -> list[str]:
    """The store's published version files, oldest first."""
    return [f for f in hfs.list_files(spark, store.rstrip("/") + "/_versions")
            if f.rsplit("/", 1)[-1].startswith("version-")]


def store_version(spark: SparkSession, store: str) -> dict:
    """The store's published version {"version", "run_id", "tables": {table:
    snapshot_id}}, at which a run reads every store table (None: not in the
    store). A store without one (written before versions existed) is read
    at its table heads, as version None."""
    files = _version_files(spark, store)
    if files:
        return json.loads(hfs.read_text(spark, files[-1]))
    return {"version": None, "run_id": None, "tables": _heads(spark, store)}


def _publish_version(
    spark: SparkSession, store: str, version: int, run_id: str | None,
    tables: dict[str, int | None],
) -> dict:
    """Publish a store version create-exclusive, like a table snapshot
    commit: of two writers of one version number, one fails."""
    v = {"version": version, "run_id": run_id, "tables": tables}
    d = store.rstrip("/") + "/_versions/"
    tmp = d + f"_tmp-{uuid.uuid4().hex}.json"
    hfs.write_text(spark, tmp, json.dumps(v))
    if not hfs.publish_without_overwrite(spark, tmp, f"{d}version-{version:012d}.json"):
        hfs.delete(spark, tmp)
        raise CommitConflict(f"store version {version} of {store} exists")
    return v


def _published(spark: SparkSession, store: str, run_id: str) -> bool:
    return any(json.loads(hfs.read_text(spark, f))["run_id"] == run_id
               for f in reversed(_version_files(spark, store)))


def _begin(spark: SparkSession, store: str) -> dict:
    """The version a store writer starts from, every table head rolled back
    to it. A store without one first gets its heads published as version 0,
    so that a crash of this writer leaves the store as it was."""
    v = store_version(spark, store)
    if v["version"] is None:
        v = _publish_version(spark, store, 0, None, v["tables"])
    for t, head in _heads(spark, store).items():
        if head != v["tables"][t]:
            _st(spark, store, t).rollback_to(v["tables"][t])
    return v


def _rebuild_profiles(
    spark: SparkSession,
    store: str,
    version: dict[str, int | None],
    cfg: DomainConfig,
    affected_entities: DataFrame,
    delta_facts: DataFrame,
    delta_cited: DataFrame,
) -> DataFrame:
    """Re-assemble profiles for the upserted entities from the union of
    the store's accumulated fact rows (at the run's starting store
    `version`, BEFORE this run's append — so this job never waits on, or
    re-reads, the in-flight fact commit) and this run's in-memory delta
    facts — the same capped fold as the batch path (`assemble_profiles`),
    so a merged entity's profile is byte-identical to what a from-scratch
    batch run over the union corpus produces.

    Both store reads are SCOPED (broadcast semi-join on the affected keys
    before the resolve shuffle): a delta run only ever shuffles the
    affected entities' fact rows and the cited texts its rebuilt profiles
    actually reference — never the full facts/cited tables. A
    changed-content url reprocess is superseded by the delta row
    (anti-join on the key), matching last-writer-wins store semantics."""
    from hinbox_spark.functions.skew import bounded_topk

    if version[FACTS] is not None:
        prior = _st(spark, store, FACTS).read_resolved(
            ["entity_id", "url"], version[FACTS],
            scope=affected_entities.select("entity_id"),
        ).join(
            delta_facts.select("entity_id", "url"),
            ["entity_id", "url"],
            "left_anti",
        )
        facts = prior.unionByName(delta_facts.select(*prior.columns))
    else:
        facts = delta_facts
    facts = facts.withColumnRenamed("entity_id", "cluster_id")
    ent_meta = affected_entities.select(
        F.col("entity_id").alias("cluster_id"), "entity_id", "entity_type",
        "canonical_name", "canonical_type", "aliases", "all_names",
        "n_articles",
    )
    rows = bounded_topk(
        facts,
        keys=["cluster_id"],
        order_by=[F.col("warc_ts"), F.col("url")],
        k=PROFILE_ARTICLES_CAP,
        salt_expr=F.xxhash64("url"),
    ).join(ent_meta, "cluster_id").localCheckpoint(eager=False)
    profiles = assemble_profiles(rows)
    if version[CITED] is not None:
        prior_cited = _st(spark, store, CITED).read_resolved(
            ["url"], version[CITED], scope=rows.select("url")
        ).join(delta_cited.select("url"), ["url"], "left_anti")
        corpus = prior_cited.unionByName(delta_cited.select(*prior_cited.columns))
    else:
        corpus = delta_cited
    profiles = ground_profiles(profiles, corpus)
    return _with_profile_embedding(profiles, cfg)


def _bootstrap_run_id(output_dir: str) -> str:
    """A batch bootstrap's run id: derived from its output directory, so a
    resumed bootstrap finishes its own commit, and two outputs never share
    one."""
    return "bootstrap-" + uuid.uuid5(
        uuid.NAMESPACE_URL, output_dir.rstrip("/")
    ).hex


def maintain_store(
    spark: SparkSession,
    cfg: DomainConfig,
    max_batches: int = 16,
    keep_snapshots: int = 8,
) -> dict[str, int]:
    """Store maintenance between delta runs, from the published version
    (`_begin`): every keyed table whose merge-on-read chain exceeds
    `max_batches` batches is compacted (sort-clustered on its key so min/max
    row-group stats prune key lookups), the new heads are published as a
    version, and only then are snapshots past `keep_snapshots` expired
    (orphan-batch GC). The review_queue is deliberately NOT compacted by key
    — it is the append-only audit trail, and folding it would erase dispute
    history. Returns {table: new_snapshot_id} for tables touched.

    This is the Iceberg maintenance loop (rewrite_data_files +
    expire_snapshots) for the incremental store: without it a nightly
    delta adds ~7 batches/run forever and read cost grows O(runs)."""
    store = cfg.snapshot_store_path
    start = _begin(spark, store)
    touched: dict[str, int] = {}
    for name, plan in _TABLE_PLANS.items():
        if plan is None:
            continue
        st = _st(spark, store, name)
        if st.n_batches() > max_batches:
            touched[name] = st.compact(plan[0], sort_by=plan[1])
    heads = _heads(spark, store)
    if heads != start["tables"]:
        _publish_version(spark, store, start["version"] + 1, None, heads)
    for name in touched:
        _st(spark, store, name).expire_snapshots(keep_last=keep_snapshots)
    return touched


def entity_upserts(
    clusters: DataFrame,
    ent_map: DataFrame,
    store_rows: DataFrame | None,
    cfg: DomainConfig,
) -> DataFrame:
    """The entity rows a delta run upserts: per final entity, the batch
    build's fold (`operators/canonicalize`) over its store row, when it has
    one, and this run's mentions of it.

    ``clusters`` are the delta's mention rows; ``ent_map`` maps each delta
    cluster_id to the entity_id it lands in and that entity's identity
    (entity_type, entity_cluster_id, canonical_name/type/start_date), which
    the fold keeps; ``store_rows`` are the matched store entities. The
    delta's articles count is the exact distinct-url count of its mention
    rows — the url set of its fact rows — so two delta clusters that land
    in one entity never count a shared url twice. It adds to the store's
    count because the processed-pages log keeps the url sets of different
    runs disjoint (a changed-content url reprocess is the documented +1
    approximation)."""
    facets = mention_facets(
        clusters.join(ent_map.select("cluster_id", "entity_id"), "cluster_id"),
        key="entity_id",
    ).unionByName(
        identity_facets(ent_map, "entity_id", "entity_cluster_id")
    )
    if store_rows is not None:
        facets = facets.unionByName(entity_facets(store_rows))
    return build_entities(canonical_names(fold(facets)), cfg)


def commit_run(
    spark: SparkSession,
    cfg: DomainConfig,
    ov: pl.overlap,
    run_id: str,
    clusters: DataFrame,
    ent_map: DataFrame,
    entities: DataFrame,
    articles: DataFrame,
    review: DataFrame,
    edges: Callable[[], DataFrame],
    profiles: Callable[[DataFrame, DataFrame], DataFrame],
) -> dict:
    """Commit one run to the store at `cfg.snapshot_store_path` — the one
    store write of the batch bootstrap and of a delta run.

    ``clusters`` are the run's mention rows, ``ent_map`` maps each of their
    cluster_ids to an entity_id, ``entities`` are the entity rows to upsert,
    ``articles`` and ``review`` the run's articles and review rows.
    ``edges()`` gives the edge rows to append (called on a background
    thread); ``profiles(facts, cited)`` gives the profile rows to upsert
    from the run's fact rows and cited articles (called on this thread,
    the long pole). The background commits go to ``ov``. Every row the run
    writes carries ``run_id``. Returns the store version it publishes."""
    store = cfg.snapshot_store_path

    def st(name: str) -> SnapshotTable:
        return _st(spark, store, name)

    def attributed(df: DataFrame) -> DataFrame:
        return df.withColumn("run_id", F.lit(run_id))

    # build on the published version, so that a retry applies a crashed
    # run exactly once
    start = _begin(spark, store)

    # eager: three concurrent consumers (facts append, cited build, profile
    # rebuild) must share materialized blocks, not race a lazy checkpoint.
    # Re-reduced per (entity_id, url) AFTER the remap: two clusters that
    # land in one entity would otherwise leave duplicate fact keys —
    # duplicate rows consume profile-cap slots (dropping a legitimate url
    # from the rebuilt profile) and make the stored row per key a
    # nondeterministic tie. The re-reduction is the same min/max fold the
    # batch path applies over the merged cluster.
    facts = (
        profile_fact_rows(clusters)
        .join(ent_map.select("cluster_id", "entity_id"), "cluster_id")
        .groupBy("entity_id", "url")
        .agg(
            F.min("warc_ts").alias("warc_ts"),
            F.max("description").alias("description"),
            F.max("start_date").alias("start_date"),
        )
        .localCheckpoint()
    )
    cited = articles.join(facts.select("url").distinct(), "url").select(
        "url", "text"
    ).localCheckpoint()  # eager: CITED append ∥ grounding both consume it

    # every commit below is independent of the others (disjoint tables; a
    # profile rebuild consumes the facts at the starting version plus the
    # in-memory facts), so they run as CONCURRENT Spark jobs from driver
    # threads — the fixed tail of a run is ~a dozen small commits
    ov.submit(st(ENTITIES).merge, entities)
    ov.submit(lambda: st(EDGES).append(attributed(edges())))
    ov.submit(st(QUEUE).append, attributed(review))
    ov.submit(st(FACTS).append, facts)
    ov.submit(st(CITED).append, cited)
    # blocking-index maintenance: ONLY the upserted entities' name rows are
    # (re)computed; duplicates vs prior index rows are deduped at read and
    # folded by compaction
    idx = name_index_rows(entities).localCheckpoint()
    ov.submit(st(NAME_INDEX).append, idx)
    ov.submit(st(NAME_BANDS).append, name_band_rows(idx, cfg))
    # the processed-pages log (cross-run F2) needs no order either: until
    # the version below is published, the pages are un-logged
    ov.submit(st(PAGES_LOG).append,
              attributed(articles.select("url", "content_hash")))
    st(PROFILES).merge(profiles(facts, cited))
    ov.join()

    # the commit point: until this version is published, every reader and
    # the next writer see the store at `start`
    return _publish_version(
        spark, store, start["version"] + 1, run_id, _heads(spark, store)
    )


def run_incremental(
    spark: SparkSession,
    pages: DataFrame,
    output_dir: str,
    cfg: DomainConfig | None = None,
    run_id: str | None = None,
) -> dict[str, DataFrame]:
    """Process a delta page batch against the snapshot store at
    `cfg.snapshot_store_path` (required). Writes per-run tables (articles,
    mentions, entities_delta, edges, review, metrics) under `output_dir`
    and commits the store updates atomically. Every store read is at the
    store version published when the run starts. Returns the per-run frames
    plus the resolved store entities of the version the run publishes."""
    cfg = cfg or get_default_config()
    if not cfg.snapshot_store_path:
        raise ValueError("run_incremental requires cfg.snapshot_store_path")
    store = cfg.snapshot_store_path
    run_id = run_id or uuid.uuid4().hex
    hfs.mkdirs(spark, output_dir)
    # the store as published; commits a crashed run left past it are unseen
    version = store_version(spark, store)["tables"]

    def read(name: str) -> DataFrame:
        return _st(spark, store, name).read(version[name])

    def entities_at(tables: dict) -> DataFrame | None:
        if tables[ENTITIES] is not None:
            return _st(spark, store, ENTITIES).read_resolved(
                ["entity_id"], tables[ENTITIES])
        return None

    with pl.overlap(spark) as ov:
        # ── cross-run F2: content-hash skip against the processed-pages log ──
        articles = pl.relevant_articles(pages, cfg)
        if version[PAGES_LOG] is not None:
            seen = (
                read(PAGES_LOG)
                .select("url", F.col("content_hash").alias("content_hash"))
                .dropDuplicates(["url", "content_hash"])
            )
            articles = articles.join(seen, ["url", "content_hash"], "left_anti")
        # parse once, eagerly — every downstream stage reuses the blocks
        articles = articles.localCheckpoint()
        ov.keep(articles)  # returned
        _write(articles, output_dir, "articles")

        # fully-seen delta (nightly rerun with no new pages): nothing to link,
        # nothing to commit — the store stays untouched (no empty batches)
        if articles.isEmpty():
            metrics = local_frame(
                spark,
                [("delta_articles", 0), ("delta_entities", 0),
                 ("store_matched", 0), ("new_entities", 0),
                 ("entities_upserted", 0)],
                "stage string, rows long",
            ).withColumn("run_id", F.lit(run_id))
            _write(metrics, output_dir, "metrics")
            return {
                "articles": articles,
                "entities_store": entities_at(version),
                "metrics": spark.read.parquet(_table_path(output_dir, "metrics")),
            }

        # ── delta extraction and self-resolution: the batch build's steps,
        # no store involved ──
        mentions, _ = pl.extract_mentions(spark, articles, output_dir, cfg)
        r = pl.resolve(mentions, articles, cfg)
        ov.release(r.nodes, r.clusters)
        clusters, review1 = r.clusters, r.review
        delta_entities = r.entities.localCheckpoint()

        # ── bipartite store linking ──
        store_entities = entities_at(version)
        if store_entities is not None:
            store_entities = store_entities.localCheckpoint(eager=False)
            # persisted blocking index: raw reads (duplicate keys across
            # batches are deduped here; compaction keeps the chains short) —
            # the store side of every blocking family is a columnar scan of
            # precomputed keys, no UDF pass over store entities
            if None not in (version[NAME_INDEX], version[NAME_BANDS]):
                store_names = read(NAME_INDEX).drop("_seq").dropDuplicates(
                    ["entity_id", "entity_type", "match_key"]
                )
                store_bands = read(NAME_BANDS).drop("_seq").dropDuplicates(
                    ["entity_type", "node_id", "band"]
                )
            else:
                store_names = store_bands = None
            assignments, review2 = link_entities_to_store(
                delta_entities, store_entities, cfg,
                store_names=store_names, store_bands=store_bands,
            )
            assignments = assignments.localCheckpoint()
            ov.keep(assignments)  # returned
            review2 = review2.localCheckpoint()
        else:
            assignments = local_frame(
                spark, [], "delta_id string, store_id string, reason string, sim double"
            )
            review2 = local_frame(spark, [], review1.schema)

        # ── FINAL identity map: delta cluster → the entity it lands in and
        # that entity's identity. A matched cluster takes the store entity's
        # (sticky: its cluster_id and canonical triple, hence its entity_id);
        # any other keeps its own ──
        identity = {  # ent_map column → entity column
            "entity_id": "entity_id", "entity_cluster_id": "cluster_id",
            "canonical_name": "canonical_name", "canonical_type": "canonical_type",
            "canonical_start_date": "canonical_start_date",
        }
        ent_map = delta_entities.select(
            "cluster_id", "entity_type",
            *[F.col(src).alias(dst) for dst, src in identity.items()],
        )
        if store_entities is not None:
            ent_map = (
                ent_map.join(
                    assignments.select(
                        F.col("delta_id").alias("entity_id"),
                        F.col("store_id").alias("s_entity_id"),
                    ),
                    "entity_id", "left",
                )
                .join(
                    store_entities.select(
                        *[F.col(src).alias("s_" + dst) for dst, src in identity.items()]
                    ),
                    "s_entity_id", "left",
                )
                .select(
                    "cluster_id", "entity_type",
                    *[F.coalesce("s_" + c, c).alias(c) for c in identity],
                )
            )
        # eager: the fact rows, the edges and the upserts all join it
        ent_map = ent_map.localCheckpoint()
        matched = None if store_entities is None else store_entities.join(
            assignments.select(F.col("store_id").alias("entity_id")),
            "entity_id", "left_semi",
        )
        upserts = entity_upserts(clusters, ent_map, matched, cfg).localCheckpoint()

        # ── apply: the per-run writes overlap the store commit ──
        edge_rows = build_edge_triples(clusters, ent_map)
        review = review1.unionByName(review2, allowMissingColumns=True)
        ov.submit(_write, upserts, output_dir, "entities_delta", ["entity_type"])
        ov.submit(_write, review, output_dir, "review")

        def _edges():
            _write(edge_rows, output_dir, "edges", ["pred"])
            return spark.read.parquet(_table_path(output_dir, "edges"))

        def _profiles(facts, cited):
            profiles = _rebuild_profiles(
                spark, store, version, cfg, upserts, facts, cited
            )
            _write(profiles, output_dir, "profiles")
            return spark.read.parquet(_table_path(output_dir, "profiles"))

        published = commit_run(
            spark, cfg, ov, run_id, clusters, ent_map, upserts, articles,
            review, _edges, _profiles,
        )["tables"]

        edges = spark.read.parquet(_table_path(output_dir, "edges"))
        review = spark.read.parquet(_table_path(output_dir, "review"))
        profiles = spark.read.parquet(_table_path(output_dir, "profiles"))

        # ── per-run metrics (counts on already-checkpointed small frames) ──
        n_articles = articles.count()
        n_delta = delta_entities.count()
        n_matched = assignments.count()
        n_upserts = upserts.count()
        metrics = local_frame(
            spark,
            [
                ("delta_articles", n_articles),
                ("delta_entities", n_delta),
                ("store_matched", n_matched),
                ("new_entities", n_delta - n_matched),
                ("entities_upserted", n_upserts),
            ],
            "stage string, rows long",
        ).withColumn("run_id", F.lit(run_id))
        _write(metrics, output_dir, "metrics")

        return {
            "articles": articles,
            "mentions": mentions,
            "assignments": assignments,
            "entities_delta": spark.read.parquet(
                _table_path(output_dir, "entities_delta")
            ),
            "entities_store": entities_at(published),
            "edges": edges,
            "review": review,
            "profiles": profiles,
            "metrics": spark.read.parquet(_table_path(output_dir, "metrics")),
        }
