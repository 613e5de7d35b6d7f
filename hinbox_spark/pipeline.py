"""End-to-end KG-construction pipeline with stage-boundary checkpoints.

Stages (each materializes a parquet table = checkpoint; a rerun anti-joins
inputs against completed work — the reference's processing_status.json
skip-if-unchanged semantics at src/utils/processing_status.py:17-93 and
src/process_and_extract.py:545-565, re-expressed as tables):

  articles   pages → extracted text          (partitioned narrow, no shuffle)
  mentions   articles → typed mentions       (mapInPandas, no shuffle)
  nodes      distinct mention keys           (1 shuffle on key)
  pairs      blocking joins                  (shuffles on blocking keys)
  clusters   connected components            (iterative, O(log n) shuffles)
  entities   canonical entities              (the entity fold of each cluster)
  edges      (subj, pred, obj) triples
  profiles   versioned profiles + grounding
  review     gray-band deferred pairs
  metrics    per-stage, per-partition counters (north_rule lineage)

The extraction steps (`relevant_articles`, `extract_mentions`), the entity
resolution chain (`resolve`: nodes → pairs → components → entities) and the
background-work block (`overlap`) are shared with the delta path in
`incremental.run_incremental`, so both runs build entities the same way.
With `snapshot_store_path` set, the run is the store's bootstrap and ends
in the delta run's store commit (`incremental.commit_run`).
"""

from __future__ import annotations

from concurrent import futures
from typing import NamedTuple

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hinbox_spark import fs as hfs
from hinbox_spark.config import DomainConfig, get_default_config
from hinbox_spark.operators.canonicalize import (
    build_clusters, build_edge_triples, build_entities, canonical_names, fold,
    mention_facets,
)
from hinbox_spark.operators.clustering import connected_components
from hinbox_spark.operators.extraction import (
    extract_articles, extract_mentions_cached, extract_mentions_with_flags,
    relevance_predicate, scrub_articles, skip_reason_summary,
)
from hinbox_spark.operators.linking import (
    arbitrate_review, blocking_keys, candidate_pairs, mention_nodes,
    name_lsh_band_entries, name_lsh_truncation_stats,
    name_lsh_truncation_stats_from_entries, node_evidence_embeddings,
    score_pairs,
)
from hinbox_spark.operators.profiles import build_profiles, ground_profiles
from hinbox_spark.session import local_frame

STAGES = (
    "articles", "mentions", "entities", "edges", "profiles",
    "review", "decisions", "metrics",
)


def _table_path(base: str, name: str) -> str:
    return base.rstrip("/") + "/" + name


def _stage_counts(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition row counts for the lineage metrics table."""
    return (
        df.groupBy("partition_id")
        .agg(F.count("*").alias("rows"))
        .withColumn("stage", F.lit(stage))
        .select("stage", "partition_id", "rows")
    )


def _done(spark: SparkSession, base: str, name: str) -> bool:
    # Hadoop FS API, not os.path — the output dir may be hdfs:/s3a:/file:
    return hfs.exists(spark, _table_path(base, name) + "/_SUCCESS")


def _write(df: DataFrame, base: str, name: str, partition_cols: list[str] | None = None):
    path = _table_path(base, name)
    if "partition_id" not in df.columns:
        # write-time lineage: the partition that produced each row is
        # persisted, so the metrics stage never re-derives it
        df = df.withColumn("partition_id", F.spark_partition_id())
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)
    # an all-empty write emits no schema-bearing part file → unreadable
    # table; detect from the output listing (free) and rewrite one empty
    # part file carrying the schema
    if not hfs.has_part_files(df.sparkSession, path):
        # write an empty single-file table from a literal (no plan recompute)
        local_frame(df.sparkSession, [], df.schema).repartition(1).write.mode(
            "overwrite"
        ).parquet(path)


def _with_profile_embedding(profiles: DataFrame, cfg: DomainConfig) -> DataFrame:
    """profile_embedding = encoding of the profile text (+ metadata cols)."""
    from hinbox_spark.functions.embeddings import (
        EMBEDDING_MODEL, embed_text, fingerprint,
    )

    dim = cfg.embedding_dim

    @F.pandas_udf("array<float>")
    def _embed(text: pd.Series) -> pd.Series:
        return text.map(lambda t: embed_text(t or "", dim).tolist())

    return (
        profiles.withColumn("profile_embedding", _embed(F.col("profile_text")))
        .withColumn("profile_embedding_model", F.lit(EMBEDDING_MODEL))
        .withColumn("profile_embedding_dim", F.lit(dim))
        .withColumn("profile_embedding_fingerprint", F.lit(fingerprint(dim=dim)))
    )


def _rdd_ids(df: DataFrame) -> set[int]:
    """Ids of the RDDs under a frame's plan leaves — a checkpointed frame's
    leaf is the LogicalRDD holding its checkpoint blocks."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaf.rdd().id()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.getClass().getSimpleName() == "LogicalRDD"
    }


class overlap:
    """The background Spark work of one run, released on every exit path.

    ``submit`` runs a job-issuing function on a driver thread, so an
    independent write overlaps the foreground chain; ``join`` waits for
    everything submitted so far and raises the first background error.
    Leaving the block joins every future, shuts the pool down, uncaches the
    frames handed to ``release`` and unpersists every RDD persisted since
    the block was entered (``DataFrame.unpersist`` leaves a local
    checkpoint's blocks in place), except, when the block succeeds, the
    RDDs under the frames handed to ``keep`` — the checkpoints a run
    returns. A background error is re-raised only when no foreground error
    is already propagating. Single-writer model, like the snapshot store:
    RDDs another thread persists in the session while the block is open
    are released too."""

    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext

    def __enter__(self) -> "overlap":
        self._before = set(self._sc._jsc.getPersistentRDDs().keySet())
        self._pool = futures.ThreadPoolExecutor(max_workers=4)
        self._futures, self._cached, self._kept = [], [], set()
        return self

    def submit(self, fn, *args):
        fut = self._pool.submit(fn, *args)
        self._futures.append(fut)
        return fut

    def join(self) -> None:
        pending, self._futures = self._futures, []
        errors = [f.exception() for f in pending]  # waits for every future
        first = next((e for e in errors if e is not None), None)
        if first is not None:
            raise first

    def release(self, *cached: DataFrame) -> None:
        self._cached.extend(cached)

    def keep(self, *frames: DataFrame) -> None:
        for df in frames:
            self._kept |= _rdd_ids(df)

    def __exit__(self, exc_type, exc, tb) -> None:
        try:
            self.join()
        except Exception:
            if exc_type is None:
                raise
        finally:
            self._pool.shutdown(wait=True)
            for df in self._cached:
                df.unpersist()
            # a failed run returns nothing, so nothing is kept
            kept = self._kept if exc_type is None else set()
            rdds = self._sc._jsc.getPersistentRDDs()
            for rid in set(rdds.keySet()) - self._before - kept:
                rdds.get(rid).unpersist(False)


def relevant_articles(pages: DataFrame, cfg: DomainConfig) -> DataFrame:
    """pages → scrubbed articles with the F4 relevance flag stamped while
    the text is already flowing through the stage — downstream consumers
    filter on the persisted boolean (parquet predicate pushdown) instead of
    re-scanning text."""
    return scrub_articles(extract_articles(pages), cfg).withColumn(
        "is_relevant", relevance_predicate(cfg.relevance_keywords)
    )


def extract_mentions(
    spark: SparkSession,
    articles: DataFrame | None,
    output_dir: str,
    cfg: DomainConfig,
    cache_stats: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Stage 2, returning (mentions, qc_flags). With ``articles`` given,
    the cached or flagged extraction of its relevant rows runs as one FUSED
    NER+write job: the extraction-QC flag rows (X3) ride the mentions table
    with qc_flag set (null on mention rows) — no extra materialization
    pass, no second commit. With ``articles`` None (resume) the table is
    only read. The flag channel is sliced off by a pushdown-filtered read;
    a table written before the column existed means "no flags"."""
    if articles is not None:
        # resume compatibility: an articles checkpoint written before the
        # is_relevant column existed lacks it — stamp it on the fly (same
        # guard skip_reason_summary uses)
        if "is_relevant" not in articles.columns:
            articles = articles.withColumn(
                "is_relevant", relevance_predicate(cfg.relevance_keywords)
            )
        from hinbox_spark.config_loader import gazetteer_for

        relevant = articles.filter(F.col("is_relevant"))
        gaz = gazetteer_for(cfg)  # YAML-loaded entries when present, else default
        if cfg.extraction_cache_path:
            extracted = extract_mentions_cached(
                relevant, gaz, cfg.extraction_cache_path, stats_out=cache_stats
            )
        else:
            extracted = extract_mentions_with_flags(relevant, gaz)
        _write(extracted, output_dir, "mentions", ["entity_type"])
    raw = spark.read.parquet(_table_path(output_dir, "mentions"))
    if "qc_flag" not in raw.columns:
        return raw, local_frame(
            spark, [], "url string, entity_type string, qc_flag string"
        )
    return (
        raw.filter(F.col("qc_flag").isNull()).drop("qc_flag"),
        raw.filter(F.col("qc_flag").isNotNull()).select(
            "url", "entity_type", "qc_flag"
        ),
    )


class Resolution(NamedTuple):
    """`resolve`'s frames: ``nodes`` and ``clusters`` are cached (hand them
    to `overlap.release`), ``entities`` is not materialized."""

    nodes: DataFrame
    band_entries: DataFrame
    pairs: DataFrame
    accepted: DataFrame
    review: DataFrame
    clusters: DataFrame
    entities: DataFrame


def resolve(
    mentions: DataFrame, articles: DataFrame, cfg: DomainConfig
) -> Resolution:
    """Entity resolution over one set of mentions: blocking → match scoring
    → dispute arbitration → connected components → canonicalization. The
    batch build resolves its whole corpus with it, a delta run its delta
    before linking to the store. The operators are looked up in this
    module's namespace at call time, so a patch on `pipeline` reaches both
    entry points."""
    nodes = mention_nodes(mentions).cache()
    # the blocking-key pass (the one Python pass of blocking) is computed
    # ONCE and shared: pairing reads it, and the batch metrics stage
    # derives its truncation counters from the same checkpointed keys
    keys = blocking_keys(nodes, cfg).localCheckpoint(eager=False)
    band_entries = name_lsh_band_entries(keys)
    # pairs is checkpointed so the scoring pass and the decisions
    # anti-joins share one blocking computation
    pairs = candidate_pairs(nodes, cfg, keys=keys).localCheckpoint(eager=False)
    node_vecs = node_evidence_embeddings(nodes, mentions, articles, cfg)
    # one eager checkpoint of the scored pairs underlies accepted and
    # review: the review write, the queue append and the decisions
    # aggregates all read its materialized blocks
    accepted, review = score_pairs(pairs, nodes, node_vecs, cfg)
    # second-stage dispute arbitration (merge_dispute_agent parity): a
    # deterministic pass over the gray-band rows' features can override in
    # both directions — merges feed back as clustering edges, skips are
    # final, defers stay queued for humans
    review = arbitrate_review(review)
    dispute_merges = review.filter(F.col("decision") == "merge").select(
        "src", "dst", "entity_type",
        F.lit("dispute_merge").alias("reason"), "sim",
    )
    # materialize the (tiny, pair-level) accepted-edge set once, NOW —
    # clustering and the callers' background jobs consume it from several
    # threads, and an eager checkpoint removes any double-materialization
    # race a lazy one would allow
    accepted = accepted.unionByName(dispute_merges).localCheckpoint()
    labels = connected_components(
        nodes.select("node_id"), accepted.select("src", "dst")
    )
    clusters = build_clusters(mentions, nodes, labels, articles).cache()
    # each cluster's mentions fold into one entity row (canonicalize.py)
    entities = build_entities(
        canonical_names(fold(mention_facets(clusters))), cfg
    )
    return Resolution(
        nodes, band_entries, pairs, accepted, review, clusters, entities
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    output_dir: str,
    cfg: DomainConfig | None = None,
    resume: bool = True,
    stage_times: dict | None = None,
) -> dict[str, DataFrame]:
    """Run all stages; stages whose output table already exists are skipped
    when resume=True (checkpoint/resume at stage boundaries).

    When ``stage_times`` is a dict, wall-clock seconds per coarse stage
    block are recorded into it (extract / link_score / cluster_entities /
    edges_profiles / metrics; link_score is the whole `resolve` chain).
    Blocks overlap background writes, so the numbers are
    boundary-to-boundary wall time on the driver thread — a diagnosis aid
    for the bench sidecar, not disjoint CPU accounting."""
    import time as _time

    _t_block = _time.monotonic()

    def _mark(name: str) -> None:
        nonlocal _t_block
        if stage_times is not None:
            now = _time.monotonic()
            stage_times[name] = round(now - _t_block, 3)
            _t_block = now

    def done(*names: str) -> bool:
        return resume and all(_done(spark, output_dir, n) for n in names)

    def read(name: str) -> DataFrame:
        return spark.read.parquet(_table_path(output_dir, name))

    cfg = cfg or get_default_config()
    hfs.mkdirs(spark, output_dir)
    store = cfg.snapshot_store_path
    if store:
        # with a store configured this run is its bootstrap, committed by
        # the delta run's `commit_run`. The run id is this output's, so a
        # resume finishes a commit whose store version was never published.
        from hinbox_spark import incremental as inc

        run_id = inc._bootstrap_run_id(output_dir)

    # run-level counters (filled by the stages below when they execute;
    # empty on a resumed run whose stages were skipped)
    cache_stats: dict = {}
    # shared B5 band entries (set by the linking block; None on resume)
    band_entries = None

    with overlap(spark) as ov:
        # ── stages 1-2: articles ∥ mentions ──
        # The measured 480k-page Amdahl residue is the chain of sequential
        # stage commits, so when both stages run this session the articles
        # table's parquet commit overlaps mention extraction: the parsed
        # articles are eagerly localCheckpoint'ed (the HTML parse runs
        # ONCE), the articles write goes to a background thread, and the
        # NER pass consumes the same blocks concurrently. F4: only
        # relevance-passing articles reach the NER stage — the rest land
        # in the skip-reason counters.
        extract = not done("mentions")
        if not done("articles"):
            articles = relevant_articles(pages, cfg)
            if extract:
                articles = articles.localCheckpoint()  # parse once, eager
                ov.submit(_write, articles, output_dir, "articles")
            else:
                _write(articles, output_dir, "articles")
        elif extract:
            articles = read("articles")
        mentions, qc_flags = extract_mentions(
            spark, articles if extract else None, output_dir, cfg, cache_stats
        )
        ov.join()
        _mark("extract")
        articles = read("articles")

        # ── stages 3-5: linking → clustering → canonicalization ──
        # the gate must include EVERY table the block writes — profiles is
        # written last, so a crash between edges and profiles would
        # otherwise leave a resume state that skips the block and then
        # fails reading the missing profiles table (wedged checkpoint dir) —
        # and the store commit, which needs the block's cached clusters
        if not done("entities", "edges", "review", "decisions", "profiles") or (
            store and not inc._published(spark, store, run_id)
        ):
            r = resolve(mentions, articles, cfg)
            ov.release(r.nodes, r.clusters)
            band_entries = r.band_entries
            _mark("link_score")

            # A1 parity: merge-decision counters (reference MergeStats —
            # merged/skipped/disputed per type/reason) as a metrics table.
            # skipped = candidate pairs that neither merged nor deferred
            # (failed the match check / a guard) — lazy anti-joins,
            # evaluated once at the decisions write.
            skipped = (
                r.pairs.join(r.accepted.select("src", "dst"), ["src", "dst"], "left_anti")
                .join(r.review.select("src", "dst"), ["src", "dst"], "left_anti")
                .join(
                    r.nodes.select(F.col("node_id").alias("src"), "entity_type"),
                    "src",
                )
                .groupBy("entity_type", "reason")
                .agg(F.count("*").alias("n"))
                .withColumn("decision", F.lit("skipped"))
            )
            decisions = (
                r.accepted.groupBy("entity_type", "reason")
                .agg(F.count("*").alias("n"))
                .withColumn("decision", F.lit("merged"))
                .unionByName(
                    # still-deferred rows are the open disputes; arbitration
                    # merges are already counted under merged/dispute_merge
                    r.review.filter(F.col("decision") == "defer")
                    .groupBy("entity_type")
                    .agg(F.count("*").alias("n"))
                    .withColumn("reason", F.lit("gray_band"))
                    .withColumn("decision", F.lit("disputed"))
                    .select("entity_type", "reason", "n", "decision")
                )
                .unionByName(
                    r.review.filter(F.col("decision") == "skip")
                    .groupBy("entity_type")
                    .agg(F.count("*").alias("n"))
                    .withColumn("reason", F.lit("dispute_skip"))
                    .withColumn("decision", F.lit("skipped"))
                    .select("entity_type", "reason", "n", "decision")
                )
                .unionByName(skipped.select("entity_type", "reason", "n", "decision"))
            )
            # the review/queue/decisions jobs are independent of the
            # canonicalization chain (all read only checkpointed inputs),
            # so they run as CONCURRENT Spark jobs from driver threads — at
            # 4N cores the serial tail is ~30% of the run, and overlapping
            # independent jobs is what converts spare cores into
            # wall-clock (at N cores everything is compute-bound and the
            # overlap costs nothing)
            ov.submit(_write, r.review, output_dir, "review")
            ov.submit(_write, decisions, output_dir, "decisions")
            # NOTE: overlapping the expensive half of the metrics stage
            # (full pages/articles/mentions scans) with the clustering
            # chain from a background thread was tried and MEASURED SLOWER
            # at 480k (local[16] ~111 s → ~150 s): the fat html-bearing
            # pages scan competes with the cached mention_clusters /
            # iterative CC jobs for block-manager memory and FIFO task
            # slots, stretching the critical path. The metrics scans stay
            # in the final stage where the cluster is otherwise idle.

            # a bootstrap commits its entity rows as folded (the delta
            # upserts' schema), from the checkpoint the per-run table reads
            projected = r.entities.localCheckpoint() if store else r.entities
            _write(projected, output_dir, "entities", ["entity_type"])
            entities = read("entities")
            _mark("cluster_entities")
            # edges and profiles both read only the cached clusters and the
            # written entities table — independent jobs, overlapped the
            # same way as decisions
            edges = build_edge_triples(r.clusters, entities)
            ov.submit(_write, edges, output_dir, "edges", ["pred"])

            # ── stage 6: profiles + grounding ──
            profiles = build_profiles(r.clusters, entities)
            profiles = ground_profiles(profiles, articles)
            profiles = _with_profile_embedding(profiles, cfg)
            _write(profiles, output_dir, "profiles")

            if store:
                # the store commit reads the edges and profiles as written
                # (entity merge-on-read upsert by entity_id: a re-run of
                # the same corpus supersedes, never duplicates)
                ov.join()
                inc.commit_run(
                    spark, cfg, ov, run_id, r.clusters, projected, projected,
                    articles, r.review, lambda: read("edges"),
                    lambda facts, cited: read("profiles"),
                )
            _mark("edges_profiles")
            ov.join()

        entities = read("entities")
        edges = read("edges")
        profiles = read("profiles")
        review = read("review")

        # ── metrics table: per-stage / per-partition lineage counters ──
        # partition_id is persisted at write time by _write, so the late
        # half is one column-pruned scan per small table; the early half
        # scans the big tables on an otherwise-idle cluster (overlapping it
        # with the clustering chain measured slower — see the note in the
        # linking block)
        if not done("metrics"):
            m = _stage_counts(articles, "articles").unionByName(
                _stage_counts(mentions, "mentions")
            )
            # A2: per-reason skip counters
            m = m.unionByName(
                skip_reason_summary(
                    pages, articles, mentions, cfg.relevance_keywords
                ).select(
                    F.when(F.col("reason") == "processed", F.lit("processed"))
                    .otherwise(F.concat(F.lit("skip_"), "reason"))
                    .alias("stage"),
                    F.lit(-1).alias("partition_id"),
                    F.col("n").alias("rows"),
                )
            )
            # X3: extraction-QC flag counters next to the skip reasons —
            # one pushdown-filtered slice of the mentions table
            m = m.unionByName(
                qc_flags.groupBy("qc_flag")
                .agg(F.count("*").alias("rows"))
                .select(
                    F.concat(F.lit("qc_"), "qc_flag").alias("stage"),
                    F.lit(-1).alias("partition_id"),
                    "rows",
                )
            )
            # B5 truncation: dropped name-LSH buckets are counted, not
            # silent. When the linking block ran this session the counters
            # derive from the SAME checkpointed blocking keys (no key-pass
            # recompute); only a resumed run that skipped linking but lost
            # its metrics pays the standalone fallback.
            trunc = (
                name_lsh_truncation_stats_from_entries(band_entries)
                if band_entries is not None
                else name_lsh_truncation_stats(mentions, cfg)
            )
            m = m.unionByName(
                trunc.select(
                    "stage", F.lit(-1).alias("partition_id"),
                    F.col("n").alias("rows"),
                )
            )
            run_counters = {
                # A10: extraction-cache hit/miss counters
                **{f"extraction_cache_{k}": v for k, v in cache_stats.items()},
                # F2 skip-if-unchanged analog: cache hits = articles whose
                # content hash was already extracted in a previous run
                "skip_unchanged_hash": cache_stats.get("hits", 0),
            }
            if run_counters:
                # partition_id −1 = run-level counter, not tied to a partition
                m = m.unionByName(
                    local_frame(
                        spark,
                        [(k, -1, v) for k, v in run_counters.items()],
                        "stage string, partition_id int, rows long",
                    )
                )
            m = (
                m.unionByName(_stage_counts(entities, "entities"))
                .unionByName(_stage_counts(edges, "edges"))
                .unionByName(_stage_counts(profiles, "profiles"))
                .unionByName(_stage_counts(review, "review"))
            )
            _write(m, output_dir, "metrics")
        _mark("metrics")

    return {
        "articles": articles,
        "mentions": mentions,
        "qc_flags": qc_flags,
        "entities": entities,
        "edges": edges,
        "profiles": profiles,
        "review": review,
        "decisions": read("decisions"),
        "metrics": read("metrics"),
    }
