"""Incremental entity linking: link a DELTA batch's entities against an
existing canonical entity STORE without re-clustering the full corpus.

This is the set-oriented re-expression of the reference's actual operating
mode — hinbox processes articles incrementally and merges each new entity
into the existing store via similarity search + match check
(/root/reference/src/engine/mergers.py:276-521), never re-deriving the
store from scratch. The batch pipeline (`run_pipeline`) is the from-scratch
derivation; `link_entities_to_store` is the nightly-delta path whose cost
scales with |delta| (+ blocking-key lookups into the store), not |corpus|.

Blocking is BIPARTITE (delta side × store side) so the store never
self-joins: at 10¹² accumulated documents the store holds ~10⁸-10⁹
entities, and any same-side pairing would dwarf the delta work. Both sides
are blocking-key rows in the batch shape (`linking.KEY_SCHEMA`): the delta
side from the batch key pass (`linking.blocking_keys`) over its name rows,
the store side rebuilt in the JVM from the persisted name index
(`name_index_rows`, `name_band_rows`). One count applies the caps, one join
on (entity_type, family, key) proposes every pair, and each family's
candidates are a slice of that join:

  exact_key     normalized-name equality across sides (B1 analog — in the
                batch path identical keys collapse into one node by
                construction; across runs they meet here); a key shared by
                more than NAME_LSH_BUCKET_CAP store entities is dropped
  equivalence   config synonym groups (B2)
  acronym       long form on one side, short form on the other (B3)
  containment   shared significant token + word-boundary containment
                verify (B4), token df-cap on the STORE side
  name_lsh      shared MinHash band bucket (B5), per-side bucket caps +
                per-delta-entity candidate cap

Scoring is the batch match check (`linking.match_scores`, J6-J9):
deterministic families accept outright (subject to the low-quality-name
guard and the events date rule); LSH proposals need cosine(search_embedding)
≥ τ(type) AND name-3-gram Jaccard ≥ 0.5, with the τ±band low-confidence
slice routed to the review queue and second-stage arbitration
(`arbitrate_review`).

Incremental-mode invariants (documented semantics, pinned in tests):
  * one winner per delta entity — deterministic argmax (deterministic
    reason first, then sim desc, then store_id asc);
  * existing store entities are NEVER auto-merged with each other: a delta
    entity that matches ≥2 store entities is evidence those store entities
    may be duplicates (a "bridge") — the winner absorbs the delta, the
    implied store-store pair lands in the review queue for humans, exactly
    like the reference's dispute queue;
  * store identity is sticky: canonical name / entity_id never flip in an
    incremental run (published-id stability) — a stronger delta name only
    ever becomes an alias.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from hinbox_spark.config import DomainConfig
from hinbox_spark.functions.names import ACRONYM_STOPWORDS, normalize_for_match
from hinbox_spark.operators.linking import (
    NAME_LSH_BUCKET_CAP, REASONS, TOKEN_DF_CAP, acronym_long, acronym_short,
    arbitrate_review, blocking_keys, containment_verified, match_scores,
    name_lsh_band_entries,
)
from hinbox_spark.session import local_frame

# deterministic argmax priority: lower rank wins before sim is consulted
_REASON_RANK = {
    "exact_key": 0,
    "equivalence": 1,
    "acronym": 2,
    "containment": 3,
    "name_lsh": 4,
}
# candidate reason of each blocking family
_FAMILY_REASON = {
    "exact": "exact_key",
    "equivalence": "equivalence",
    "acronym": "acronym",
    "containment": "containment",
    "lsh": "name_lsh",
}


@F.pandas_udf(StructType([
    StructField("acr_long", StringType()),
    StructField("acr_short", StringType()),
]))
def _acronym_keys(s: pd.Series) -> pd.DataFrame:
    return pd.DataFrame({
        "acr_long": s.map(acronym_long), "acr_short": s.map(acronym_short),
    })


def name_index_rows(entities: DataFrame) -> DataFrame:
    """(entity_id, entity_type, match_key, name, acr_long, acr_short) —
    one row per distinct linkable surface form (canonical name + aliases)
    of each entity, with the acronym blocking keys precomputed.

    This is the store's persistable NAME INDEX: the incremental pipeline
    materializes it (plus the MinHash band entries over it) as store
    tables maintained per upsert batch, so a delta run's store-side
    blocking work is a columnar index scan — never a pandas normalize /
    acronym / signature pass over all store entities."""
    return (
        _name_rows(entities)
        .withColumn("_a", _acronym_keys(F.col("name")))
        .select("*", "_a.acr_long", "_a.acr_short")
        .drop("_a")
    )


def name_band_rows(names: DataFrame, cfg: DomainConfig) -> DataFrame:
    """MinHash band entries over name-index rows — the persistable half of
    the B5 signature work, from the batch key pass. node_id packs
    (entity_id, match_key) so the bucket join can recover both."""
    nodes = names.select(
        "entity_type",
        F.concat_ws("\x1f", "entity_id", "match_key").alias("node_id"),
        "name",
        "match_key",
    )
    return name_lsh_band_entries(blocking_keys(nodes, cfg, ("lsh",)))


def _name_rows(entities: DataFrame) -> DataFrame:
    """(entity_id, entity_type, match_key, name) — one row per distinct
    linkable surface form (canonical name + aliases) of each entity."""

    @F.pandas_udf(StringType())
    def _mk(s: pd.Series) -> pd.Series:
        return s.map(normalize_for_match)

    return (
        entities.select(
            "entity_id",
            "entity_type",
            F.explode(
                F.array_distinct(
                    F.concat(
                        F.array("canonical_name"),
                        F.coalesce(
                            F.col("aliases"), F.array().cast("array<string>")
                        ),
                    )
                )
            ).alias("name"),
        )
        .filter(F.col("name") != "")
        .withColumn("match_key", _mk(F.col("name")))
        .filter(F.col("match_key") != "")
        # one row per (entity, key); deterministic display name
        .groupBy("entity_id", "entity_type", "match_key")
        .agg(F.min("name").alias("name"))
    )


def _delta_keys(d_names: DataFrame, cfg: DomainConfig) -> DataFrame:
    """Delta-side blocking keys: the batch key pass over the delta's name
    rows (node_id = entity_id; bigram re-keying is batch-only), plus the
    exact-key rows."""
    keys = blocking_keys(
        d_names.select(
            "entity_type", F.col("entity_id").alias("node_id"), "name", "match_key"
        ),
        cfg,
        REASONS,
    )
    return keys.unionByName(_key_rows(d_names, "exact", F.col("match_key")))


def _key_rows(names: DataFrame, family: str, key, role: str = "") -> DataFrame:
    return names.select(
        "entity_type",
        F.lit(family).alias("family"),
        key.alias("key"),
        F.lit(role).alias("role"),
        F.col("entity_id").alias("node_id"),
        "name",
    )


def _store_keys(
    s_names: DataFrame, s_bands: DataFrame, cfg: DomainConfig
) -> DataFrame:
    """Store-side blocking keys, rebuilt in the JVM from the name index
    (`name_index_rows` shape) and its band entries (`name_band_rows`
    shape) — the same keys the batch key pass emits, plus exact keys."""
    spark = s_names.sparkSession
    non_people = s_names.filter(F.col("entity_type") != "people")
    parts = [
        _key_rows(s_names, "exact", F.col("match_key")),
        _key_rows(non_people.filter(F.col("acr_long") != ""), "acronym",
                  F.col("acr_long"), "long"),
        _key_rows(non_people.filter(F.col("acr_short") != ""), "acronym",
                  F.col("acr_short"), "short"),
        _key_rows(
            non_people.withColumn(
                "token", F.explode(F.split(F.col("match_key"), " "))
            ).filter(
                (F.length("token") >= 4) & ~F.col("token").isin(*ACRONYM_STOPWORDS)
            ),
            "containment", F.col("token"), "token",
        ),
    ]
    groups = [
        (etype, normalize_for_match(member), f"{etype}:{gid}")
        for etype, group_list in cfg.equivalence_groups.items()
        for gid, group in enumerate(group_list)
        for member in group
    ]
    if groups:
        groups_df = local_frame(
            spark, groups, "entity_type string, match_key string, group_id string"
        )
        parts.append(_key_rows(
            s_names.join(F.broadcast(groups_df), ["entity_type", "match_key"]),
            "equivalence", F.col("group_id"),
        ))
    node = F.split(F.col("node_id"), "\x1f")
    bands = s_bands.select(
        "entity_type",
        node[0].alias("entity_id"),
        node[1].alias("match_key"),
        F.concat_ws(":", "band", "bh").alias("key"),
    ).join(s_names.select("entity_id", "match_key", "name"),
           ["entity_id", "match_key"])
    parts.append(_key_rows(bands, "lsh", F.col("key")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _proposals(d_keys: DataFrame, s_keys: DataFrame) -> DataFrame:
    """(delta_id, store_id, name_d, name_s, family) — every key shared
    across sides after the caps, from one join on (entity_type, family,
    key), checkpointed for the family slices: exact keys over
    NAME_LSH_BUCKET_CAP store entities, containment tokens over
    TOKEN_DF_CAP store entities and MinHash buckets over
    NAME_LSH_BUCKET_CAP entries on either side are dropped (counted by a
    map-side-combinable groupBy, `dedup.over_cap_keys`, and broadcast back
    as a left_anti join — no window). Acronym keys pair a long form with a
    short form, never two long forms ('National Security Agency' /
    'National Shipping Association' are not acronym matches)."""
    from hinbox_spark.operators.dedup import over_cap_keys

    family, key = F.col("family"), ["entity_type", "family", "key"]
    sides = (
        d_keys.withColumn("side", F.lit("d"))
        .unionByName(s_keys.withColumn("side", F.lit("s")))
        .localCheckpoint(eager=False)  # counted, then joined
    )
    store = F.col("side") == "s"
    tokens = family == "containment"
    hot = over_cap_keys(
        sides.filter(
            (family == "lsh") | (store & family.isin("exact", "containment"))
        ),
        ["side", *key],
        F.when(tokens, TOKEN_DF_CAP).otherwise(NAME_LSH_BUCKET_CAP),
        # a token's document frequency counts entities, not name rows
        F.when(tokens, F.countDistinct("node_id")).otherwise(F.count("*")),
    )
    kept = sides.join(
        F.broadcast(hot.select("side", *key)), ["side", *key], "left_anti"
    )
    d = kept.filter(~store).select(
        *key, "role", F.col("node_id").alias("delta_id"), F.col("name").alias("name_d")
    )
    s = kept.filter(store).select(
        *key,
        F.when(F.col("role") == "short", F.lit("long"))
        .when(F.col("role") == "long", F.lit("short"))
        .otherwise(F.col("role")).alias("role"),
        F.col("node_id").alias("store_id"),
        F.col("name").alias("name_s"),
    )
    # one row per (name pair, family): a pair sharing several tokens or
    # bands is one candidate
    return (
        d.join(s, [*key, "role"])
        .select("delta_id", "store_id", "name_d", "name_s", "family")
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )


def _family(proposals: DataFrame, family: str) -> DataFrame:
    """One family's candidates (delta_id, store_id, name_d, name_s,
    reason)."""
    return proposals.filter(F.col("family") == family).select(
        "delta_id", "store_id", "name_d", "name_s",
        F.lit(_FAMILY_REASON[family]).alias("reason"),
    )


def _family_exact(proposals: DataFrame) -> DataFrame:
    return _family(proposals, "exact")


def _family_equivalence(proposals: DataFrame) -> DataFrame:
    return _family(proposals, "equivalence")


def _family_acronym(proposals: DataFrame) -> DataFrame:
    return _family(proposals, "acronym")


def _family_containment(proposals: DataFrame) -> DataFrame:
    return _family(proposals, "containment").filter(
        containment_verified(F.lit(True), F.col("name_d"), F.col("name_s"))
    )


def _family_lsh(proposals: DataFrame) -> DataFrame:
    return _family(proposals, "lsh")


def link_entities_to_store(
    delta: DataFrame,
    store: DataFrame,
    cfg: DomainConfig,
    store_names: DataFrame | None = None,
    store_bands: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (assignments, review).

    assignments: (delta_id, store_id, reason, sim) — at most one row per
    delta entity (deterministic argmax).
    review: pipeline review-queue shape (src, dst, entity_type, name_src,
    name_dst, sim, tau, confidence, decision, arbiter_confidence) — the
    still-deferred gray-band rows PLUS store-store "bridge" disputes
    implied by one delta entity matching several store entities.

    Both input frames need: entity_id, entity_type, canonical_name,
    canonical_start_date, aliases, search_embedding.

    `store_names` / `store_bands` are the PERSISTED store index tables
    (`name_index_rows` / `name_band_rows` shapes). When given, the
    store-side blocking work is a columnar scan of precomputed keys — no
    normalize UDF or MinHash signature pass touches the store; without
    them both are derived from `store` (correct, but O(|store|) Python
    work per run — fine for tests, wrong for a nightly delta at scale).
    The delta side runs the batch key pass over its name rows.
    """
    from hinbox_spark.functions.skew import bounded_topk

    d_names = _name_rows(delta).localCheckpoint(eager=False)
    s_names = (
        store_names if store_names is not None else name_index_rows(store)
    ).localCheckpoint(eager=False)
    s_bands = store_bands if store_bands is not None else name_band_rows(s_names, cfg)
    proposals = _proposals(
        _delta_keys(d_names, cfg), _store_keys(s_names, s_bands, cfg)
    )

    det = (
        _family_exact(proposals)
        .unionByName(_family_equivalence(proposals))
        .unionByName(_family_acronym(proposals))
        .unionByName(_family_containment(proposals))
    )
    lsh = _family_lsh(proposals).join(
        det.select("delta_id", "store_id"), ["delta_id", "store_id"], "left_anti"
    )
    # reference blocking_max_candidates: cap cosine-path proposals per delta
    # entity (deterministic hash order, tournament top-k — no window)
    lsh = bounded_topk(
        lsh,
        keys=["delta_id"],
        order_by=[F.xxhash64("delta_id", "store_id", "name_d", "name_s")],
        k=cfg.blocking_max_candidates,
        salt_expr=F.xxhash64("store_id"),
    )

    # one candidate row per (delta, store): keep the strongest reason, and
    # within a reason the lexicographically-smallest name pair (determinism)
    rank_expr = F.coalesce(
        *[
            F.when(F.col("reason") == r, F.lit(k))
            for r, k in _REASON_RANK.items()
        ],
        F.lit(99),
    )
    cand = (
        det.unionByName(lsh)
        .withColumn("reason_rank", rank_expr)
        .groupBy("delta_id", "store_id")
        .agg(
            F.min(
                F.struct("reason_rank", "name_d", "name_s", "reason")
            ).alias("_b")
        )
        .select(
            "delta_id",
            "store_id",
            F.col("_b.reason").alias("reason"),
            F.col("_b.reason_rank").alias("reason_rank"),
            F.col("_b.name_d").alias("name_d"),
            F.col("_b.name_s").alias("name_s"),
        )
    )

    # ── scoring: the batch match check over store metadata ──
    d_meta = delta.select(
        F.col("entity_id").alias("delta_id"),
        "entity_type",
        F.col("canonical_start_date").alias("date_d"),
        F.col("search_embedding").alias("vec_d"),
    )
    s_meta = store.select(
        F.col("entity_id").alias("store_id"),
        F.col("canonical_start_date").alias("date_s"),
        F.col("search_embedding").alias("vec_s"),
    )
    scored = match_scores(
        cand.join(d_meta, "delta_id").join(s_meta, "store_id"),
        cfg,
        F.col("reason_rank") < _REASON_RANK["name_lsh"],
        "d",
        "s",
    )
    accepted = scored.filter("accept")
    review = scored.filter("defer").select(
        F.col("delta_id").alias("src"),
        F.col("store_id").alias("dst"),
        "entity_type",
        F.col("name_d").alias("name_src"),
        F.col("name_s").alias("name_dst"),
        "sim",
        "tau",
        F.col("name_jac").alias("confidence"),
        F.lit("defer").alias("decision"),
        "tok_jac", "acr", "cont",
    )
    # second-stage arbitration (same pass as the batch pipeline): merges
    # join the accepted set, skips are final, defers stay queued
    review = arbitrate_review(review)
    arb_merges = review.filter(F.col("decision") == "merge").select(
        F.col("src").alias("delta_id"),
        F.col("dst").alias("store_id"),
        F.lit("dispute_merge").alias("reason"),
        F.lit(_REASON_RANK["name_lsh"] + 1).alias("reason_rank"),
        "sim",
    )
    accepted = accepted.select(
        "delta_id", "store_id", "reason", "reason_rank", "sim"
    ).unionByName(arb_merges).localCheckpoint(eager=False)

    # ── deterministic argmax + bridge detection ──
    assignments = (
        accepted.groupBy("delta_id")
        .agg(
            F.min(
                F.struct(
                    "reason_rank",
                    (-F.col("sim")).alias("neg_sim"),
                    "store_id",
                    "reason",
                    "sim",
                )
            ).alias("_w")
        )
        .select(
            "delta_id",
            F.col("_w.store_id").alias("store_id"),
            F.col("_w.reason").alias("reason"),
            F.col("_w.sim").alias("sim"),
        )
    )
    # a delta entity accepting ≥2 distinct store entities implies those
    # store entities may be duplicates — incremental mode NEVER auto-merges
    # two existing entities; the implied store-store pair goes to review
    losers = (
        accepted.join(
            assignments.select("delta_id", F.col("store_id").alias("win_id")),
            "delta_id",
        )
        .filter(F.col("store_id") != F.col("win_id"))
        # deterministic witness per implied store pair: the STRONGEST
        # losing sim (a bare dropDuplicates would write a
        # partition-order-dependent sim into the append-only queue)
        .groupBy("win_id", "store_id")
        .agg(F.max("sim").alias("sim"))
    )
    # normalize the pair ordering FIRST, then fold both directions with a
    # max-sim aggregate — the queue row is fully deterministic
    pairs_norm = (
        losers.select(
            F.least("win_id", "store_id").alias("src"),
            F.greatest("win_id", "store_id").alias("dst"),
            "sim",
        )
        .groupBy("src", "dst")
        .agg(F.max("sim").alias("sim"))
    )
    s_canon = store.select(
        F.col("entity_id").alias("_sid"),
        F.col("canonical_name").alias("_scanon"),
        F.col("entity_type").alias("_stype"),
    )
    bridges = (
        pairs_norm.join(
            s_canon.select(
                F.col("_sid").alias("src"),
                F.col("_scanon").alias("name_src"),
                F.col("_stype").alias("entity_type"),
            ),
            "src",
        )
        .join(
            s_canon.select(
                F.col("_sid").alias("dst"),
                F.col("_scanon").alias("name_dst"),
            ),
            "dst",
        )
        .select(
            "src", "dst", "entity_type", "name_src", "name_dst", "sim",
            F.lit(None).cast("double").alias("tau"),
            F.lit(0.0).alias("confidence"),
            F.lit("defer").alias("decision"),
            F.lit(None).cast("double").alias("arbiter_confidence"),
        )
    )
    review_out = review.unionByName(bridges, allowMissingColumns=True)
    return assignments, review_out
