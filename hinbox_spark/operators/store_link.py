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
entities, and any same-side pairing would dwarf the delta work. Each family
mirrors its batch sibling in `operators/linking.py`:

  exact_key     normalized-name equality across sides (B1 analog — in the
                batch path identical keys collapse into one node by
                construction; across runs they meet here)
  equivalence   config synonym groups, broadcast (B2)
  acronym       long-form derived acronym = short-form letters (B3)
  containment   shared-token blocking + word-boundary containment verify,
                token df-cap on the STORE side (B4)
  name_lsh      MinHash name-LSH band entries joined across sides, per-side
                bucket caps + per-delta-entity candidate cap (B5)

Scoring reuses the batch match-check semantics (J6-J9): deterministic
families accept outright (subject to the low-quality-name guard and the
events date rule); LSH proposals need cosine(search_embedding) ≥ τ(type)
AND name-3-gram Jaccard ≥ 0.5, with the τ±band low-confidence slice routed
to the review queue and second-stage arbitration (`arbitrate_review`).

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
from pyspark.sql.types import StringType

from hinbox_spark.config import DomainConfig
from hinbox_spark.functions.names import ACRONYM_STOPWORDS, normalize_for_match
from hinbox_spark.operators.dedup import capped_bucket_entries
from hinbox_spark.operators.linking import (
    NAME_JACCARD_MIN, NAME_LSH_BUCKET_CAP, TOKEN_DF_CAP,
    acronym_long_key, acronym_short_key, arbitrate_review,
    containment_verified, cosine_udf, low_quality_pair,
    name_jaccard_3gram, name_lsh_band_entries, tau_expr_for,
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
        .withColumn("acr_long", acronym_long_key(F.col("name")))
        .withColumn("acr_short", acronym_short_key(F.col("name")))
    )


def name_band_rows(names: DataFrame) -> DataFrame:
    """MinHash band entries over name-index rows — the persistable half of
    the B5 signature work. node_id packs (entity_id, match_key) so the
    bucket join can recover both."""
    nodes = names.select(
        "entity_type",
        F.concat_ws("\x1f", "entity_id", "match_key").alias("node_id"),
        "match_key",
    )
    return name_lsh_band_entries(nodes)


def _name_rows(entities: DataFrame) -> DataFrame:
    """(entity_id, entity_type, name, match_key) — one row per distinct
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


def _cross(
    d: DataFrame, s: DataFrame, on: list[str], reason: str
) -> DataFrame:
    """Join delta-side rows × store-side rows on blocking keys → candidate
    (delta_id, store_id, name_d, name_s, reason)."""
    dd = d.select(
        *on,
        F.col("entity_id").alias("delta_id"),
        F.col("name").alias("name_d"),
    )
    ss = s.select(
        *on,
        F.col("entity_id").alias("store_id"),
        F.col("name").alias("name_s"),
    )
    return dd.join(ss, on).select(
        "delta_id", "store_id", "name_d", "name_s", F.lit(reason).alias("reason")
    )


def _family_exact(d_names: DataFrame, s_names: DataFrame) -> DataFrame:
    """Normalized-key equality. The store side is deduped per entity by
    construction; a key shared by >cap distinct STORE entities is a
    degenerate store state (mass duplicates) — capped with the same
    broadcast anti-join as every other bucket cap, never a window."""
    s_capped = capped_bucket_entries(
        s_names, ["entity_type", "match_key"], NAME_LSH_BUCKET_CAP, reuse=False
    )
    return _cross(d_names, s_capped, ["entity_type", "match_key"], "exact_key")


def _family_equivalence(
    d_names: DataFrame, s_names: DataFrame, cfg: DomainConfig
) -> DataFrame:
    spark = d_names.sparkSession
    rows = []
    for etype, groups in cfg.equivalence_groups.items():
        for gid, group in enumerate(groups):
            for member in group:
                rows.append((etype, normalize_for_match(member), f"{etype}:{gid}"))
    if not rows:
        return local_frame(
            spark,
            [],
            "delta_id string, store_id string, name_d string, name_s string,"
            " reason string",
        )
    groups_df = F.broadcast(
        local_frame(
            spark, rows, "entity_type string, match_key string, group_id string"
        )
    )
    d_tag = d_names.join(groups_df, ["entity_type", "match_key"]).select(
        "entity_type", "group_id", "entity_id", "name"
    )
    s_tag = s_names.join(groups_df, ["entity_type", "match_key"]).select(
        "entity_type", "group_id", "entity_id", "name"
    )
    return _cross(d_tag, s_tag, ["entity_type", "group_id"], "equivalence")


def _family_acronym(d_names: DataFrame, s_names: DataFrame) -> DataFrame:
    """Long form on one side ⇄ short form on the OTHER (B3 mirror; people
    never acronym-match). Long×long must never pair: two different
    entities whose names derive the same acronym ('National Security
    Agency' / 'National Shipping Association') are not acronym matches —
    the batch `_pairs_acronym` only ever joins longs to shorts, and so
    does this. Key derivation is the SHARED linking.py UDF pair; index
    rows that already carry acr_long/acr_short (the persisted store
    index) skip the UDF."""

    def _keyed(names: DataFrame, col: str, udf) -> DataFrame:
        keyed = (
            names.withColumn("acr_key", F.col(col))
            if col in names.columns
            else names.withColumn("acr_key", udf(F.col("name")))
        )
        return (
            keyed.filter(F.col("entity_type") != "people")
            .filter(F.col("acr_key") != "")
            .select("entity_type", "acr_key", "entity_id", "name")
        )

    def _longs(names: DataFrame) -> DataFrame:
        return _keyed(names, "acr_long", acronym_long_key)

    def _shorts(names: DataFrame) -> DataFrame:
        return _keyed(names, "acr_short", acronym_short_key)

    return (
        _cross(_longs(d_names), _shorts(s_names),
               ["entity_type", "acr_key"], "acronym")
        .unionByName(
            _cross(_shorts(d_names), _longs(s_names),
                   ["entity_type", "acr_key"], "acronym")
        )
        .dropDuplicates(["delta_id", "store_id", "name_d", "name_s"])
    )


def _family_containment(d_names: DataFrame, s_names: DataFrame) -> DataFrame:
    """Shared-significant-token blocking across sides + word-boundary
    containment verify (B4 mirror). The df-cap is computed on the STORE
    side — that is the side whose hot tokens ("national", "department")
    would fan one delta name into millions of store candidates."""

    def _tokens(names: DataFrame) -> DataFrame:
        return names.filter(F.col("entity_type") != "people").select(
            "entity_type",
            "entity_id",
            "name",
            F.explode(F.split(F.col("match_key"), " ")).alias("token"),
        ).filter(
            (F.length("token") >= 4) & ~F.col("token").isin(*ACRONYM_STOPWORDS)
        )

    d_tok, s_tok = _tokens(d_names), _tokens(s_names)
    hot = (
        s_tok.groupBy("entity_type", "token")
        .agg(F.countDistinct("entity_id").alias("df"))
        .filter(F.col("df") > TOKEN_DF_CAP)
        .select("entity_type", "token")
    )
    cand = _cross(
        d_tok.join(F.broadcast(hot), ["entity_type", "token"], "left_anti"),
        s_tok.join(F.broadcast(hot), ["entity_type", "token"], "left_anti"),
        ["entity_type", "token"],
        "containment",
    ).dropDuplicates(["delta_id", "store_id", "name_d", "name_s"])

    return cand.filter(containment_verified(F.col("name_d"), F.col("name_s")))


def _family_lsh(
    d_names: DataFrame,
    s_names: DataFrame,
    cfg: DomainConfig,
    s_bands: DataFrame | None = None,
) -> DataFrame:
    """MinHash name-LSH across sides (B5 mirror): band entries per side,
    per-side bucket caps (broadcast anti-join — a boilerplate store name
    never funnels a bucket into one task), equi-join on (type, band, bh).
    Pass `s_bands` (the persisted `name_band_rows` store index) to skip
    the store-side signature pass entirely."""

    def _capped(ent: DataFrame) -> DataFrame:
        return capped_bucket_entries(
            ent, ["entity_type", "band", "bh"], NAME_LSH_BUCKET_CAP
        )

    d_e = _capped(name_band_rows(d_names)).select(
        "entity_type", "band", "bh", F.col("node_id").alias("d_node")
    )
    s_ent = s_bands if s_bands is not None else name_band_rows(s_names)
    s_e = _capped(s_ent).select(
        "entity_type", "band", "bh", F.col("node_id").alias("s_node")
    )
    pairs = (
        d_e.join(s_e, ["entity_type", "band", "bh"])
        .select(
            F.split_part(F.col("d_node"), F.lit("\x1f"), F.lit(1)).alias("delta_id"),
            F.split_part(F.col("d_node"), F.lit("\x1f"), F.lit(2)).alias("mk_d"),
            F.split_part(F.col("s_node"), F.lit("\x1f"), F.lit(1)).alias("store_id"),
            F.split_part(F.col("s_node"), F.lit("\x1f"), F.lit(2)).alias("mk_s"),
        )
        .dropDuplicates(["delta_id", "store_id", "mk_d", "mk_s"])
    )
    # re-attach display names (tiny dimension joins on the name rows)
    pairs = (
        pairs.join(
            d_names.select(
                F.col("entity_id").alias("delta_id"),
                F.col("match_key").alias("mk_d"),
                F.col("name").alias("name_d"),
            ),
            ["delta_id", "mk_d"],
        )
        .join(
            s_names.select(
                F.col("entity_id").alias("store_id"),
                F.col("match_key").alias("mk_s"),
                F.col("name").alias("name_s"),
            ),
            ["store_id", "mk_s"],
        )
        .select(
            "delta_id", "store_id", "name_d", "name_s",
            F.lit("name_lsh").alias("reason"),
        )
    )
    return pairs


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
    """
    from hinbox_spark.functions.skew import bounded_topk

    d_names = _name_rows(delta).localCheckpoint(eager=False)
    s_names = (
        store_names if store_names is not None else _name_rows(store)
    ).localCheckpoint(eager=False)

    det = (
        _family_exact(d_names, s_names)
        .unionByName(_family_equivalence(d_names, s_names, cfg))
        .unionByName(_family_acronym(d_names, s_names))
        .unionByName(_family_containment(d_names, s_names))
    )
    lsh = _family_lsh(d_names, s_names, cfg, s_bands=store_bands).join(
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

    # ── scoring (J6-J9 semantics over store metadata) ──
    d_meta = delta.select(
        F.col("entity_id").alias("delta_id"),
        "entity_type",
        F.col("canonical_name").alias("canon_d"),
        F.col("canonical_start_date").alias("date_d"),
        F.col("search_embedding").alias("vec_d"),
    )
    s_meta = store.select(
        F.col("entity_id").alias("store_id"),
        F.col("canonical_name").alias("canon_s"),
        F.col("canonical_start_date").alias("date_s"),
        F.col("search_embedding").alias("vec_s"),
    )
    enriched = cand.join(d_meta, "delta_id").join(s_meta, "store_id")

    # shared linking.py UDFs — identical match semantics batch vs store
    scored = (
        enriched.withColumn("sim", cosine_udf(F.col("vec_d"), F.col("vec_s")))
        .withColumn("tau", tau_expr_for(cfg))
        .withColumn(
            "guard_lq", low_quality_pair(F.col("name_d"), F.col("name_s"))
        )
        .withColumn(
            "name_jac", name_jaccard_3gram(F.col("name_d"), F.col("name_s"))
        )
        .localCheckpoint(eager=False)
    )

    deterministic = F.col("reason_rank") < _REASON_RANK["name_lsh"]
    in_gray = F.abs(F.col("sim") - F.col("tau")) <= cfg.gray_band_width
    names_close = F.col("name_jac") >= NAME_JACCARD_MIN
    confident = F.col("name_jac") >= F.lit(cfg.gray_band_confidence_cutoff)
    # events hard rule: dated events only merge when dates agree
    dates_ok = (
        (F.col("entity_type") != "events")
        | (F.col("date_d") == F.col("date_s"))
        | (F.col("date_d") == "")
        | (F.col("date_s") == "")
    )

    accepted = scored.filter(
        ~F.col("guard_lq")
        & dates_ok
        & (
            deterministic
            | (names_close & (F.col("sim") >= F.col("tau")) & (~in_gray | confident))
        )
    )

    review = scored.filter(
        ~deterministic & in_gray & ~confident & names_close & dates_ok
        & ~F.col("guard_lq")
    ).select(
        F.col("delta_id").alias("src"),
        F.col("store_id").alias("dst"),
        "entity_type",
        F.col("name_d").alias("name_src"),
        F.col("name_s").alias("name_dst"),
        "sim",
        "tau",
        F.col("name_jac").alias("confidence"),
        F.lit("defer").alias("decision"),
    )
    # second-stage arbitration (same pass as the batch pipeline): merges
    # join the accepted set, skips are final, defers stay queued
    review = arbitrate_review(review).localCheckpoint()
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
