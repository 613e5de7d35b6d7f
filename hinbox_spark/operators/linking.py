"""Stage 3: mention nodes → verified same-entity candidate pairs.

Re-expresses the reference's sequential lexical-blocking + cosine + LLM
match-check loop (/root/reference/src/engine/mergers.py:276-521, 808-951) as
set-oriented blocking JOINS over *distinct mention keys* — the candidate
space is distinct names, not mentions, so pair generation cost scales with
vocabulary, not corpus:

  B1 exact normalized-key equi-join  (identity — handled by keying)
  B2 equivalence-group broadcast join (config synonyms, J5/SC11)
  B3 acronym equi-join: long-form emits compute_acronym(name), short form
     emits its cleaned letters; equal key = verified acronym_matches (SC4/SC5)
  B4 token-blocking join + word-boundary containment verify (SC6), with a
     document-frequency cap on blocking tokens so hot tokens can't quadratic
     (the skew story: a "guantanamo" token would otherwise be a mega-key)
  B5 evidence-embedding cosine over blocked pairs + per-type threshold (J6),
     gray-band routing to a review queue (J9)

Guards (J7, people-conservatism from name_variants.py:249-257) are edge
filters BEFORE connected components — one bad edge would glue two clusters,
so precision here is what holds P≥0.95.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, FloatType, StringType,
)

from hinbox_spark.config import DomainConfig
from hinbox_spark.functions.embeddings import cosine, embed_text
from hinbox_spark.functions.names import (
    ACRONYM_STOPWORDS, compute_acronym, is_acronym_form, is_low_quality_name,
    is_name_contained, normalize_for_match,
)
from hinbox_spark.session import local_frame

# blocking tokens appearing in more than this many distinct names are
# dropped (non-discriminative; prevents quadratic hot buckets at scale)
TOKEN_DF_CAP = 1000

# deterministic per-node evidence sample size (hot-entity skew guard)
EVIDENCE_MENTIONS_PER_NODE = 8

# minimum char-3-gram name Jaccard for a cosine-path merge (the string
# feature of the deterministic match-check, J8)
NAME_JACCARD_MIN = 0.5

# cap on a name-LSH band bucket before pairing (mirrors dedup.BUCKET_CAP):
# a degenerate name distribution (boilerplate titles) would otherwise go
# quadratic inside one bucket; dropped buckets are countable via stats_out
NAME_LSH_BUCKET_CAP = 200


# ── shared match-semantics UDFs ──
# Module-level so the batch families here and the bipartite store-link
# families (operators/store_link.py) use the IDENTICAL functions — a
# tuning change can never silently diverge batch vs incremental matching.

@F.pandas_udf(StringType())
def acronym_long_key(s: pd.Series) -> pd.Series:
    """Derived acronym of a long-form name ('' when the name IS one)."""
    return s.map(
        lambda n: (compute_acronym(n) or "") if not is_acronym_form(n) else ""
    )


@F.pandas_udf(StringType())
def acronym_short_key(s: pd.Series) -> pd.Series:
    """Cleaned letters of an acronym-form name ('' otherwise)."""
    return s.map(
        lambda n: n.replace(".", "").replace(" ", "").strip().upper()
        if is_acronym_form(n)
        else ""
    )


@F.pandas_udf(BooleanType())
def containment_verified(na: pd.Series, nb: pd.Series) -> pd.Series:
    """Word-boundary containment of the shorter name in the longer, with
    the low-quality-name guard on both sides (SC6 verify)."""
    out = []
    for x, y in zip(na, nb):
        short, long_ = (x, y) if len(str(x)) <= len(str(y)) else (y, x)
        out.append(
            is_name_contained(short, long_)
            and not is_low_quality_name(short)
            and not is_low_quality_name(long_)
        )
    return pd.Series(out, dtype=bool)


@F.pandas_udf(DoubleType())
def cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [cosine(x if x is not None else [], y if y is not None else [])
         for x, y in zip(a, b)],
        dtype="float64",
    )


@F.pandas_udf(BooleanType())
def low_quality_pair(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [is_low_quality_name(x) or is_low_quality_name(y)
         for x, y in zip(a, b)],
        dtype=bool,
    )


@F.pandas_udf(DoubleType())
def name_jaccard_3gram(a: pd.Series, b: pd.Series) -> pd.Series:
    """Char-3-gram Jaccard of the match-normalized names — the string
    feature of the deterministic match-check (J8). Evidence cosine alone
    over-merges entities that appear in similar contexts ('Justice
    Department' vs 'Defense Department'); requiring the NAMES to be
    near-duplicates too is what the reference's LLM check enforced."""
    out = []
    for x, y in zip(a, b):
        gx = {f" {normalize_for_match(x)} "[i: i + 3]
              for i in range(len(normalize_for_match(x)))}
        gy = {f" {normalize_for_match(y)} "[i: i + 3]
              for i in range(len(normalize_for_match(y)))}
        out.append(len(gx & gy) / len(gx | gy) if gx or gy else 0.0)
    return pd.Series(out, dtype="float64")


def tau_expr_for(cfg: DomainConfig):
    """Per-type similarity threshold as a column expression over
    `entity_type` (reference config thresholds, default fallback)."""
    thresholds = cfg.similarity_thresholds
    return F.coalesce(
        *[
            F.when(F.col("entity_type") == k, F.lit(v))
            for k, v in thresholds.items()
            if k != "default"
        ],
        F.lit(thresholds.get("default", 0.75)),
    )


def ensure_match_key(df: DataFrame) -> DataFrame:
    """Use the persisted match_key column when present (stage 2 stamps it);
    fall back to the Python UDF only for ad-hoc inputs (tests). Keeping the
    column persisted means the three linking joins over the full mention
    table are JVM-only."""
    if "match_key" in df.columns:
        return df

    @F.pandas_udf(StringType())
    def _match_key(s: pd.Series) -> pd.Series:
        return s.map(normalize_for_match)

    return df.withColumn("match_key", _match_key(F.col("name")))


def mention_nodes(mentions: DataFrame) -> DataFrame:
    """Distinct linkable keys: one node per (entity_type, match_key, type,
    start_date). node_id is a content hash — stable across runs/partitions."""
    nodes = (
        ensure_match_key(
            mentions.select(
                "entity_type",
                "name",
                F.col("type").alias("type_attr"),
                "start_date",
                *(["match_key"] if "match_key" in mentions.columns else []),
            )
        )
        .groupBy("entity_type", "match_key", "type_attr", "start_date")
        .agg(F.min("name").alias("name"))  # deterministic display pick
        .withColumn(
            # explicit "\x1f" field separator: without one, distinct keys
            # whose concatenations coincide under a boundary shift
            # (match_key "x" + type "yz" vs "xy" + "z") would collapse to
            # one node_id and silently merge in clustering
            "node_id",
            F.sha2(
                F.concat_ws(
                    "\x1f", "entity_type", "match_key", "type_attr", "start_date"
                ),
                256,
            ),
        )
    )
    return nodes


def _pairs_equivalence(nodes: DataFrame, cfg: DomainConfig) -> DataFrame:
    """B2: nodes sharing a config equivalence group (broadcast join)."""
    spark = nodes.sparkSession
    rows = []
    for etype, groups in cfg.equivalence_groups.items():
        for gid, group in enumerate(groups):
            for member in group:
                rows.append((etype, normalize_for_match(member), f"{etype}:{gid}"))
    if not rows:
        return _empty_pairs(spark)
    groups_df = local_frame(
        spark, rows, "entity_type string, match_key string, group_id string"
    )

    tagged = nodes.join(
        F.broadcast(groups_df), ["entity_type", "match_key"], "inner"
    ).select("group_id", "node_id")
    a, b = tagged.alias("a"), tagged.alias("b")
    return (
        a.join(b, (F.col("a.group_id") == F.col("b.group_id"))
               & (F.col("a.node_id") < F.col("b.node_id")))
        .select(
            F.col("a.node_id").alias("src"),
            F.col("b.node_id").alias("dst"),
            F.lit("equivalence").alias("reason"),
        )
    )


def _pairs_acronym(nodes: DataFrame) -> DataFrame:
    """B3: acronym-form node ⇄ long-form node with matching derived acronym.
    Join key equality reproduces acronym_matches (name_variants.py:103-122)
    by construction. People never acronym-match (reference conservatism)."""
    non_people = nodes.filter(F.col("entity_type") != "people")
    longs = (
        non_people.withColumn("acr_key", acronym_long_key(F.col("name")))
        .filter(F.col("acr_key") != "")
        .select("entity_type", "acr_key", F.col("node_id").alias("long_id"))
    )
    shorts = (
        non_people.withColumn("acr_key", acronym_short_key(F.col("name")))
        .filter(F.col("acr_key") != "")
        .select("entity_type", "acr_key", F.col("node_id").alias("short_id"))
    )
    return (
        longs.join(shorts, ["entity_type", "acr_key"])
        .filter(F.col("long_id") != F.col("short_id"))
        .select(
            F.least("long_id", "short_id").alias("src"),
            F.greatest("long_id", "short_id").alias("dst"),
            F.lit("acronym").alias("reason"),
        )
        .dropDuplicates(["src", "dst"])
    )


def _pairs_containment(nodes: DataFrame) -> DataFrame:
    """B4: token-blocking + word-boundary containment verification.

    Each non-people node emits its significant match-tokens as blocking keys;
    a self-join on (entity_type, token) proposes pairs; a vectorized verify
    applies is_name_contained. A df-cap drops hot tokens (skew guard) — at
    100 TB the cap is what keeps the self-join from going quadratic on
    stop-like tokens; dropped tokens are recoverable through the other
    blocking families.
    """
    non_people = nodes.filter(F.col("entity_type") != "people")

    tokens = non_people.select(
        "entity_type",
        "node_id",
        "name",
        F.explode(F.split(F.col("match_key"), " ")).alias("token"),
    ).filter(
        (F.length("token") >= 4) & ~F.col("token").isin(*ACRONYM_STOPWORDS)
    )

    hot = (
        tokens.groupBy("entity_type", "token")
        .agg(F.countDistinct("node_id").alias("df"))
        .filter(F.col("df") > TOKEN_DF_CAP)
        .select("entity_type", "token")
    )
    cold_tokens = tokens.join(hot, ["entity_type", "token"], "left_anti")

    def _self_pair(keyed: DataFrame, key_cols: list[str]) -> DataFrame:
        a, b = keyed.alias("a"), keyed.alias("b")
        cond = F.col("a.node_id") < F.col("b.node_id")
        for c in ["entity_type", *key_cols]:
            cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
        return a.join(b, cond).select(
            F.col("a.node_id").alias("src"),
            F.col("b.node_id").alias("dst"),
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
        )

    cold_cand = _self_pair(cold_tokens, ["token"])

    # hot tokens are NOT dropped: they re-block on (hot token, other token)
    # pairs — a containment pair whose short side has ≥2 significant tokens
    # always shares two tokens, so the refined key still finds it while the
    # bucket shrinks quadratically. (Single-generic-token containment
    # against a mega-key is the one sacrificed case — by design: such
    # merges are low-precision at web scale.)
    hot_tokens = tokens.join(hot, ["entity_type", "token"], "inner")
    hot_bigrams = (
        hot_tokens.alias("h")
        .join(
            tokens.select(
                "entity_type", F.col("node_id"), F.col("token").alias("other")
            ).alias("t"),
            ["entity_type", "node_id"],
        )
        .filter(F.col("other") != F.col("token"))
        .select(
            "entity_type",
            "node_id",
            "name",
            F.concat_ws("\x1f", "token", "other").alias("token"),
        )
    )
    hot_cand = _self_pair(hot_bigrams, ["token"])

    cand = cold_cand.unionByName(hot_cand).dropDuplicates(["src", "dst"])

    return (
        cand.filter(containment_verified(F.col("name_a"), F.col("name_b")))
        .select("src", "dst", F.lit("containment").alias("reason"))
    )


def name_lsh_band_entries(nodes: DataFrame) -> DataFrame:
    """(entity_type, node_id, band, bh) — the B5 MinHash band entries.
    This is the one pandas-UDF signature pass of the blocking family;
    compute it ONCE per run (localCheckpoint it) and share it between
    pairing (`_pairs_minhash_names`) and truncation accounting
    (`name_lsh_truncation_stats_from_entries`) — recomputing it was the
    per-run serial tail that dropped 480k-page scaling efficiency."""
    import numpy as np

    n_hashes, bands = 24, 12  # 2 rows/band → catches ~0.35+ Jaccard names
    rows_per_band = n_hashes // bands

    @F.pandas_udf("array<long>")
    def _sig(names: pd.Series) -> pd.Series:
        from hinbox_spark.operators.dedup import _hash_tokens_u64

        out = []
        for name in names:
            s = " " + str(name or "") + " "
            grams = list({s[i: i + 3] for i in range(len(s) - 2)})
            if not grams:
                out.append([0] * n_hashes)
                continue
            gh = _hash_tokens_u64(grams)
            a = (np.arange(1, n_hashes + 1, dtype=np.uint64) * np.uint64(2)
                 + np.uint64(1)) * np.uint64(0x9E3779B97F4A7C15)
            b = np.arange(n_hashes, dtype=np.uint64) * np.uint64(0xC2B2AE3D27D4EB4F)
            with np.errstate(over="ignore"):
                m = (gh[None, :] * a[:, None] + b[:, None]).min(axis=1)
            out.append(m.astype(np.int64).tolist())
        return pd.Series(out)

    non_people = nodes.filter(F.col("entity_type") != "people")
    sigs = non_people.select("entity_type", "node_id", "match_key").withColumn(
        "sig", _sig(F.col("match_key"))
    )
    return sigs.select(
        "entity_type",
        "node_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"struct(b AS band, hash(slice(sig, b * {rows_per_band} + 1,"
                f" {rows_per_band})) AS bh))"
            )
        ).alias("e"),
    ).select("entity_type", "node_id", "e.band", "e.bh")


def name_lsh_truncation_stats_from_entries(band_entries: DataFrame) -> DataFrame:
    """LAZY truncation counters for the B5 bucket cap: DataFrame
    (stage, n) with name_lsh_dropped_buckets / name_lsh_dropped_entries.
    Union this into a metrics write instead of forcing an eager job —
    truncation is accounted, never silent, at zero extra job cost. Derived
    from a groupBy count (map-side combinable), never a window."""
    over = (
        band_entries.groupBy("entity_type", "band", "bh")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") > NAME_LSH_BUCKET_CAP)
    )
    return (
        over.agg(F.count("*").alias("n"))
        .select(F.lit("name_lsh_dropped_buckets").alias("stage"), "n")
        .unionByName(
            over.agg(F.coalesce(F.sum("bucket_n"), F.lit(0)).alias("n")).select(
                F.lit("name_lsh_dropped_entries").alias("stage"), "n"
            )
        )
    )


def name_lsh_truncation_stats(mentions: DataFrame) -> DataFrame:
    """Convenience wrapper: build nodes and band entries, then count
    truncation. The pipeline passes its shared (checkpointed) band entries
    to `name_lsh_truncation_stats_from_entries` instead so the signature
    pass is not recomputed; this wrapper is the standalone/resume fallback."""
    return name_lsh_truncation_stats_from_entries(
        name_lsh_band_entries(mention_nodes(mentions))
    )


def _pairs_minhash_names(
    nodes: DataFrame,
    stats_out: dict | None = None,
    band_entries: DataFrame | None = None,
) -> DataFrame:
    """B5: MinHash-LSH over character-3-gram shingles of the match key —
    proposes near-duplicate-name pairs (typos, transliteration drift) that
    the exact/acronym/containment families can't see. These pairs carry
    reason='lsh' and are NOT accepted deterministically: they must pass the
    evidence-cosine threshold in score_pairs (J6). People are excluded
    (reference conservatism, name_variants.py:249-257).

    Buckets larger than NAME_LSH_BUCKET_CAP are dropped before pairing
    (the self-join would otherwise go quadratic on a degenerate name
    distribution) via the broadcast anti-join cap (no window — a mega-
    bucket never lands in one task). Pass `stats_out` for eager truncation
    counts (tests); the pipeline uses the lazy
    `name_lsh_truncation_stats_from_entries` instead. Pass `band_entries`
    (ideally localCheckpointed) to reuse a shared signature pass."""
    from hinbox_spark.operators.dedup import capped_bucket_entries

    if band_entries is None:
        band_entries = name_lsh_band_entries(nodes)
        reuse = True
    else:
        reuse = False  # caller already checkpointed the shared entries
    kept = capped_bucket_entries(
        band_entries,
        ["entity_type", "band", "bh"],
        NAME_LSH_BUCKET_CAP,
        stats_out=stats_out,
        reuse=reuse,
    ).localCheckpoint(eager=False)
    # computed once, scanned twice by the self-join (same duplicated-
    # subtree finding as dedup.neighbor_minhash_candidates; A/B'd in the
    # full pipeline at 20k pages: neutral there — kept for the larger-
    # vocabulary case where the duplicated signature pass is real work)

    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.entity_type") == F.col("b.entity_type"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.node_id") < F.col("b.node_id")),
        )
        .select(
            F.col("a.node_id").alias("src"),
            F.col("b.node_id").alias("dst"),
            F.lit("lsh").alias("reason"),
        )
        .dropDuplicates(["src", "dst"])
    )


def node_evidence_embeddings(
    nodes: DataFrame, mentions: DataFrame, articles: DataFrame, cfg: DomainConfig
) -> DataFrame:
    """J1+J2: per-node evidence embedding.

    Evidence text per (mention, article): up to `evidence_max_windows`
    context windows of `evidence_window_chars` around case-insensitive hits
    of the name (reference mergers.py:577-705), truncated to
    `evidence_max_chars`. Node embedding = element-wise mean of its mention
    evidence vectors (deterministic hashed 3-gram encoder).

    Skew guard: hot entities can have millions of mentions; the evidence
    mean converges long before that, so per node we keep a deterministic
    sample of `EVIDENCE_MENTIONS_PER_NODE` mentions (ordered by a content
    hash, not input order — stable across partitionings). This bounds both
    the Python work and the groupBy fan-in.
    """
    win = cfg.evidence_window_chars // 2
    max_w = cfg.evidence_max_windows
    max_c = cfg.evidence_max_chars
    dim = cfg.embedding_dim

    from hinbox_spark.functions.embeddings import build_evidence

    @F.pandas_udf(ArrayType(FloatType()))
    def _evidence_vec(name: pd.Series, text: pd.Series) -> pd.Series:
        return pd.Series(
            [
                embed_text(
                    build_evidence(n, t, win * 2, max_w, max_c), dim
                ).tolist()
                for n, t in zip(name, text)
            ]
        )

    from hinbox_spark.functions.skew import bounded_topk

    # tournament top-k (skew.bounded_topk): a mega-entity's mentions never
    # serialize into one sort task; result identical to the naive
    # row_number window (same total order on the content hash)
    keyed = ensure_match_key(mentions).withColumn(
        "_ord", F.xxhash64("url", "name")
    )
    sampled = bounded_topk(
        keyed,
        keys=["entity_type", "match_key"],
        order_by=[F.col("_ord")],
        k=EVIDENCE_MENTIONS_PER_NODE,
        salt_expr=F.col("_ord"),
    ).drop("_ord")

    mention_vecs = (
        sampled.join(articles.select("url", "text"), "url")
        .withColumn("vec", _evidence_vec(F.col("name"), F.col("text")))
        .select("entity_type", "match_key", "vec")
    )

    # element-wise mean per node: explode positions would shuffle dim×rows;
    # instead aggregate zipped sums JVM-side via F.aggregate on collect_list
    # of small per-key groups — node fan-in is bounded (mentions of one
    # name), so applyInPandas per key stays cheap and shuffle is one round.
    def _mean(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        arr = np.array(pdf["vec"].tolist(), dtype=np.float64).mean(axis=0)
        return pd.DataFrame(
            {
                "entity_type": [key[0]],
                "match_key": [key[1]],
                "vec": [arr.astype("float32").tolist()],
            }
        )

    node_vecs = mention_vecs.groupBy("entity_type", "match_key").applyInPandas(
        _mean, "entity_type string, match_key string, vec array<float>"
    )
    return nodes.join(node_vecs, ["entity_type", "match_key"], "left").select(
        "node_id", "entity_type", "vec"
    )


def candidate_pairs(
    nodes: DataFrame,
    cfg: DomainConfig,
    stats_out: dict | None = None,
    band_entries: DataFrame | None = None,
) -> DataFrame:
    """Union of the blocking families: deterministic (B2-B4, pre-verified)
    first so dropDuplicates keeps the stronger reason, then the MinHash
    proposals (B5, cosine-gated downstream). Pass `band_entries` (a
    checkpointed `name_lsh_band_entries(nodes)`) to share the B5 signature
    pass with truncation accounting instead of recomputing it."""
    from hinbox_spark.functions.skew import bounded_topk

    det = (
        _pairs_equivalence(nodes, cfg)
        .unionByName(_pairs_acronym(nodes))
        .unionByName(_pairs_containment(nodes))
    )
    lsh = _pairs_minhash_names(
        nodes, stats_out=stats_out, band_entries=band_entries
    ).join(
        det.select("src", "dst"), ["src", "dst"], "left_anti"
    )
    # reference parity: at most blocking_max_candidates cosine-path
    # candidates per node (configs/guantanamo/config.yaml:23-26 caps the
    # similarity lookup at 50). Deterministic hash order, bounded-topk so a
    # degenerate name distribution can't fan one node into thousands of
    # scoring rows; the pre-verified deterministic families are never
    # capped (they are identities, not proposals).
    lsh = bounded_topk(
        lsh,
        keys=["src"],
        order_by=[F.xxhash64("src", "dst")],
        k=cfg.blocking_max_candidates,
        salt_expr=F.xxhash64("dst"),
    )
    return det.unionByName(lsh).dropDuplicates(["src", "dst"])


def score_pairs(
    pairs: DataFrame,
    nodes: DataFrame,
    node_vecs: DataFrame,
    cfg: DomainConfig,
) -> tuple[DataFrame, DataFrame]:
    """J6-J9: verify candidate pairs → (accepted_edges, review_queue).

    Deterministic bypass reasons (equivalence/acronym/containment — already
    verified) are accepted outright unless a guard fires. Cosine-scored
    pairs accept at ≥ τ(type); the τ±gray band defers to the review queue
    (reference constants.py:30-33) instead of merging.
    """
    spark = pairs.sparkSession

    n_meta = nodes.select("node_id", "entity_type", "name", "start_date")
    v = node_vecs.select("node_id", "vec")

    enriched = (
        pairs.join(n_meta.withColumnRenamed("node_id", "src")
                   .withColumnRenamed("name", "name_src")
                   .withColumnRenamed("start_date", "date_src"), "src")
        .join(
            n_meta.select(
                F.col("node_id").alias("dst"),
                F.col("name").alias("name_dst"),
                F.col("start_date").alias("date_dst"),
            ),
            "dst",
        )
        .join(v.withColumnRenamed("node_id", "src").withColumnRenamed("vec", "vec_src"), "src", "left")
        .join(v.withColumnRenamed("node_id", "dst").withColumnRenamed("vec", "vec_dst"), "dst", "left")
    )

    scored = (
        enriched.withColumn("sim", cosine_udf(F.col("vec_src"), F.col("vec_dst")))
        .withColumn("tau", tau_expr_for(cfg))
        .withColumn("guard_lq", low_quality_pair(F.col("name_src"), F.col("name_dst")))
        .withColumn("name_jac", name_jaccard_3gram(F.col("name_src"), F.col("name_dst")))
    ).localCheckpoint(eager=False)  # accepted + review both derive from it

    deterministic = F.col("reason").isin("equivalence", "acronym", "containment")
    in_gray = (F.abs(F.col("sim") - F.col("tau")) <= cfg.gray_band_width)
    # deterministic match-check (J8 replacement): cosine-path pairs must
    # ALSO have near-duplicate names
    names_close = F.col("name_jac") >= NAME_JACCARD_MIN
    # reference gray-band gate (constants.py:30-33, mergers.py:907-942):
    # dispute ONLY when in the band AND the match check is uncertain
    # (confidence < 0.7). name_jac is the deterministic confidence proxy —
    # a confident in-band pair is decided by the match check directly.
    confident = F.col("name_jac") >= F.lit(cfg.gray_band_confidence_cutoff)
    # events hard rule: start_date is part of the identity key (reference
    # mergers.py:133-138, match-checker date compatibility) — two dated
    # events only merge when the dates agree (empty date is compatible)
    dates_ok = (
        (F.col("entity_type") != "events")
        | (F.col("date_src") == F.col("date_dst"))
        | (F.col("date_src") == "")
        | (F.col("date_dst") == "")
    )

    accepted = scored.filter(
        ~F.col("guard_lq")
        & dates_ok
        & (
            deterministic
            | (
                names_close
                & (F.col("sim") >= F.col("tau"))
                & (~in_gray | confident)
            )
        )
    ).select("src", "dst", "entity_type", "reason", "sim")

    review = scored.filter(
        ~deterministic & in_gray & ~confident & names_close & dates_ok
        & ~F.col("guard_lq")
    ).select(
        "src", "dst", "entity_type", "name_src", "name_dst", "sim", "tau",
        F.col("name_jac").alias("confidence"),
        F.lit("defer").alias("decision"),
    )
    return accepted, review


# Second-stage arbitration thresholds: word-token Jaccard of the match keys
# (a coarser, more conservative lens than the first pass's char-3-gram
# Jaccard — word overlap is what the reference's dispute prompt reasons
# about under "name variations")
DISPUTE_MERGE_TOKEN_JACCARD = 0.5
DISPUTE_SKIP_TOKEN_JACCARD = 0.2


def arbitrate_review(review: DataFrame) -> DataFrame:
    """Second-stage arbitration of gray-band disputes — the reference's
    merge dispute agent (merge_dispute_agent.py:83-171) re-expressed as a
    deterministic feature pass. Like the reference agent it can OVERRIDE
    the first-pass result in both directions:

      merge  — a structural name relation the cosine pass can't see
               (acronym or word-boundary containment), or above-threshold
               similarity with substantial word overlap
      skip   — below-threshold similarity AND near-zero word overlap
               (the names share essentially nothing)
      defer  — genuinely ambiguous; stays in the human review queue and is
               treated as skip for merging (reference parity: defer never
               merges — tests/test_merge_dispute_agent_routing.py)

    Input = the review rows from score_pairs (already gray-band, low
    first-pass confidence, non-people by construction — B5 excludes
    people). Returns the same rows with `decision` rewritten and an
    `arbiter_confidence` column.
    """

    @F.pandas_udf("tok_jac double, acr boolean, cont boolean")
    def _feats(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        rows = []
        for x, y in zip(a, b):
            ka = set(normalize_for_match(str(x)).split())
            kb = set(normalize_for_match(str(y)).split())
            tok_jac = len(ka & kb) / len(ka | kb) if (ka or kb) else 0.0
            short, long_ = (x, y) if len(str(x)) <= len(str(y)) else (y, x)
            acr = False
            if is_acronym_form(short) and not is_acronym_form(long_):
                letters = str(short).replace(".", "").replace(" ", "").upper()
                acr = (compute_acronym(str(long_)) or "") == letters and letters != ""
            cont = (
                is_name_contained(str(short), str(long_))
                and not is_low_quality_name(str(short))
                and not is_low_quality_name(str(long_))
            )
            rows.append((tok_jac, acr, cont))
        return pd.DataFrame(rows, columns=["tok_jac", "acr", "cont"])

    r = review.withColumn("_f", _feats(F.col("name_src"), F.col("name_dst")))
    structural = F.col("_f.acr") | F.col("_f.cont")
    merge = structural | (
        (F.col("sim") >= F.col("tau"))
        & (F.col("_f.tok_jac") >= DISPUTE_MERGE_TOKEN_JACCARD)
    )
    skip = (
        ~merge
        & (F.col("sim") < F.col("tau"))
        & (F.col("_f.tok_jac") < DISPUTE_SKIP_TOKEN_JACCARD)
    )
    return (
        r.withColumn(
            "decision",
            F.when(merge, F.lit("merge"))
            .when(skip, F.lit("skip"))
            .otherwise(F.lit("defer")),
        )
        .withColumn(
            "arbiter_confidence",
            F.when(structural, F.lit(0.95))
            .when(merge, F.col("_f.tok_jac"))
            .when(skip, 1.0 - F.col("_f.tok_jac"))
            .otherwise(F.col("confidence")),
        )
        .drop("_f")
    )


def _empty_pairs(spark) -> DataFrame:
    return local_frame(spark, [], "src string, dst string, reason string")
