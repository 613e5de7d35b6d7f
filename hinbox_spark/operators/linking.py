"""Stage 3: mention nodes → verified same-entity candidate pairs.

Re-expresses the reference's sequential lexical-blocking + cosine + LLM
match-check loop (/root/reference/src/engine/mergers.py:276-521, 808-951) as
set-oriented blocking over *distinct mention keys* — the candidate space is
distinct names, not mentions, so pair generation cost scales with
vocabulary, not corpus.

Blocking is one pass (the SparkER shape: every profile emits all of its
blocking keys, one grouping by key yields the candidates, block purging caps
hot keys):

  keys    `blocking_keys` — one mapInPandas over the nodes emits every key
          of a node as (entity_type, family, key, role, node_id, name):
            B1 exact normalized key  (identity — handled by keying)
            B2 equivalence-group id  (config synonyms, J5/SC11)
            B3 acronym: the long form's derived acronym (role long) and the
               short form's cleaned letters (role short); equal key =
               verified acronym_matches (SC4/SC5)
            B4 significant match tokens (role token), plus (token, other
               token) bigram keys (role bigram) for hot-token re-keying
            B5 the 12 MinHash bands of the name's char 3-grams
  caps    one count per (entity_type, family, key): a token in more than
          TOKEN_DF_CAP names is replaced by its bigram keys, and a MinHash
          bucket over NAME_LSH_BUCKET_CAP is dropped (counted in the
          name_lsh_dropped_* metrics) — no hot key can go quadratic
  pairs   one self-join on (entity_type, family, key): acronym pairs are
          long × short only, every other family a.node_id < b.node_id;
          containment pairs are verified (word-boundary containment, SC6);
          per (src, dst) the strongest reason wins, equivalence < acronym <
          containment < lsh; lsh proposals are capped per node
          (blocking_max_candidates)

Scoring (B5 evidence-embedding cosine + per-type threshold, J6-J9) is one
Arrow pass per pair computing the cosine, the low-quality guard, the name
3-gram Jaccard and the dispute-arbitration features together; gray-band
pairs route to a review queue and a second-stage arbitration.

Guards (J7, people-conservatism from name_variants.py:249-257) are edge
filters BEFORE connected components — one bad edge would glue two clusters,
so precision here is what holds P≥0.95.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, FloatType, StringType, StructField,
    StructType,
)

from hinbox_spark.config import DomainConfig
from hinbox_spark.functions.embeddings import cosine, embed_text
from hinbox_spark.functions.names import (
    ACRONYM_STOPWORDS, compute_acronym, is_acronym_form, is_low_quality_name,
    is_name_contained, normalize_for_match,
)

# blocking tokens appearing in more than this many distinct names are
# re-keyed by their bigrams (non-discriminative; prevents quadratic hot
# buckets at scale)
TOKEN_DF_CAP = 1000

# deterministic per-node evidence sample size (hot-entity skew guard)
EVIDENCE_MENTIONS_PER_NODE = 8

# minimum char-3-gram name Jaccard for a cosine-path merge (the string
# feature of the deterministic match-check, J8)
NAME_JACCARD_MIN = 0.5

# cap on a name-LSH band bucket before pairing (mirrors dedup.BUCKET_CAP):
# a degenerate name distribution (boilerplate titles) would otherwise go
# quadratic inside one bucket; dropped buckets are counted in the metrics
NAME_LSH_BUCKET_CAP = 200

# blocking families, strongest first: for a pair several families find,
# the lowest-ranked reason is the one it carries
REASONS = ("equivalence", "acronym", "containment", "lsh")
# what `blocking_keys` can emit: the four families' keys, plus the
# containment bigram keys that stand in for hot tokens in batch pairing
KEY_KINDS = ("equivalence", "acronym", "containment", "bigram", "lsh")

KEY_SCHEMA = (
    "entity_type string, family string, key string, role string,"
    " node_id string, name string"
)
_KEY_COLUMNS = [f.split()[0] for f in KEY_SCHEMA.split(",")]
# separator inside a bigram key's two tokens; never inside a match token
_SEP = "\x1f"

# B5 MinHash: 24 hashes in 12 bands of 2 rows → catches ~0.35+ Jaccard names
_N_HASHES, _BANDS = 24, 12  # a band key is 'band:h0:h1' (2 rows)
with np.errstate(over="ignore"):
    _MH_A = (np.arange(1, _N_HASHES + 1, dtype=np.uint64) * np.uint64(2)
             + np.uint64(1)) * np.uint64(0x9E3779B97F4A7C15)
    _MH_B = np.arange(_N_HASHES, dtype=np.uint64) * np.uint64(0xC2B2AE3D27D4EB4F)


# ── shared match semantics ──
# Module-level so the batch blocking and scoring here and the bipartite
# store linking (operators/store_link.py) run the IDENTICAL functions — a
# tuning change can never silently diverge batch vs incremental matching.

def acronym_long(name) -> str:
    """Derived acronym of a long-form name ('' when the name IS one)."""
    return "" if is_acronym_form(name) else (compute_acronym(name) or "")


def acronym_short(name) -> str:
    """Cleaned letters of an acronym-form name ('' otherwise)."""
    if not is_acronym_form(name):
        return ""
    return name.replace(".", "").replace(" ", "").strip().upper()


def _short_long(x, y) -> tuple[str, str]:
    x, y = str(x), str(y)
    return (x, y) if len(x) <= len(y) else (y, x)


def _contained(x, y) -> bool:
    """Word-boundary containment of the shorter name in the longer, with
    the low-quality-name guard on both sides (SC6 verify)."""
    short, long_ = _short_long(x, y)
    return (
        is_name_contained(short, long_)
        and not is_low_quality_name(short)
        and not is_low_quality_name(long_)
    )


def _name_jaccard(x, y) -> float:
    """Char-3-gram Jaccard of the match-normalized names — the string
    feature of the deterministic match-check (J8). Evidence cosine alone
    over-merges entities that appear in similar contexts ('Justice
    Department' vs 'Defense Department'); requiring the NAMES to be
    near-duplicates too is what the reference's LLM check enforced."""

    def grams(n) -> set[str]:
        m = normalize_for_match(n)
        return {f" {m} "[i: i + 3] for i in range(len(m))}

    gx, gy = grams(x), grams(y)
    return len(gx & gy) / len(gx | gy) if gx or gy else 0.0


def _token_jaccard(x, y) -> float:
    ka = set(normalize_for_match(str(x)).split())
    kb = set(normalize_for_match(str(y)).split())
    return len(ka & kb) / len(ka | kb) if (ka or kb) else 0.0


def _acronym_pair(x, y) -> bool:
    """The shorter name is an acronym form of the longer one."""
    short, long_ = _short_long(x, y)
    if not is_acronym_form(short) or is_acronym_form(long_):
        return False
    letters = short.replace(".", "").replace(" ", "").upper()
    return letters != "" and (compute_acronym(long_) or "") == letters


@F.pandas_udf(BooleanType())
def containment_verified(
    check: pd.Series, na: pd.Series, nb: pd.Series
) -> pd.Series:
    """The containment verify of the rows where `check` holds; True on the
    others."""
    return pd.Series(
        [not c or _contained(x, y) for c, x, y in zip(check, na, nb)], dtype=bool
    )


@F.pandas_udf(StructType([
    StructField("sim", DoubleType()),
    StructField("guard_lq", BooleanType()),
    StructField("name_jac", DoubleType()),
    StructField("tok_jac", DoubleType()),
    StructField("acr", BooleanType()),
    StructField("cont", BooleanType()),
]))
def pair_scores(
    na: pd.Series, nb: pd.Series, va: pd.Series, vb: pd.Series
) -> pd.DataFrame:
    """Every per-pair feature of the match check in one Arrow pass: the
    evidence cosine (J6), the low-quality guard (J7), the name 3-gram
    Jaccard (J8) and the arbitration features (word-token Jaccard, acronym
    and containment relations)."""
    rows = [
        (
            cosine(a if a is not None else [], b if b is not None else []),
            is_low_quality_name(x) or is_low_quality_name(y),
            _name_jaccard(x, y),
            _token_jaccard(x, y),
            _acronym_pair(x, y),
            _contained(x, y),
        )
        for x, y, a, b in zip(na, nb, va, vb)
    ]
    return pd.DataFrame(
        rows, columns=["sim", "guard_lq", "name_jac", "tok_jac", "acr", "cont"]
    ).astype({"sim": "float64", "name_jac": "float64", "tok_jac": "float64",
              "guard_lq": bool, "acr": bool, "cont": bool})


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


def _minhash_bands(match_key) -> list[str]:
    """The 12 band keys 'band:h0:h1' of a match key's char-3-gram MinHash
    signature (the two hashes of a band are folded into one int by
    `blocking_keys`)."""
    from hinbox_spark.operators.dedup import _hash_tokens_u64

    s = " " + str(match_key or "") + " "
    grams = list({s[i: i + 3] for i in range(len(s) - 2)})
    if grams:
        gh = _hash_tokens_u64(grams)
        with np.errstate(over="ignore"):
            sig = (gh[None, :] * _MH_A[:, None] + _MH_B[:, None]).min(axis=1)
        sig = sig.astype(np.int64).tolist()
    else:
        sig = [0] * _N_HASHES
    return [f"{b}:{sig[2 * b]}:{sig[2 * b + 1]}" for b in range(_BANDS)]


def blocking_keys(
    nodes: DataFrame, cfg: DomainConfig, kinds: tuple[str, ...] = KEY_KINDS
) -> DataFrame:
    """The blocking keys of every node, in one Python pass over
    (entity_type, node_id, name, match_key) rows → KEY_SCHEMA rows, of
    the `kinds` the caller pairs on (default: all of them):

      equivalence  the node's config equivalence-group ids
      acronym      role long: the derived acronym of a long-form name;
                   role short: the letters of an acronym-form name
      containment  role token: significant match tokens (≥4 chars, not a
                   stopword)
      bigram       family containment, role bigram: 'token\\x1fother' for
                   every ordered pair of them, used only when token is hot
      lsh          'band:bh' for the 12 MinHash bands, bh being Spark's
                   hash() of the band's two minhashes (the store's
                   persisted band entries use the same value)

    People only get equivalence keys (reference conservatism,
    name_variants.py:249-257). Compute it once per run and share it
    (localCheckpoint): pairing reads it and the metrics stage counts its
    MinHash buckets."""
    groups: dict[tuple[str, str], set[str]] = {}
    for etype, group_list in cfg.equivalence_groups.items():
        for gid, group in enumerate(group_list):
            for member in group:
                groups.setdefault(
                    (etype, normalize_for_match(member)), set()
                ).add(f"{etype}:{gid}")

    kinds = frozenset(kinds)

    def emit(batches):
        for pdf in batches:
            out = []
            for et, nid, name, mk in zip(
                pdf["entity_type"], pdf["node_id"], pdf["name"], pdf["match_key"]
            ):
                if "equivalence" in kinds:
                    out += [(et, "equivalence", g, "", nid, name)
                            for g in sorted(groups.get((et, mk), ()))]
                if et == "people":
                    continue
                if "acronym" in kinds:
                    for role, key in (("long", acronym_long(name)),
                                      ("short", acronym_short(name))):
                        if key:
                            out.append((et, "acronym", key, role, nid, name))
                toks = sorted({
                    t for t in str(mk or "").split(" ")
                    if len(t) >= 4 and t not in ACRONYM_STOPWORDS
                })
                if "containment" in kinds:
                    out += [(et, "containment", t, "token", nid, name)
                            for t in toks]
                if "bigram" in kinds:
                    out += [(et, "containment", f"{t}{_SEP}{o}", "bigram", nid,
                             name) for t in toks for o in toks if o != t]
                if "lsh" in kinds:
                    out += [(et, "lsh", k, "", nid, name)
                            for k in _minhash_bands(mk)]
            yield pd.DataFrame(out, columns=_KEY_COLUMNS)

    keys = nodes.select("entity_type", "node_id", "name", "match_key").mapInPandas(
        emit, KEY_SCHEMA
    )
    band = F.split("key", ":")
    bh = F.hash(F.array(band[1].cast("bigint"), band[2].cast("bigint")))
    return keys.withColumn(
        "key",
        F.when(
            F.col("family") == "lsh", F.concat_ws(":", band[0], bh.cast("string"))
        ).otherwise(F.col("key")),
    )


def name_lsh_band_entries(keys: DataFrame) -> DataFrame:
    """(entity_type, node_id, band, bh) — the B5 MinHash band entries among
    the `blocking_keys` rows. node_id, band and bh are never null; the
    coalesces only declare it, as the store's persisted band table does."""
    band = F.split("key", ":")
    return keys.filter(F.col("family") == "lsh").select(
        "entity_type",
        F.coalesce("node_id", F.lit("")).alias("node_id"),
        F.coalesce(band[0].cast("int"), F.lit(0)).alias("band"),
        F.coalesce(band[1].cast("int"), F.lit(0)).alias("bh"),
    )


def name_lsh_truncation_stats_from_entries(band_entries: DataFrame) -> DataFrame:
    """LAZY truncation counters for the B5 bucket cap: DataFrame
    (stage, n) with name_lsh_dropped_buckets / name_lsh_dropped_entries.
    Union this into a metrics write instead of forcing an eager job —
    truncation is accounted, never silent, at zero extra job cost. The
    buckets are the ones `candidate_pairs` drops: the same count per
    (entity_type, band, bh) against the same cap, from a groupBy count
    (map-side combinable), never a window."""
    over = (
        band_entries.groupBy("entity_type", "band", "bh")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") > NAME_LSH_BUCKET_CAP)
    )
    return over.agg(
        F.count("*").alias("buckets"),
        F.coalesce(F.sum("bucket_n"), F.lit(0)).alias("entries"),
    ).select(F.inline(F.array(
        F.struct(F.lit("name_lsh_dropped_buckets").alias("stage"),
                 F.col("buckets").alias("n")),
        F.struct(F.lit("name_lsh_dropped_entries").alias("stage"),
                 F.col("entries").alias("n")),
    )))


def name_lsh_truncation_stats(mentions: DataFrame, cfg: DomainConfig) -> DataFrame:
    """Convenience wrapper: build nodes and keys, then count truncation.
    The pipeline passes its shared (checkpointed) keys' band entries to
    `name_lsh_truncation_stats_from_entries` instead, so the key pass is
    not recomputed; this wrapper is the standalone/resume fallback."""
    return name_lsh_truncation_stats_from_entries(
        name_lsh_band_entries(blocking_keys(mention_nodes(mentions), cfg, ("lsh",)))
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


def _reason_rank(reason: Column) -> Column:
    rank = F.lit(len(REASONS) - 1)
    for k, r in reversed(list(enumerate(REASONS[:-1]))):
        rank = F.when(reason == r, F.lit(k)).otherwise(rank)
    return rank


def _rank_reason(rank: Column) -> Column:
    reason = F.lit(REASONS[-1])
    for k, r in reversed(list(enumerate(REASONS[:-1]))):
        reason = F.when(rank == k, F.lit(r)).otherwise(reason)
    return reason


def candidate_pairs(
    nodes: DataFrame, cfg: DomainConfig, keys: DataFrame | None = None
) -> DataFrame:
    """(src, dst, reason) candidate pairs of the nodes, src < dst, one row
    per pair. Pass `keys` (a checkpointed `blocking_keys(nodes, cfg)`) to
    share the key pass with the truncation accounting.

    Key caps: one map-side-combinable count per (entity_type, family, key)
    (`dedup.over_cap_keys`); the over-cap keys are broadcast back as a
    left_anti join, so a mega-key is dropped in place, never lands in one
    task. Containment tokens over TOKEN_DF_CAP are re-keyed: the node's (hot
    token, other token) bigram keys stand in for them — a containment pair
    whose short side has ≥2 significant tokens always shares two tokens, so
    the refined key still finds it while the bucket shrinks quadratically
    (single-generic-token containment against a mega-key is the one
    sacrificed case — by design: such merges are low-precision at web
    scale); bigram keys themselves obey the same cap. MinHash buckets over
    NAME_LSH_BUCKET_CAP are dropped.

    Pairs: one self-join on (entity_type, family, key); acronym keys pair a
    long form only with a short form (two long forms deriving the same
    acronym are different entities), so the role is part of the join key.
    Containment pairs must pass the word-boundary verify; the other
    deterministic families are verified by construction. LSH pairs
    (reason 'lsh') are proposals the evidence cosine must confirm in
    `score_pairs`; reference parity caps them at blocking_max_candidates
    per node (configs/guantanamo/config.yaml:23-26 caps the similarity
    lookup at 50), in deterministic hash order via a bounded top-k so a
    degenerate name distribution can't fan one node into thousands of
    scoring rows. The deterministic families are never capped (they are
    identities, not proposals)."""
    from hinbox_spark.functions.skew import bounded_topk
    from hinbox_spark.operators.dedup import over_cap_keys

    if keys is None:
        keys = blocking_keys(nodes, cfg)
    family, role = F.col("family"), F.col("role")
    key = ["entity_type", "family", "key"]
    hot = F.broadcast(over_cap_keys(
        keys.filter(family.isin("containment", "lsh")),
        key,
        F.when(family == "lsh", NAME_LSH_BUCKET_CAP).otherwise(TOKEN_DF_CAP),
    ).select(*(F.col(c).alias(f"_hot_{c}") for c in key)))

    def is_hot(k: Column) -> Column:
        return ((F.col("entity_type") == F.col("_hot_entity_type"))
                & (family == F.col("_hot_family")) & (k == F.col("_hot_key")))

    # drop the over-cap keys; keep a bigram key only when its first token
    # is over the cap
    kept = (
        keys.join(hot, is_hot(F.col("key")), "left_anti")
        .join(hot, is_hot(F.when(role == "bigram",
                                 F.substring_index("key", _SEP, 1))), "left")
        .filter((role != "bigram") | F.col("_hot_key").isNotNull())
        .select(*_KEY_COLUMNS)
    )

    a = kept.select(*key, "role", F.col("node_id").alias("a_id"),
                    F.col("name").alias("a_name"))
    # a short form pairs with a long one; a long form is never the b side
    b = kept.select(
        *key,
        F.when(role == "short", F.lit("long")).when(role != "long", role).alias("role"),
        F.col("node_id").alias("b_id"),
        F.col("name").alias("b_name"),
    )
    pairs = (
        a.join(b, [*key, "role"])
        .filter((family == "acronym") | (F.col("a_id") < F.col("b_id")))
        .filter(containment_verified(
            family == "containment", F.col("a_name"), F.col("b_name")
        ))
        .select(
            F.least("a_id", "b_id").alias("src"),
            F.greatest("a_id", "b_id").alias("dst"),
            F.col("family").alias("reason"),
        )
    )
    best = (
        pairs.groupBy("src", "dst")
        .agg(F.min(_reason_rank(F.col("reason"))).alias("rank"))
        .select("src", "dst", _rank_reason(F.col("rank")).alias("reason"))
    )
    lsh = bounded_topk(
        best.filter(F.col("reason") == "lsh"),
        keys=["src"],
        order_by=[F.xxhash64("src", "dst")],
        k=cfg.blocking_max_candidates,
        salt_expr=F.xxhash64("dst"),
    )
    return best.filter(F.col("reason") != "lsh").unionByName(lsh)


def match_scores(
    enriched: DataFrame,
    cfg: DomainConfig,
    deterministic: Column,
    a: str,
    b: str,
) -> DataFrame:
    """J6-J9 match check of candidate pairs, eagerly checkpointed: adds
    tau, the `pair_scores` features and the `accept` / `defer` verdicts.
    `enriched` carries entity_type and name_/date_/vec_ columns suffixed
    `a` and `b`; `deterministic` marks pre-verified pairs.

    Deterministic reasons are accepted outright unless a guard fires.
    Cosine-scored pairs accept at ≥ τ(type) with near-duplicate names; the
    τ±gray band defers to the review queue (reference constants.py:30-33)
    instead of merging."""
    scored = (
        enriched.withColumn("tau", tau_expr_for(cfg))
        .withColumn(
            "_s",
            pair_scores(F.col(f"name_{a}"), F.col(f"name_{b}"),
                        F.col(f"vec_{a}"), F.col(f"vec_{b}")),
        )
        .select("*", "_s.*")
        .drop("_s")
    )
    in_gray = F.abs(F.col("sim") - F.col("tau")) <= cfg.gray_band_width
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
    da, db = F.col(f"date_{a}"), F.col(f"date_{b}")
    dates_ok = (F.col("entity_type") != "events") | (da == db) | (da == "") | (db == "")
    guard = F.col("guard_lq")
    return (
        scored.withColumn(
            "accept",
            ~guard & dates_ok & (
                deterministic
                | (names_close & (F.col("sim") >= F.col("tau")) & (~in_gray | confident))
            ),
        )
        .withColumn(
            "defer",
            ~deterministic & in_gray & ~confident & names_close & dates_ok & ~guard,
        )
        .localCheckpoint()  # accepted and review both derive from it
    )


def score_pairs(
    pairs: DataFrame,
    nodes: DataFrame,
    node_vecs: DataFrame,
    cfg: DomainConfig,
) -> tuple[DataFrame, DataFrame]:
    """J6-J9: verify candidate pairs → (accepted_edges, review_queue).
    Each side of a pair is joined once to its node's (name, start_date,
    vec); `match_scores` decides. The review rows carry the arbitration
    features (tok_jac, acr, cont) that `arbitrate_review` consumes."""
    side = nodes.select("node_id", "entity_type", "name", "start_date").join(
        node_vecs.select("node_id", "vec"), "node_id", "left"
    )

    def _side(tag: str) -> DataFrame:
        return side.select(
            F.col("node_id").alias(tag),
            *(["entity_type"] if tag == "src" else []),
            F.col("name").alias(f"name_{tag}"),
            F.col("start_date").alias(f"date_{tag}"),
            F.col("vec").alias(f"vec_{tag}"),
        )

    scored = match_scores(
        pairs.join(_side("src"), "src").join(_side("dst"), "dst"),
        cfg,
        F.col("reason").isin(*REASONS[:-1]),
        "src",
        "dst",
    )
    accepted = scored.filter("accept").select(
        "src", "dst", "entity_type", "reason", "sim"
    )
    review = scored.filter("defer").select(
        "src", "dst", "entity_type", "name_src", "name_dst", "sim", "tau",
        F.col("name_jac").alias("confidence"),
        F.lit("defer").alias("decision"),
        "tok_jac", "acr", "cont",
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

    Input = the review rows from the match check (already gray-band, low
    first-pass confidence, non-people by construction — B5 excludes
    people), carrying the arbitration features (tok_jac, acr, cont)
    `pair_scores` computed. Returns the same rows with `decision`
    rewritten, an `arbiter_confidence` column and the features dropped.
    """
    structural = F.col("acr") | F.col("cont")
    merge = structural | (
        (F.col("sim") >= F.col("tau"))
        & (F.col("tok_jac") >= DISPUTE_MERGE_TOKEN_JACCARD)
    )
    skip = (
        ~merge
        & (F.col("sim") < F.col("tau"))
        & (F.col("tok_jac") < DISPUTE_SKIP_TOKEN_JACCARD)
    )
    return (
        review.withColumn(
            "decision",
            F.when(merge, F.lit("merge"))
            .when(skip, F.lit("skip"))
            .otherwise(F.lit("defer")),
        )
        .withColumn(
            "arbiter_confidence",
            F.when(structural, F.lit(0.95))
            .when(merge, F.col("tok_jac"))
            .when(skip, 1.0 - F.col("tok_jac"))
            .otherwise(F.col("confidence")),
        )
        .drop("tok_jac", "acr", "cont")
    )
