"""Stage 6: per-entity versioned profiles with citation grounding.

The reference generates profiles with an LLM + reflection loop
(/root/reference/src/engine/profiles.py:105-494) and verifies citation
grounding with per-claim LLM calls (src/utils/quality_controls.py:512-750).
The deterministic rebuild assembles the profile from structured facts in one
applyInPandas pass per cluster — the whole fold the reference does
article-by-article becomes a single grouped aggregation (SURVEY §2 P1-P3):

- profile.text: templated sections, every factual line cited `^[url]`;
- profile.tags: entity category + activity tags; confidence = deterministic
  function of evidence count (clamped to [0,1], P4);
- profile_versions: one snapshot per contributing article, ordered by
  warc_ts (append-only numbering per profiles.py:39-83);
- grounding: `^[url]` citations are regex-extracted and verified by a join
  back to the pages table — a missing url = missing_source; score =
  verified/total (quality_controls.py:544-750).
"""

from __future__ import annotations

import re

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from hinbox_spark.config import (
    PROFILE_QC_MIN_TAG_COUNT, PROFILE_QC_MIN_TEXT_LENGTH,
)

CITATION_RE = re.compile(r"\^\[([^\]\s]+)\]")

PROFILE_SCHEMA = (
    "entity_id string, entity_type string, canonical_name string, "
    "profile_text string, profile_tags array<string>, "
    "profile_confidence double, profile_sources array<string>, "
    "current_version int, "
    "versions array<struct<version_number:int, text:string, "
    "trigger_url:string, created_at:timestamp>>, "
    "qc_flags array<string>, name_variants array<string>"
)


# deterministic cap on articles folded into one profile — a mega-entity
# (millions of mentioning pages) must not produce an unbounded profile row;
# total coverage is still reported via entities.n_articles and edge triples
PROFILE_ARTICLES_CAP = 20


def profile_fact_rows(mention_clusters: DataFrame) -> DataFrame:
    """The pre-reduced per-(cluster, url) fact rows the profile fold
    consumes: (cluster_id, url, warc_ts, description, start_date). This is
    also what the incremental pipeline persists per entity across runs —
    the minimal state from which a profile can be deterministically
    re-assembled after a merge (the batch fold re-derives it from the full
    mention set each run; the store keeps only these reduced rows)."""
    return mention_clusters.groupBy("cluster_id", "url").agg(
        F.min("warc_ts").alias("warc_ts"),
        F.max("description").alias("description"),
        F.max("start_date").alias("start_date"),
    )


def assemble_profiles(rows: DataFrame) -> DataFrame:
    """The profile fold: rows = capped fact rows joined with the entity
    metadata columns (entity_id, entity_type, canonical_name,
    canonical_type, aliases, all_names, n_articles), grouped per
    cluster_id. Shared verbatim by the batch path (`build_profiles`) and
    the incremental rebuild — byte-identical profiles given the same rows."""
    return rows.groupBy("cluster_id").applyInPandas(_assemble, PROFILE_SCHEMA)


def build_profiles(mention_clusters: DataFrame, entities: DataFrame) -> DataFrame:
    """Grouped profile assembly: one applyInPandas over cluster_id.

    Input is pre-reduced to one row per (cluster, url), earliest
    PROFILE_ARTICLES_CAP articles per cluster — so group sizes are bounded
    regardless of entity popularity."""
    from hinbox_spark.functions.skew import bounded_topk

    ent = entities.select(
        "cluster_id", "entity_id", "entity_type", "canonical_name",
        "canonical_type", "aliases", "all_names", "n_articles",
    )
    # tournament top-k (skew.bounded_topk): identical rows to the naive
    # row_number window, but a mega-entity's articles never serialize into
    # one sort task
    rows = bounded_topk(
        profile_fact_rows(mention_clusters),
        keys=["cluster_id"],
        order_by=[F.col("warc_ts"), F.col("url")],
        k=PROFILE_ARTICLES_CAP,
        salt_expr=F.xxhash64("url"),
    ).join(ent, "cluster_id")
    return assemble_profiles(rows)


def _assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["warc_ts", "url"])
    eid = pdf["entity_id"].iloc[0]
    etype = pdf["entity_type"].iloc[0]
    cname = pdf["canonical_name"].iloc[0]
    ctype = pdf["canonical_type"].iloc[0]
    n_articles_total = int(pdf["n_articles"].iloc[0])

    def _aslist(v):
        return list(v) if v is not None else []

    aliases = [a for a in _aslist(pdf["aliases"].iloc[0]) if a != cname]
    all_names = _aslist(pdf["all_names"].iloc[0])

    urls = list(dict.fromkeys(pdf["url"]))  # earliest-first (pre-capped)
    noun = {
        "people": "person",
        "organizations": "organization",
        "locations": "location",
        "events": "event",
    }[etype]

    lines = ["### Overview"]
    first_url = urls[0]
    kind = f"{ctype} {noun}".strip() if ctype else noun
    lines.append(f"{cname} is a {kind} referenced in the corpus.^[{first_url}]")
    if aliases:
        lines.append(
            "Also referred to as " + ", ".join(sorted(aliases)) + f".^[{first_url}]"
        )
    if etype == "events":
        sd = pdf["start_date"].iloc[0]
        if sd:
            lines.append(f"The event began on {sd}.^[{first_url}]")
        descs = [d for d in dict.fromkeys(pdf["description"]) if d]
        for d, u in zip(descs[:3], urls[:3]):
            lines.append(f"{d}^[{u}]")
    lines.append("### Coverage")
    for u in urls[:10]:
        lines.append(f"Mentioned in {u}.^[{u}]")
    lines.append(
        f"Referenced in {n_articles_total} article(s) in total.^[{first_url}]"
    )
    text = "\n".join(lines)

    tags = sorted({t for t in (ctype, noun) if t})
    confidence = max(0.0, min(1.0, 0.5 + 0.05 * n_articles_total))

    versions = [
        {
            "version_number": vn,
            "text": f"{cname}: profile over {vn} article(s).",
            "trigger_url": row["url"],
            "created_at": row["warc_ts"],
        }
        for vn, (_, row) in enumerate(pdf.iterrows(), start=1)
    ]

    flags = []
    if len(text) < PROFILE_QC_MIN_TEXT_LENGTH:
        flags.append("text_too_short")
    if not CITATION_RE.search(text):
        flags.append("no_citations")
    if len(tags) < PROFILE_QC_MIN_TAG_COUNT:
        tags = sorted(set(tags) | {"needs-review"})
        flags.append("tags_below_minimum")

    return pd.DataFrame(
        {
            "entity_id": [eid],
            "entity_type": [etype],
            "canonical_name": [cname],
            "profile_text": [text],
            "profile_tags": [tags],
            "profile_confidence": [confidence],
            "profile_sources": [urls],
            "current_version": [len(versions)],
            "versions": [versions],
            "qc_flags": [flags],
            "name_variants": [sorted({cname, *aliases, *all_names})],
        }
    )



def ground_profiles(profiles: DataFrame, articles: DataFrame) -> DataFrame:
    """Deterministic grounding verification (P6) with the reference's five
    support levels (src/utils/quality_controls.py:512-517):

      missing_source  cited url not in the pages table
      supported       a name variant appears AND ≥½ of the claim's
                      significant tokens appear in the cited text
      partial         exactly one of the two signals holds
      unclear         no variant, token overlap in [0.25, 0.5)
      not_supported   otherwise

    The variant check + token-overlap pair is the deterministic analog of
    the reference's per-claim LLM judgment; summary stats mirror
    quality_controls.py:719-749: verified = supported + partial,
    grounding_score = verified/total, flags missing_sources /
    unsupported_claims / low_grounding_score (<0.7 → grounding_passed
    false). Everything below the claim explode is JVM column expressions.
    """

    @F.pandas_udf("array<struct<cite_url:string, claim:string>>")
    def _claims(text: pd.Series) -> pd.Series:
        def per_profile(t: str):
            out = []
            for line in (t or "").split("\n"):
                urls = CITATION_RE.findall(line)
                if not urls:
                    continue
                claim = CITATION_RE.sub("", line).strip()
                for u in urls:
                    out.append({"cite_url": u, "claim": claim})
            return out

        return text.map(per_profile)

    # the report self-joins profiles; checkpoint EAGERLY so the
    # applyInPandas assembly runs once — under a lazy checkpoint the two
    # independent stages that consume it run concurrently and each
    # computes the fold
    profiles = profiles.localCheckpoint()

    cited = (
        profiles.select(
            "entity_id",
            "name_variants",
            F.explode(_claims(F.col("profile_text"))).alias("c"),
        )
        .select("entity_id", "name_variants", "c.cite_url", "c.claim")
    )

    joined = cited.join(
        articles.select(F.col("url").alias("cite_url"), "text"), "cite_url", "left"
    )

    text_lower = F.lower(F.col("text"))
    variant_hit = F.exists(
        "name_variants", lambda v: F.instr(text_lower, F.lower(v)) > 0
    )
    claim_tokens = F.array_distinct(
        F.filter(
            F.split(F.lower(F.col("claim")), "[^a-z0-9]+"),
            lambda t: F.length(t) >= 4,
        )
    )
    overlap = F.when(
        F.size(claim_tokens) > 0,
        F.size(F.filter(claim_tokens, lambda t: F.instr(text_lower, t) > 0))
        / F.size(claim_tokens),
    ).otherwise(F.lit(0.0))

    leveled = joined.withColumn(
        "status",
        F.when(F.col("text").isNull(), F.lit("missing_source"))
        .when(variant_hit & (overlap >= 0.5), F.lit("supported"))
        .when(variant_hit | (overlap >= 0.5), F.lit("partial"))
        .when(overlap >= 0.25, F.lit("unclear"))
        .otherwise(F.lit("not_supported")),
    )

    def _n(status: str):
        return F.sum(F.when(F.col("status") == status, 1).otherwise(0))

    report = (
        leveled.groupBy("entity_id")
        .agg(
            F.count("*").alias("total_claims"),
            _n("supported").alias("supported_claims"),
            _n("partial").alias("partial_claims"),
            _n("unclear").alias("unclear_claims"),
            _n("not_supported").alias("unsupported_claims"),
            _n("missing_source").alias("missing_sources"),
        )
        .withColumn(
            "verified_claims",
            F.col("supported_claims") + F.col("partial_claims"),
        )
        .withColumn(
            "grounding_score",
            F.when(
                F.col("total_claims") > 0,
                F.col("verified_claims") / F.col("total_claims"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "grounding_flags",
            F.filter(
                F.array(
                    F.when(F.col("missing_sources") > 0, F.lit("missing_sources")),
                    F.when(
                        F.col("unsupported_claims") > 0, F.lit("unsupported_claims")
                    ),
                    F.when(
                        F.col("grounding_score") < 0.7, F.lit("low_grounding_score")
                    ),
                ),
                lambda x: x.isNotNull(),
            ),
        )
        .withColumn("grounding_passed", F.col("grounding_score") >= 0.7)
    )

    return profiles.join(report, "entity_id", "left")
