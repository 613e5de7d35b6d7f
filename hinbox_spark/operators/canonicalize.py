"""Stage 5: clusters → canonical entities + (subj, pred, obj) edge triples.

An entity row is a FOLD of mergeable partial rows. A partial holds the
distinct name, alias and alt-entry (name, type, start_date) sets, the
mention and article counts, the earliest warc_ts and the capped,
earliest-first article sample. `mention_facets` turns mention rows into
such partials, `entity_facets` turns an existing entity row into one, and
`fold` merges every partial of a key into one row. The batch build folds
each cluster's mentions; the incremental upsert (`incremental.py`) folds a
store entity with the delta's mentions of it — the same code, so both
derive the same columns the same way.

`canonical_names` picks each folded group's canonical (name, type,
start_date). It generalizes the reference's pairwise 5-layer pick
(/root/reference/src/engine/mergers.py:231-274, 962-998) to whole clusters:
cluster_canonical_score = base score + containment bonus + full-form-over-
acronym bonus, argmax per cluster with deterministic tie-breaks — order-free
where the reference was merge-order-dependent. A group that carries an
identity (a store entity's) keeps it: published names and ids never flip.
`build_entities` is the one derived-column projection: entity_id, aliases,
alternative_names and the search embedding.

Output surfaces:
- `entities`: one row per cluster with the reference-shaped payload
  (canonical name/type, aliases, alternative_names, articles provenance,
  extraction_timestamp = min over members — mergers.py:1158-1165).
- `edges`: the graded (subj, pred, obj) triple table (FIXTURES.md §5) with
  url/warc_ts provenance and spark_partition_id() lineage.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from hinbox_spark.config import DomainConfig
from hinbox_spark.functions.names import cluster_canonical_score

# cap on the per-entity articles sample (earliest warc_ts first, url breaks
# ties); the full provenance is the edges table's mentioned_in triples
ENTITY_ARTICLES_CAP = 100

# facet kinds: the element rows a partial is made of
ENTRY, ALIAS, ARTICLE, SAMPLE, TOTALS, IDENTITY = range(6)


def build_clusters(
    mentions: DataFrame,
    nodes: DataFrame,
    labels: DataFrame,
    articles: DataFrame,
) -> DataFrame:
    """Attach cluster_id + article metadata (warc_ts, title) to every
    mention via its node key. One join on url, one on the node key — both
    co-partitioned hash joins."""
    from hinbox_spark.operators.linking import ensure_match_key

    m = ensure_match_key(mentions)
    n = nodes.select("entity_type", "match_key", "type_attr", "start_date", "node_id")
    keyed = m.join(
        n,
        (m["entity_type"] == n["entity_type"])
        & (m["match_key"] == n["match_key"])
        & (m["type"] == n["type_attr"])
        & (m["start_date"] == n["start_date"]),
    ).select(m["*"], n["node_id"], n["type_attr"])
    keyed = keyed.join(
        articles.select("url", "warc_ts", "title"), "url"
    )
    return keyed.join(labels, "node_id")


# the fields of a facet row; a kind sets some of them, the rest stay null
_FACET_FIELDS = {
    "value": "string", "type": "string", "start_date": "string",
    "cluster_id": "string", "n_mentions": "long", "n_articles": "long",
    "ts": "timestamp", "article": "struct<url:string,warc_ts:timestamp,title:string>",
}


def _facet(kind: int, **fields) -> Column:
    """One element row of a partial: its kind and the fields it sets."""

    def col(v) -> Column:
        return v if isinstance(v, Column) else F.lit(v)

    return F.struct(F.lit(kind).alias("kind"), *[
        col(fields.get(f)).cast(t).alias(f) for f, t in _FACET_FIELDS.items()
    ])


def _each(array: str | Column, fn) -> Column:
    """`fn` over every element of a possibly null array column."""
    return F.transform(F.coalesce(array, F.array()), fn)


def _exploded(df: DataFrame, key: str, facets: Column) -> DataFrame:
    return df.select(
        F.col(key).alias("key"), "entity_type", F.explode(facets).alias("f")
    ).select("key", "entity_type", "f.*")


def mention_facets(mention_clusters: DataFrame, key: str = "cluster_id") -> DataFrame:
    """The partials of mention rows, keyed by `key`: per mention one entry
    (counting the mention), one article (counting its url once per key)
    and one row per alias."""
    return _exploded(mention_clusters, key, F.concat(
        F.array(
            _facet(ENTRY, value=F.col("name"), type=F.col("type_attr"),
                   start_date=F.col("start_date"), n_mentions=1),
            _facet(ARTICLE, value=F.col("url"), n_articles=1, ts=F.col("warc_ts"),
                   article=F.struct("url", "warc_ts", "title")),
        ),
        _each("aliases", lambda a: _facet(ALIAS, value=a)),
    ))


def entity_facets(entities: DataFrame) -> DataFrame:
    """An entity row as a partial, keyed by entity_id: its entries (the
    canonical triple and the alt entries), aliases, article sample and
    counters. Its identity is not a facet — the caller supplies it."""
    canonical = F.struct(
        F.col("canonical_name").alias("name"),
        F.col("canonical_type").alias("type"),
        F.col("canonical_start_date").alias("start_date"),
    )
    return _exploded(entities, "entity_id", F.concat(
        F.array(_facet(TOTALS, n_mentions=F.col("n_mentions"),
                       n_articles=F.col("n_articles"),
                       ts=F.col("extraction_timestamp"))),
        F.transform(
            F.concat(F.array(canonical), F.coalesce("alt_entries", F.array())),
            lambda e: _facet(ENTRY, value=e["name"], type=e["type"],
                             start_date=e["start_date"]),
        ),
        _each("aliases", lambda a: _facet(ALIAS, value=a)),
        _each("articles", lambda a: _facet(ARTICLE, value=a["url"], article=a)),
    ))


def identity_facets(df: DataFrame, key: str, cluster_id: str) -> DataFrame:
    """The identity a group keeps instead of picking one: the cluster_id
    in column ``cluster_id`` and the canonical (name, type, start_date)."""
    return _exploded(df, key, F.array(_facet(
        IDENTITY, value=F.col("canonical_name"), type=F.col("canonical_type"),
        start_date=F.col("canonical_start_date"), cluster_id=F.col(cluster_id),
    )))


def fold(facets: DataFrame) -> DataFrame:
    """Merge every partial of a key into one partial row.

    Two aggregations, both distinct-first: the first reduces the facet rows
    per (key, element) with map-side combine — a mega-cluster's millions of
    mention rows become its handful of distinct names, aliases and urls
    before any list is built — and the second collects the distinct
    elements per key. The article sample between them is a `bounded_topk`
    tournament, so a mega-cluster's articles never sort in one task; it
    sees each url once, and the union of earlier capped samples re-caps to
    the same sample a fold over all the urls would keep."""
    from hinbox_spark.functions.skew import bounded_topk

    elements = facets.groupBy(
        "key", "entity_type", "kind", "value", "type", "start_date", "cluster_id"
    ).agg(
        F.sum("n_mentions").alias("n_mentions"),
        # a url counts once per key, however many mentions carry it
        F.max("n_articles").alias("n_articles"),
        F.min("ts").alias("ts"),
        F.min("article").alias("article"),
    )
    # the sample branch aggregates the article rows again: Spark reuses no
    # shuffle whose input is a cached frame, as `mention_clusters` is
    sample = bounded_topk(
        elements.filter(F.col("kind") == ARTICLE),
        keys=["key"],
        order_by=[F.col("article.warc_ts"), F.col("value")],
        k=ENTITY_ARTICLES_CAP,
        salt_expr=F.xxhash64("value"),
    ).select("key", "entity_type", F.lit(SAMPLE).alias("kind"), "article")

    def of(kind: int, col: Column) -> Column:
        return F.when(F.col("kind") == kind, col)

    counted = F.struct(F.col("value").alias("name"), "type", "start_date", "n_mentions")
    return (
        elements.unionByName(sample, allowMissingColumns=True)
        .groupBy("key", "entity_type")
        .agg(
            F.max(of(IDENTITY, F.struct(
                "cluster_id", F.col("value").alias("name"), "type", "start_date"
            ))).alias("identity"),
            F.collect_list(of(ENTRY, counted)).alias("entries"),
            F.array_sort(F.array_distinct(
                F.collect_list(of(ENTRY, F.col("value")))
            )).alias("all_names"),
            F.collect_list(of(ALIAS, F.col("value"))).alias("mention_aliases"),
            F.min("ts").alias("extraction_timestamp"),
            # counters are non-null, like the counts they add up
            F.coalesce(F.sum("n_mentions"), F.lit(0)).alias("n_mentions"),
            F.coalesce(F.sum("n_articles"), F.lit(0)).alias("n_articles"),
            F.array_sort(F.collect_list(of(SAMPLE, F.col("article")))).alias("articles"),
        )
    )


_CANONICAL_T = (
    "struct<cluster_id:string,canonical_name:string,canonical_type:string,"
    "canonical_start_date:string,alt_names:array<string>,"
    "alt_types:array<string>,alt_start_dates:array<string>,"
    "alt_entries:array<struct<name:string,type:string,start_date:string>>>"
)


def _pick(
    key: pd.Series, names: pd.Series, types: pd.Series, dates: pd.Series,
    counts: pd.Series, identity: pd.DataFrame,
) -> pd.DataFrame:
    """The Arrow batch body of `canonical_names`: per group, its entries as
    parallel name/type/date/count arrays and its identity struct."""
    rows = []
    for k, n, t, d, c, (i_cluster, i_name, i_type, i_date) in zip(
        key, names, types, dates, counts,
        identity[["cluster_id", "name", "type", "start_date"]].itertuples(index=False),
    ):
        members = list(zip(n, t, d))
        if i_name is not None:
            cluster, top = i_cluster, (i_name, i_type, i_date)
        else:
            # score desc, mention count desc, then the triple ascending
            names_ = list(n)
            scores = [cluster_canonical_score(x, names_) for x in names_]
            best = min(
                range(len(members)),
                key=lambda i: (-scores[i], -c[i], members[i]),
            )
            cluster, top = k, members[best]
        # alt entries keep the ALT key's OWN attributes paired (reference
        # mergers.py:523-575 stores the alternative key's type/start_date,
        # not the canonical's) — the per-type export shapes derive from this
        alt = sorted(set(members) - {top})
        rows.append((
            cluster, *top,
            sorted({a[0] for a in alt}), sorted({a[1] for a in alt}),
            sorted({a[2] for a in alt}),
            [{"name": a[0], "type": a[1], "start_date": a[2]} for a in alt],
        ))
    return pd.DataFrame(rows, columns=[
        "cluster_id", "canonical_name", "canonical_type", "canonical_start_date",
        "alt_names", "alt_types", "alt_start_dates", "alt_entries",
    ])


def canonical_names(groups: DataFrame) -> DataFrame:
    """Per folded group: the canonical (name, type, start_date), its alt
    entries and its cluster_id. A group with an identity keeps it; any
    other picks by cluster-level scoring with deterministic tie-breaks
    (score desc, then mention count desc, then name, type and start_date
    asc), and its cluster_id is its key."""
    e = F.col("entries")
    picked = F.pandas_udf(_pick, _CANONICAL_T)(
        F.col("key"),
        F.transform(e, lambda x: x["name"]),
        F.transform(e, lambda x: x["type"]),
        F.transform(e, lambda x: x["start_date"]),
        F.transform(e, lambda x: x["n_mentions"]),
        F.col("identity"),
    )
    return groups.withColumn("canonical", picked).select(
        "canonical.*", "entity_type", "all_names", "mention_aliases",
        "extraction_timestamp", "n_mentions", "n_articles", "articles",
    )


def _with_search_embedding(entities: DataFrame, cfg: DomainConfig) -> DataFrame:
    """Reference schema parity (mergers.py:1301-1313): search_embedding =
    deterministic encoding of the canonical name + aliases, plus the
    model/dim/fingerprint metadata columns."""
    from hinbox_spark.functions.embeddings import (
        EMBEDDING_MODEL, embed_text, fingerprint,
    )

    dim = cfg.embedding_dim

    @F.pandas_udf("array<float>")
    def _embed(name: pd.Series, aliases: pd.Series) -> pd.Series:
        return pd.Series(
            [
                embed_text(f"{n} " + " ".join(list(a) if a is not None else []), dim).tolist()
                for n, a in zip(name, aliases)
            ]
        )

    return (
        entities.withColumn(
            "search_embedding", _embed(F.col("canonical_name"), F.col("aliases"))
        )
        .withColumn("search_embedding_model", F.lit(EMBEDDING_MODEL))
        .withColumn("search_embedding_dim", F.lit(dim))
        .withColumn("search_embedding_fingerprint", F.lit(fingerprint(dim=dim)))
    )


def build_entities(groups: DataFrame, cfg: DomainConfig) -> DataFrame:
    """entities table: the derived columns of `canonical_names` groups —
    the one projection the batch build and the incremental upsert share.

    entity_id = sha2(entity_type || canonical key) — content-addressed, so
    stable across runs (idempotent resume) and, with the identity sticky,
    across upserts. aliases = mention aliases ∪ alt names."""
    out = groups.select(
        "cluster_id", "entity_type", "canonical_name", "canonical_type",
        "canonical_start_date", "alt_names", "alt_types", "alt_start_dates",
        "alt_entries", "extraction_timestamp", "n_mentions", "n_articles",
        "all_names", "articles",
        F.sha2(
            F.concat_ws(
                "|", "entity_type", "canonical_name", "canonical_type",
                "canonical_start_date",
            ),
            256,
        ).alias("entity_id"),
        F.array_sort(F.array_distinct(
            F.concat("mention_aliases", "alt_names")
        )).alias("aliases"),
        # alternative_names superset struct: the ALT key's own (name, type,
        # start_date), reference-masked per type (people carry neither type
        # nor date; orgs/locs carry no date; events carry both —
        # mergers.py:523-575 legacy shapes). One partitioned table needs
        # one column type; the exact per-type shapes (people:
        # array<string>; orgs/locs: (name,type); events:
        # (title,start_date,event_type)) come from
        # serving.reference_shaped_entities at per-type export.
        F.transform(
            "alt_entries",
            lambda e: F.struct(
                e["name"].alias("name"),
                F.when(F.col("entity_type") == "people", F.lit(""))
                .otherwise(e["type"]).alias("type"),
                F.when(
                    F.col("entity_type") == "events", e["start_date"]
                ).otherwise(F.lit("")).alias("start_date"),
            ),
        ).alias("alternative_names"),
    )
    return _with_search_embedding(out, cfg).withColumn(
        "partition_id", F.spark_partition_id()
    )


def _stable_provenance(edges: DataFrame) -> DataFrame:
    """One row per (subj, pred, obj) with DETERMINISTIC provenance: the
    (earliest warc_ts, lexicographically-smallest url) witness via a
    struct-min aggregate (map-side combinable). A bare dropDuplicates picks
    an arbitrary winner per partitioning — the triple SET would be stable
    but the provenance columns would flap across runs/partitionings."""
    return (
        edges.groupBy("subj", "pred", "obj")
        .agg(F.min(F.struct("warc_ts", "url")).alias("_w"))
        .select(
            "subj", "pred", "obj",
            F.col("_w.url").alias("url"),
            F.col("_w.warc_ts").alias("warc_ts"),
        )
    )


def build_edge_triples(
    mention_clusters: DataFrame, entities: DataFrame
) -> DataFrame:
    """(subj, pred, obj) triples with provenance + per-partition lineage.

    Predicates: mentioned_in (entity → url), alias_of (surface variant →
    canonical), has_type (entity → category), co_mentioned_with (person or
    organization → event on the same page). The partition_id column is the
    per-partition lineage counter the north_rule requires. Provenance per
    triple is the deterministic earliest-(warc_ts, url) witness.
    """
    ent = entities.select(
        "cluster_id", "entity_id", "canonical_name", "canonical_type"
    )

    def triple(subj, pred: str, obj) -> Column:
        return F.struct(
            subj.alias("subj"), F.lit(pred).alias("pred"),
            obj.cast("string").alias("obj"),
        )

    # one pass over the mention rows emits each mention's own triples and
    # its co-mention role; the roles pair up per url below
    eid = F.col("entity_id")
    rows = mention_clusters.join(ent, "cluster_id").select(
        "url", "warc_ts",
        F.explode(F.array(
            triple(eid, "mentioned_in", F.col("url")),
            F.when(F.col("name") != F.col("canonical_name"),
                   triple(F.col("name"), "alias_of", eid)),
            F.when(F.col("canonical_type") != "",
                   triple(eid, "has_type", F.col("canonical_type"))),
            F.when(F.col("entity_type").isin("people", "organizations"),
                   triple(eid, "participant", F.lit(None))),
            F.when(F.col("entity_type") == "events",
                   triple(eid, "event", F.lit(None))),
        )).alias("t"),
    ).filter(F.col("t").isNotNull()).select("url", "warc_ts", "t.*")
    roles = F.col("pred").isin("participant", "event")
    co_mentions = (
        rows.filter(roles)
        .groupBy("url", "warc_ts")
        .agg(
            F.collect_set(F.when(F.col("pred") == "participant", F.col("subj")))
            .alias("participants"),
            F.collect_set(F.when(F.col("pred") == "event", F.col("subj")))
            .alias("events"),
        )
        .select("url", "warc_ts", F.explode(F.flatten(F.transform(
            "participants",
            lambda p: F.transform(
                "events", lambda e: triple(p, "co_mentioned_with", e)
            ),
        ))).alias("t"))
        .select("url", "warc_ts", "t.*")
    )
    # no triple has two predicates, so one provenance aggregation over
    # their union serves all four
    edges = _stable_provenance(
        rows.filter(~roles).unionByName(co_mentions)
    ).withColumn("partition_id", F.spark_partition_id())
    return edges
