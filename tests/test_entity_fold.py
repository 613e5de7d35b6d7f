"""The entity fold on hand-built mention rows: a store entity folded with a
delta's mentions of it (`incremental.entity_upserts`) equals the batch fold
over the union of the same mention rows, column for column.

Each case bootstraps one store entity from cluster ``c1``'s rows with the
batch path, then applies delta clusters that all land in it, and compares
the result with a batch fold of every row as one cluster ``c1``. The last
test checks that the entity tables of a batch and a delta run share one
schema.
"""

from __future__ import annotations

import datetime as dt
import glob

import pyspark.sql.functions as F
import pytest

from hinbox_spark.config import get_default_config
from hinbox_spark.incremental import entity_upserts
from hinbox_spark.operators.canonicalize import (
    ENTITY_ARTICLES_CAP, build_entities, canonical_names, fold, mention_facets,
)
from hinbox_spark.session import local_frame
from hinbox_spark.tables import SnapshotTable

MENTION = (
    "cluster_id string, entity_type string, name string, type_attr string, "
    "start_date string, url string, warc_ts timestamp, title string, "
    "aliases array<string>"
)
FIELDS = [
    "entity_id", "cluster_id", "entity_type", "canonical_name",
    "canonical_type", "canonical_start_date", "aliases", "all_names",
    "n_mentions", "n_articles", "alt_entries", "alt_names", "alt_types",
    "alt_start_dates", "alternative_names", "extraction_timestamp",
    "articles", "search_embedding",
]
T0 = dt.datetime(2008, 5, 1)


def m(cluster, name, page, minute=None, type_attr="agency", aliases=()):
    """One organization mention on page ``u<page>`` (published ``minute``
    minutes after T0, by default ``page``)."""
    ts = T0 + dt.timedelta(minutes=page if minute is None else minute)
    return (cluster, "organizations", name, type_attr, "", f"u{page:05d}",
            ts, f"title {page}", list(aliases))


def batch(spark, rows):
    mc = local_frame(spark, rows, MENTION)
    return build_entities(canonical_names(fold(mention_facets(mc))), get_default_config())


def store_then_delta(spark, store_rows, delta_rows):
    store = batch(spark, store_rows)
    s = store.first()
    delta = local_frame(spark, delta_rows, MENTION)
    # every delta cluster lands in the store entity and keeps its identity
    ent_map = delta.select("cluster_id", "entity_type").distinct().select(
        "cluster_id", "entity_type",
        F.lit(s.entity_id).alias("entity_id"),
        F.lit(s.cluster_id).alias("entity_cluster_id"),
        F.lit(s.canonical_name).alias("canonical_name"),
        F.lit(s.canonical_type).alias("canonical_type"),
        F.lit(s.canonical_start_date).alias("canonical_start_date"),
    )
    return entity_upserts(delta, ent_map, store, get_default_config())


def assert_fold_equals_batch(spark, store_rows, delta_rows):
    (inc,) = store_then_delta(spark, store_rows, delta_rows).collect()
    (full,) = batch(
        spark, store_rows + [("c1", *r[1:]) for r in delta_rows]
    ).collect()
    for f in FIELDS:
        assert inc[f] == full[f], f
    return inc


def test_two_delta_clusters_sharing_a_url_count_it_once(spark):
    store = [m("c1", "Acme Agency", p) for p in (1, 2)]
    delta = [m("d1", "Acme Agency", p) for p in (3, 4)] + [
        m("d2", "Acme", p, aliases=["the Agency"]) for p in (4, 5)
    ]
    row = assert_fold_equals_batch(spark, store, delta)
    assert row.n_articles == 5 and row.n_mentions == 6
    assert row.aliases == ["Acme", "the Agency"]


def test_canonical_name_recurring_under_another_type_is_an_alias(spark):
    store = [m("c1", "Acme Agency", p) for p in (1, 2, 3)]
    delta = [m("d1", "Acme Agency", 4, type_attr="court")]
    row = assert_fold_equals_batch(spark, store, delta)
    assert row.canonical_type == "agency"
    assert row.alt_names == ["Acme Agency"] and row.aliases == ["Acme Agency"]


def test_store_and_delta_articles_are_recapped_earliest_first(spark):
    store = [m("c1", "Acme Agency", p, minute=100 + p) for p in range(80)]
    delta = [m("d1", "Acme Agency", 1000 + p, minute=p) for p in range(40)]
    row = assert_fold_equals_batch(spark, store, delta)
    assert row.n_articles == 120
    assert len(row.articles) == ENTITY_ARTICLES_CAP
    kept = sorted(a.warc_ts for a in row.articles)
    assert kept[0] == T0 and kept[-1] == T0 + dt.timedelta(minutes=100 + 59)


@pytest.mark.parametrize("n_store,n_delta", [(3000, 2000)])
def test_mega_cluster_over_a_handful_of_names(spark, n_store, n_delta):
    names = ["Acme Agency", "Acme", "AA"]
    store = [m("c1", names[i % 2], i // 3, aliases=["the Agency"] if i % 5 == 0 else [])
             for i in range(n_store)]
    delta = [m(f"d{i % 2}", names[i % 3], 5000 + i // 4) for i in range(n_delta)]
    row = assert_fold_equals_batch(spark, store, delta)
    assert row.canonical_name == "Acme Agency"
    assert row.n_mentions == n_store + n_delta
    assert row.n_articles == len({r[5] for r in store + delta})
    assert row.all_names == sorted(names)
    assert len(row.articles) == ENTITY_ARTICLES_CAP


def _written_schema(path, drop=()):
    """The schema (names, types, nullability) the part files of the table
    at ``path`` were written with; they must all agree."""
    import pyarrow.parquet as pq

    schemas = set()
    for part in glob.glob(f"{path}/**/part-*.parquet", recursive=True):
        schema = pq.read_schema(part).remove_metadata()
        for name in drop:
            schema = schema.remove(schema.get_field_index(name))
        schemas.add(str(schema))
    assert len(schemas) == 1, schemas
    return schemas.pop()


def test_entity_tables_share_one_schema(spark, delta_world):
    """The batch `entities` table, the delta's `entities_delta` and the
    store batches the bootstrap and the delta committed are written with
    one schema, and read back with one schema (the store's resolved through
    its key)."""
    base = delta_world["base"]
    st = SnapshotTable(spark, delta_world["store"] + "/entities")
    entries = st._read_manifest(st.latest_snapshot_id())["entries"]
    boot_batch, delta_batch = entries[0]["batch"], entries[-1]["batch"]
    # entity_type is a partition directory of the two run tables
    batch, delta, boot_store, store = (
        _written_schema(base / "batch" / "entities"),
        _written_schema(base / "delta" / "entities_delta"),
        _written_schema(f"{st.data_dir}/{boot_batch}", drop=["entity_type"]),
        _written_schema(f"{st.data_dir}/{delta_batch}", drop=["entity_type"]),
    )
    assert batch == delta == boot_store == store
    batch, delta, store = (
        {f.name: (f.dataType, f.nullable) for f in df.schema}
        for df in (
            spark.read.parquet(str(base / "batch" / "entities")),
            spark.read.parquet(str(base / "delta" / "entities_delta")),
            st.read_resolved(["entity_id"]),
        )
    )
    assert batch == delta == store
