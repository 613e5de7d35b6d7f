"""Serving-layer semantics (F6 filters, A9 chips, O6 version lookup)."""

import datetime

import pyspark.sql.functions as F
import pytest

from hinbox_spark.operators.serving import (
    distinct_filter_values, profile_version, search_entities,
)


@pytest.fixture(scope="module")
def profiles(spark):
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("e1", "organizations", "Department of Defense",
         ["government", "organization"], 2,
         [{"version_number": 1, "text": "v1", "trigger_url": "u1", "created_at": ts},
          {"version_number": 2, "text": "v2", "trigger_url": "u2", "created_at": ts}]),
        ("e2", "organizations", "Red Cross", ["ngo", "organization"], 1,
         [{"version_number": 1, "text": "v1", "trigger_url": "u3", "created_at": ts}]),
        ("e3", "people", "Omar Khadr", ["person"], 1,
         [{"version_number": 1, "text": "v1", "trigger_url": "u4", "created_at": ts}]),
    ]
    return spark.createDataFrame(
        rows,
        "entity_id string, entity_type string, canonical_name string, "
        "profile_tags array<string>, current_version int, "
        "versions array<struct<version_number:int, text:string, "
        "trigger_url:string, created_at:timestamp>>",
    )


def test_search_substring_case_insensitive(profiles):
    out = search_entities(profiles, q="defense").collect()
    assert [r["entity_id"] for r in out] == ["e1"]


def test_search_type_and_tag(profiles):
    out = search_entities(profiles, entity_type="organizations", tags=["ngo"]).collect()
    assert [r["entity_id"] for r in out] == ["e2"]
    # any-overlap: 'organization' matches both orgs
    out = search_entities(profiles, tags=["organization"]).collect()
    assert {r["entity_id"] for r in out} == {"e1", "e2"}


def test_distinct_filter_chips(profiles):
    chips = [(r["entity_type"], r["tag"]) for r in distinct_filter_values(profiles).collect()]
    assert ("organizations", "government") in chips
    assert ("people", "person") in chips
    assert chips == sorted(chips)


def test_profile_version_lookup(profiles):
    latest = profile_version(profiles, "e1").collect()[0]
    assert latest["version"]["version_number"] == 2
    v1 = profile_version(profiles, "e1", version=1).collect()[0]
    assert v1["version"]["text"] == "v1"
    missing = profile_version(profiles, "e1", version=9).collect()[0]
    assert missing["version"] is None


def test_display_keys(spark):
    """SC13 parity (data_access.py:113-176): people keep the bare name;
    others get "Name (md5(name##second)[:6])"."""
    import hashlib

    from hinbox_spark.operators.serving import with_display_keys

    ents = spark.createDataFrame(
        [
            ("people", "Omar Khadr", "", ""),
            ("organizations", "Red Cross", "ngo", ""),
            ("events", "Tribunal Hearing", "hearing", "2008-01-15"),
        ],
        "entity_type string, canonical_name string, canonical_type string, "
        "canonical_start_date string",
    )
    rows = {r["entity_type"]: r["display_key"]
            for r in with_display_keys(ents).collect()}
    assert rows["people"] == "Omar Khadr"
    h_org = hashlib.md5(b"Red Cross##ngo").hexdigest()[:6]
    assert rows["organizations"] == f"Red Cross ({h_org})"
    h_ev = hashlib.md5(b"Tribunal Hearing##2008-01-15").hexdigest()[:6]
    assert rows["events"] == f"Tribunal Hearing ({h_ev})"


class TestReferenceShapedEntities:
    """Per-type alternative-name shape parity (reference mergers.py:523-575
    legacy shapes; events field name `alternative_titles`, mergers.py:136)."""

    def _entities(self, spark):
        rows = [
            ("people", "Omar Khadr",
             [{"name": "O. Khadr", "type": "", "start_date": ""}]),
            ("organizations", "Department of Defense",
             [{"name": "Defense Department", "type": "government",
               "start_date": ""}]),
            ("locations", "Guantanamo Bay",
             [{"name": "GTMO", "type": "base", "start_date": ""}]),
            ("events", "Tribunal Hearing",
             [{"name": "Hearing at Camp Justice", "type": "hearing",
               "start_date": "2008-05-01"}]),
        ]
        return spark.createDataFrame(
            rows,
            "entity_type string, canonical_name string, alternative_names "
            "array<struct<name:string,type:string,start_date:string>>",
        )

    def test_people_are_plain_strings(self, spark):
        from hinbox_spark.operators.serving import reference_shaped_entities

        r = reference_shaped_entities(self._entities(spark), "people").first()
        assert r["alternative_names"] == ["O. Khadr"]

    def test_orgs_and_locs_are_name_type_structs(self, spark):
        from hinbox_spark.operators.serving import reference_shaped_entities

        ents = self._entities(spark)
        org = reference_shaped_entities(ents, "organizations").first()
        assert org["alternative_names"][0].asDict() == {
            "name": "Defense Department", "type": "government"
        }
        loc = reference_shaped_entities(ents, "locations").first()
        assert loc["alternative_names"][0].asDict() == {
            "name": "GTMO", "type": "base"
        }

    def test_events_are_title_date_type_structs(self, spark):
        from hinbox_spark.operators.serving import reference_shaped_entities

        r = reference_shaped_entities(self._entities(spark), "events").first()
        assert "alternative_names" not in r.asDict()
        assert r["alternative_titles"][0].asDict() == {
            "title": "Hearing at Camp Justice",
            "start_date": "2008-05-01",
            "event_type": "hearing",
        }

    def test_alt_entries_carry_their_own_attributes(self, spark):
        """The superset struct must pair each alternative with ITS OWN
        type/start_date (reference stores the alt key's attributes), not
        the canonical entity's."""
        from hinbox_spark.operators.canonicalize import (
            canonical_names, fold, mention_facets,
        )

        mc = spark.createDataFrame(
            [
                ("c1", "events", "Tribunal Hearing", "hearing", "2008-05-01"),
                ("c1", "events", "Pretrial Session", "session", "2008-06-02"),
            ],
            "cluster_id string, entity_type string, name string, "
            "type_attr string, start_date string",
        ).select(
            "*", F.lit("u1").alias("url"), F.lit(None).cast("timestamp").alias("warc_ts"),
            F.lit("t").alias("title"), F.array().cast("array<string>").alias("aliases"),
        )
        canon = canonical_names(fold(mention_facets(mc))).first()
        alts = [e.asDict() for e in canon["alt_entries"]]
        assert {"name": "Pretrial Session", "type": "session",
                "start_date": "2008-06-02"} in alts or \
               {"name": "Tribunal Hearing", "type": "hearing",
                "start_date": "2008-05-01"} in alts
