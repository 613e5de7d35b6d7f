"""Linking decision semantics mirrored from the reference test suite
(tests/test_entity_merger_similarity.py, test_merge_dispute_agent_routing.py):
per-type thresholds, gray-band deferral, low-quality guard, people
conservatism, blocking include/exclude."""

import pyspark.sql.functions as F
import pytest

from hinbox_spark.config import get_default_config
from hinbox_spark.operators.linking import (
    candidate_pairs, mention_nodes, score_pairs,
)


def _nodes(spark, rows):
    """rows: (entity_type, name, type_attr, start_date)"""
    m = spark.createDataFrame(
        [(f"u{i}", et, n, t, "", sd, "", False, []) for i, (et, n, t, sd) in enumerate(rows)],
        "url string, entity_type string, name string, type string, "
        "description string, start_date string, end_date string, "
        "is_fuzzy_date boolean, aliases array<string>",
    )
    return mention_nodes(m)


def _vecs(spark, nodes, vec_by_name):
    rows = [
        (r["node_id"], r["entity_type"], vec_by_name.get(r["name"]))
        for r in nodes.collect()
    ]
    return spark.createDataFrame(
        rows, "node_id string, entity_type string, vec array<float>"
    )


class TestBlocking:
    def test_equivalence_and_acronym_and_containment(self, spark):
        cfg = get_default_config()
        nodes = _nodes(spark, [
            ("organizations", "Department of Defense", "government", ""),
            ("organizations", "Pentagon", "government", ""),           # equiv group
            ("organizations", "DHS", "government", ""),
            ("organizations", "Department of Homeland Security", "government", ""),  # acronym
            ("organizations", "Homeland Security", "government", ""),  # containment
            ("organizations", "Coast Guard", "military", ""),          # unrelated
        ])
        pairs = candidate_pairs(nodes, cfg)
        names = {r["name"]: r["node_id"] for r in nodes.collect()}
        got = {(r["src"], r["dst"]) for r in pairs.collect()}

        def linked(a, b):
            x, y = names[a], names[b]
            return (min(x, y), max(x, y)) in got

        assert linked("Department of Defense", "Pentagon")
        assert linked("DHS", "Department of Homeland Security")
        assert linked("Homeland Security", "Department of Homeland Security")
        assert not any(names["Coast Guard"] in p for p in got)

    def test_people_never_acronym_or_containment(self, spark):
        cfg = get_default_config()
        nodes = _nodes(spark, [
            ("people", "John Smith", "person", ""),
            ("people", "JS", "person", ""),
            ("people", "Smith", "person", ""),
        ])
        assert candidate_pairs(nodes, cfg).count() == 0


class TestScoring:
    def test_gray_band_defers_to_review(self, spark):
        """|sim − τ| ≤ 0.05 on a cosine-path pair → review queue, not edge
        (reference constants.py:30-33, mergers.py:907-942)."""
        cfg = get_default_config()
        nodes = _nodes(spark, [
            ("organizations", "Alpha Industries Corp", "company", ""),
            ("organizations", "Alpah Industries Corp", "company", ""),  # typo variant
        ])
        # engineer vectors with cosine exactly in the gray band:
        # τ(orgs)=0.78; cos = 0.8 → |0.8-0.78| = 0.02 ≤ 0.05 → defer
        import math
        a = [1.0, 0.0]
        b = [0.8, math.sqrt(1 - 0.64)]
        vec_by_name = {"Alpha Industries Corp": a, "Alpah Industries Corp": b}
        vecs = _vecs(spark, nodes, vec_by_name)
        # the MinHash name-LSH family (B5) proposes the typo pair with
        # reason='lsh'; it must pass the cosine gate
        pairs = candidate_pairs(nodes, cfg)
        accepted, review = score_pairs(pairs, nodes, vecs, cfg)
        assert accepted.count() == 0
        rows = review.collect()
        assert len(rows) == 1 and rows[0]["decision"] == "defer"

    def test_above_band_accepts(self, spark):
        cfg = get_default_config()
        nodes = _nodes(spark, [
            ("organizations", "Alpha Industries Corp", "company", ""),
            ("organizations", "Alpah Industries Corp", "company", ""),
        ])
        vec_by_name = {
            "Alpha Industries Corp": [1.0, 0.0],
            "Alpah Industries Corp": [0.99, 0.141],  # cos ≈ 0.99 > τ+0.05
        }
        vecs = _vecs(spark, nodes, vec_by_name)
        pairs = candidate_pairs(nodes, cfg)
        accepted, review = score_pairs(pairs, nodes, vecs, cfg)
        assert accepted.count() == 1
        assert review.count() == 0

    def test_below_threshold_rejects(self, spark):
        cfg = get_default_config()
        nodes = _nodes(spark, [
            ("organizations", "Alpha Industries Corp", "company", ""),
            ("organizations", "Alpah Industries Corp", "company", ""),
        ])
        vec_by_name = {
            "Alpha Industries Corp": [1.0, 0.0],
            "Alpah Industries Corp": [0.5, 0.866],  # cos = 0.5 < τ−0.05
        }
        vecs = _vecs(spark, nodes, vec_by_name)
        pairs = candidate_pairs(nodes, cfg)
        accepted, review = score_pairs(pairs, nodes, vecs, cfg)
        assert accepted.count() == 0 and review.count() == 0

    def test_low_quality_guard_blocks_merge(self, spark):
        """'defense departments' must never bond (reference mergers.py:833-847)."""
        cfg = get_default_config()
        nodes = _nodes(spark, [
            ("organizations", "Defense departments", "government", ""),
            ("organizations", "Department of Defense", "government", ""),
        ])
        pairs = candidate_pairs(nodes, cfg)
        vecs = _vecs(spark, nodes, {
            "Defense departments": [1.0, 0.0],
            "Department of Defense": [1.0, 0.0],
        })
        accepted, review = score_pairs(pairs, nodes, vecs, cfg)
        assert accepted.count() == 0
        assert review.count() == 0


class TestHotTokenBlocking:
    def test_hot_token_pairs_recovered_via_bigram(self, spark, monkeypatch):
        """When a blocking token exceeds the df-cap, containment pairs that
        share a second token must still be found via the refined
        (hot, other) key; the quadratic single-token bucket never forms."""
        import hinbox_spark.operators.linking as L

        monkeypatch.setattr(L, "TOKEN_DF_CAP", 3)
        cfg = get_default_config()
        rows = [("organizations", f"Department of Unit{i:02d}", "government", "")
                for i in range(8)]  # 'department' df=8 > cap=3
        rows += [
            ("organizations", "Department of Veterans Affairs", "government", ""),
            ("organizations", "Veterans Affairs", "government", ""),
        ]
        nodes = _nodes(spark, rows)
        pairs = candidate_pairs(nodes, cfg)
        names = {r["node_id"]: r["name"] for r in nodes.collect()}
        linked = {
            frozenset((names[r["src"]], names[r["dst"]])) for r in pairs.collect()
        }
        assert frozenset(
            ("Department of Veterans Affairs", "Veterans Affairs")
        ) in linked


class TestEventDateIdentity:
    def test_same_title_different_dates_never_merge(self, spark):
        """start_date is part of the event identity key (mergers.py:133-138):
        same-title events on different dates stay separate entities."""
        cfg = get_default_config()
        nodes = _nodes(spark, [
            ("events", "Periodic Review Hearing", "hearing", "2023-03-14"),
            ("events", "Periodic Review Hearing", "hearing", "2022-01-01"),
        ])
        pairs = candidate_pairs(nodes, cfg)
        vecs = _vecs(spark, nodes, {})  # identical names → identical vecs
        rows = [(r["node_id"], r["entity_type"], [1.0, 0.0]) for r in nodes.collect()]
        vecs = spark.createDataFrame(
            rows, "node_id string, entity_type string, vec array<float>"
        )
        accepted, review = score_pairs(pairs, nodes, vecs, cfg)
        assert accepted.count() == 0 and review.count() == 0

    def test_empty_date_is_compatible(self, spark):
        cfg = get_default_config()
        nodes = _nodes(spark, [
            ("events", "Detainee Transfer", "transfer", "2022-11-02"),
            ("events", "Detainee Transfer", "transfer", ""),
        ])
        pairs = candidate_pairs(nodes, cfg)
        rows = [(r["node_id"], r["entity_type"], [1.0, 0.0]) for r in nodes.collect()]
        vecs = spark.createDataFrame(
            rows, "node_id string, entity_type string, vec array<float>"
        )
        accepted, _ = score_pairs(pairs, nodes, vecs, cfg)
        assert accepted.count() == 1


class TestThresholdResolution:
    def test_per_type_chain(self):
        cfg = get_default_config()
        assert cfg.threshold_for("people") == 0.82
        assert cfg.threshold_for("organizations") == 0.78
        assert cfg.threshold_for("locations") == 0.80
        assert cfg.threshold_for("events") == 0.76
        assert cfg.threshold_for("other") == 0.75  # default fallback


class TestNameLshBucketCap:
    def test_degenerate_names_bounded_with_truncation_metric(self, spark):
        """10k near-identical names (boilerplate titles) must not go
        quadratic in one LSH bucket: the band-bucket cap bounds the pair
        count and the truncation is counted, not silent."""
        import dataclasses

        from hinbox_spark.operators.linking import (
            NAME_LSH_BUCKET_CAP, blocking_keys, name_lsh_band_entries,
            name_lsh_truncation_stats_from_entries,
        )

        rows = [
            (f"u{i}", "organizations", f"Weekly Report Bulletin {i:05d}",
             "government", "", "", "", False, [])
            for i in range(10_000)
        ]
        m = spark.createDataFrame(
            rows,
            "url string, entity_type string, name string, type string, "
            "description string, start_date string, end_date string, "
            "is_fuzzy_date boolean, aliases array<string>",
        )
        cfg = get_default_config()
        nodes = mention_nodes(m)
        keys = blocking_keys(nodes, cfg).localCheckpoint()
        stats = {
            r["stage"]: r["n"]
            for r in name_lsh_truncation_stats_from_entries(
                name_lsh_band_entries(keys)
            ).collect()
        }
        # no per-node LSH cap: only the bucket cap bounds the pair count
        uncapped = dataclasses.replace(cfg, blocking_max_candidates=10**9)
        n = candidate_pairs(nodes, uncapped, keys=keys).count()
        assert stats["name_lsh_dropped_buckets"] > 0
        assert stats["name_lsh_dropped_entries"] > 0
        # bounded: the cap turns the worst case from O(n²) into O(n·cap)
        # per band — far below the ~5·10⁷ all-pairs count for 10k names
        assert n < 10_000 * NAME_LSH_BUCKET_CAP  # 2M vs 50M all-pairs


class TestFusedBlocking:
    """One key pass, one self-join: the reason and cap rules that used to
    live in four separate family joins."""

    def _pairs(self, spark, names, cfg):
        nodes = _nodes(spark, [("organizations", n, "government", "")
                               for n in names])
        by_id = {r["node_id"]: r["name"] for r in nodes.collect()}
        return {
            frozenset((by_id[r["src"]], by_id[r["dst"]])): r["reason"]
            for r in candidate_pairs(nodes, cfg).collect()
        }

    def test_pair_found_by_two_families_carries_stronger_reason(self, spark):
        import dataclasses

        cfg = dataclasses.replace(
            get_default_config(),
            equivalence_groups={"organizations": [
                ["Homeland Security", "Department of Homeland Security"]]},
        )
        got = self._pairs(spark, [
            "Homeland Security",                 # equivalence + containment
            "Department of Homeland Security",
            "Guantanamo Bay Naval Base",         # containment + name LSH
            "Guantanamo Bay Naval Base Cuba",
        ], cfg)
        assert got[frozenset(("Homeland Security",
                              "Department of Homeland Security"))] == "equivalence"
        assert got[frozenset(("Guantanamo Bay Naval Base",
                              "Guantanamo Bay Naval Base Cuba"))] == "containment"

    def test_two_long_forms_never_acronym_pair(self, spark):
        import dataclasses

        # no equivalence groups: the default config's NSA group would win
        cfg = dataclasses.replace(get_default_config(), equivalence_groups={})
        got = self._pairs(spark, [
            "National Security Agency", "National Shipping Association", "NSA",
        ], cfg)
        assert got[frozenset(("NSA", "National Security Agency"))] == "acronym"
        assert got[frozenset(("NSA", "National Shipping Association"))] == "acronym"
        assert got.get(frozenset(
            ("National Security Agency", "National Shipping Association")
        )) != "acronym"

    def test_lsh_cap_keeps_first_pairs_in_hash_order(self, spark):
        """Per node, the capped LSH proposals are the blocking_max_candidates
        pairs first in xxhash64(src, dst) order among all of its LSH
        proposals."""
        import dataclasses

        nodes = _nodes(spark, [
            ("organizations", f"Weekly Report Bulletin {i:02d}", "government", "")
            for i in range(20)
        ])
        k = 3
        cfg = get_default_config()
        capped = candidate_pairs(
            nodes, dataclasses.replace(cfg, blocking_max_candidates=k)
        )
        every = candidate_pairs(
            nodes, dataclasses.replace(cfg, blocking_max_candidates=10_000)
        ).filter(F.col("reason") == "lsh")
        order: dict = {}
        for r in every.select("src", "dst", F.xxhash64("src", "dst").alias("h")
                              ).collect():
            order.setdefault(r["src"], []).append((r["h"], r["dst"]))
        assert any(len(v) > k for v in order.values())
        want = {(src, dst) for src, v in order.items() for _, dst in sorted(v)[:k]}
        got = {(r["src"], r["dst"])
               for r in capped.filter(F.col("reason") == "lsh").collect()}
        assert got == want


class TestGrayBandConfidenceGate:
    """Reference parity (constants.py:30-33, mergers.py:907-942): a pair in
    the gray band routes to dispute ONLY when the match-check confidence is
    below 0.7; confident in-band pairs are decided by the match check."""

    def _run(self, spark, name_b, cos_val):
        import math

        cfg = get_default_config()
        nodes = _nodes(spark, [
            ("organizations", "Alpha Industries Corp", "company", ""),
            ("organizations", name_b, "company", ""),
        ])
        vec_by_name = {
            "Alpha Industries Corp": [1.0, 0.0],
            name_b: [cos_val, math.sqrt(1 - cos_val ** 2)],
        }
        vecs = _vecs(spark, nodes, vec_by_name)
        pairs = candidate_pairs(nodes, cfg)
        return score_pairs(pairs, nodes, vecs, cfg)

    def test_confident_in_band_match_merges(self, spark):
        # name_jac("Alpha Industries Corp","Alpha Industriess Corp")≈0.87 ≥0.7
        # sim=0.80 in τ±0.05 band, ≥ τ(orgs)=0.78 → confident → MERGE
        accepted, review = self._run(spark, "Alpha Industriess Corp", 0.80)
        assert accepted.count() == 1
        assert review.count() == 0

    def test_confident_in_band_non_match_skips(self, spark):
        # sim=0.76 in band but < τ → confident → SKIP (no review row)
        accepted, review = self._run(spark, "Alpha Industriess Corp", 0.76)
        assert accepted.count() == 0
        assert review.count() == 0

    def test_uncertain_in_band_defers(self, spark):
        # name_jac("Alpha Industries Corp","Alpah Industries Corp")=0.68 <0.7
        # sim=0.80 in band → uncertain → review queue with confidence column
        accepted, review = self._run(spark, "Alpah Industries Corp", 0.80)
        assert accepted.count() == 0
        rows = review.collect()
        assert len(rows) == 1
        assert rows[0]["decision"] == "defer"
        assert abs(rows[0]["confidence"] - 0.68) < 0.01


class TestNodeIdSeparator:
    def test_boundary_shift_keys_get_distinct_node_ids(self, spark):
        """Regression (ADVICE r2): ("x", "yz") and ("xy", "z") concatenate
        identically without a field separator — they must hash to two
        distinct node_ids or clustering silently merges them."""
        nodes = _nodes(spark, [
            ("organizations", "x", "yz", ""),
            ("organizations", "xy", "z", ""),
        ])
        ids = [r["node_id"] for r in nodes.select("node_id").collect()]
        assert len(ids) == 2 and ids[0] != ids[1]


class TestDisputeArbitration:
    """Second-stage arbitration truth table, mirroring the reference's
    override-both-directions routing (merge_dispute_agent.py:83-171,
    tests/test_merge_dispute_agent_routing.py:299-350)."""

    def _review(self, spark, rows):
        """rows: (name_src, name_dst, sim, tau) → review rows carrying the
        arbitration features, as `score_pairs` emits them."""
        from hinbox_spark.operators.linking import pair_scores

        review = spark.createDataFrame(
            [
                (f"s{i}", f"d{i}", "organizations", a, b, sim, tau, 0.5, "defer")
                for i, (a, b, sim, tau) in enumerate(rows)
            ],
            "src string, dst string, entity_type string, name_src string, "
            "name_dst string, sim double, tau double, confidence double, "
            "decision string",
        )
        no_vec = F.lit(None).cast("array<float>")
        return review.withColumn(
            "_s", pair_scores("name_src", "name_dst", no_vec, no_vec)
        ).select("*", "_s.tok_jac", "_s.acr", "_s.cont").drop("_s")

    def test_override_both_directions_and_defer(self, spark):
        from hinbox_spark.operators.linking import arbitrate_review

        review = self._review(spark, [
            # 0: match-checker-uncertain, above τ with strong word overlap
            #    → MERGE (reference: dispute overrides uncertain-match)
            ("Guantanamo Detention Camp", "Guantanamo Detention Facility",
             0.80, 0.78),
            # 1: below τ (first pass said no) but containment relation
            #    → MERGE (reference: dispute overrides no-match to merge)
            ("Naval Station Guantanamo Bay", "Naval Station Guantanamo Bay Cuba",
             0.76, 0.78),
            # 2: below τ, names share essentially nothing
            #    → SKIP (reference: dispute overrides match to skip)
            ("Southern Command", "Camp Justice", 0.77, 0.78),
            # 3: above τ but near-zero word overlap, no structural relation
            #    → DEFER, and defer must never merge
            ("Justice Department", "Miami Herald", 0.80, 0.78),
            # 4: below τ with an acronym relation → MERGE
            ("JTFG", "Joint Task Force Guantanamo", 0.75, 0.78),
        ])
        out = {
            r["src"]: (r["decision"], r["arbiter_confidence"])
            for r in arbitrate_review(review).collect()
        }
        assert out["s0"][0] == "merge"
        assert out["s1"][0] == "merge" and out["s1"][1] == 0.95
        assert out["s2"][0] == "skip"
        assert out["s3"][0] == "defer"
        assert out["s4"][0] == "merge" and out["s4"][1] == 0.95

    def test_defer_never_merges_in_pipeline_semantics(self, spark):
        """Only decision == 'merge' rows become clustering edges — the
        defer/skip rows must not leak into the accepted set (reference:
        'defer action should be treated as skip')."""
        from hinbox_spark.operators.linking import arbitrate_review

        review = self._review(spark, [
            ("Justice Department", "Miami Herald", 0.80, 0.78),      # defer
            ("Southern Command", "Camp Justice", 0.77, 0.78),        # skip
        ])
        merges = arbitrate_review(review).filter(F.col("decision") == "merge")
        assert merges.count() == 0
