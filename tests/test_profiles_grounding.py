"""Profile + grounding parity (reference tests/test_profile_versioning.py,
test_profile_grounding.py semantics): citation extraction, missing-source
detection, score math, version numbering, QC flags."""

import datetime

import pyspark.sql.functions as F
import pytest

from hinbox_spark.operators.profiles import CITATION_RE, ground_profiles


def test_citation_regex_semantics():
    # mirrors reference CITATION_RE (quality_controls.py:34)
    assert CITATION_RE.findall("Fact one.^[url1] Fact two.^[u2]") == ["url1", "u2"]
    assert CITATION_RE.findall("no citations here") == []
    assert CITATION_RE.findall("bad ^[has space] ok ^[good]") == ["good"]
    assert CITATION_RE.findall("^[a]^[b]") == ["a", "b"]


@pytest.fixture(scope="module")
def grounded(spark):
    profiles = spark.createDataFrame(
        [
            ("e1", ["Acme Corp"],
             "Acme Corp is real.^[u1]\nAlso seen.^[u2]\nGhost claim.^[missing]"),
            ("e2", ["Zeta Org"], "Zeta Org wrote things.^[u1]"),
            ("e3", ["NoCite Inc"], "no citations at all"),
        ],
        "entity_id string, name_variants array<string>, profile_text string",
    )
    articles = spark.createDataFrame(
        [
            ("u1", "this text mentions Acme Corp and Zeta Org today"),
            ("u2", "acme corp appears here in lowercase"),
        ],
        "url string, text string",
    )
    return {r["entity_id"]: r for r in ground_profiles(profiles, articles).collect()}


def test_grounding_score_math(grounded):
    e1 = grounded["e1"]
    # u1 supported, u2 supported (case-insensitive), missing → missing_source
    assert e1["total_claims"] == 3
    assert e1["verified_claims"] == 2
    assert e1["missing_sources"] == 1
    assert abs(e1["grounding_score"] - 2 / 3) < 1e-9


def test_grounding_supported_only(grounded):
    e2 = grounded["e2"]
    assert e2["total_claims"] == 1 and e2["verified_claims"] == 1
    assert e2["grounding_score"] == 1.0


def test_no_citations_no_report(grounded):
    e3 = grounded["e3"]
    # left join: no citation rows → null report columns
    assert e3["total_claims"] is None


def test_pipeline_profile_versions_dense(spark, tmp_path):
    """Version numbering 1..current_version ordered by warc_ts (O6/P3)."""
    from hinbox_spark.pipeline import run_pipeline
    from hinbox_spark.sources.pages_gen import pages_dataframe

    pages, _ = pages_dataframe(spark, 50, 11)
    t = run_pipeline(spark, pages, str(tmp_path / "out"), resume=False)
    rows = t["profiles"].collect()
    assert rows
    for r in rows:
        nums = [v["version_number"] for v in r["versions"]]
        assert nums == list(range(1, r["current_version"] + 1))
        created = [v["created_at"] for v in r["versions"]]
        assert created == sorted(created)
        # QC flags: every profile carries citations by construction
        assert "no_citations" not in (r["qc_flags"] or [])


def test_all_five_support_levels(spark):
    """P6 parity: supported / partial / unclear / not_supported /
    missing_source all reachable (reference SupportLevel enum,
    quality_controls.py:512-517)."""
    profiles = spark.createDataFrame(
        [
            ("s", ["Acme"], "Acme builds rockets daily.^[u1]"),
            ("p", ["Acme"], "Acme unrelated gibberish wording.^[u1]"),
            ("u", ["Ghost"], "rockets fly daily without visible owners anywhere.^[u1]"),
            ("n", ["Ghost"], "entirely absent wording everywhere.^[u1]"),
            ("m", ["Acme"], "Anything at all.^[gone]"),
        ],
        "entity_id string, name_variants array<string>, profile_text string",
    )
    articles = spark.createDataFrame(
        [("u1", "Acme builds rockets and launches them daily from the pad")],
        "url string, text string",
    )
    rows = {r["entity_id"]: r for r in ground_profiles(profiles, articles).collect()}

    assert rows["s"]["supported_claims"] == 1
    assert rows["p"]["partial_claims"] == 1          # variant yes, overlap low
    assert rows["u"]["unclear_claims"] == 1          # no variant, mid overlap
    assert rows["n"]["unsupported_claims"] == 1
    assert rows["m"]["missing_sources"] == 1

    # reference score math: verified = supported + partial
    assert rows["s"]["grounding_passed"] is True
    assert rows["n"]["grounding_passed"] is False
    assert "unsupported_claims" in rows["n"]["grounding_flags"]
    assert "missing_sources" in rows["m"]["grounding_flags"]


def test_profile_fold_runs_once_per_cluster(spark, tmp_path, monkeypatch):
    """The grounding report consumes the assembled profiles twice, from two
    independent stages; the fold under them must be materialized once, so
    `_assemble` runs exactly once per cluster."""
    from hinbox_spark.operators import profiles as prof
    from hinbox_spark.pipeline import run_pipeline
    from hinbox_spark.sources.pages_gen import pages_dataframe

    calls = spark.sparkContext.accumulator(0)
    real = prof._assemble

    def counted(key, pdf):
        calls.add(1)
        return real(key, pdf)

    monkeypatch.setattr(prof, "_assemble", counted)
    pages, _ = pages_dataframe(spark, 30, 5)
    t = run_pipeline(spark, pages, str(tmp_path / "out"), resume=False)
    n = t["profiles"].count()
    assert n > 0 and calls.value == n
