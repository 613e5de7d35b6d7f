"""Stage 1-2: pages → articles → typed mentions (Spark operators).

Spark-first design: the only Python work is the per-document HTML parse and
the NER span scan, both inherently per-row; they run inside vectorized
pandas UDFs / mapInPandas so batches move over Arrow. Everything relational
(filters, dedup, QC flags, metrics) is JVM-side column expressions so
Catalyst keeps pushdown/pruning/codegen.

Reference parity:
- text extraction T1 (scripts/get_miami_herald_articles.py:219-249),
- empty-content filter F3 (src/process_and_extract.py:567-569),
- extraction QC X4: required fields, NFC normalization, within-article
  exact-key dedup (src/utils/quality_controls.py:218-306),
- within-article variant collapse X5 (quality_controls.py:127-215),
- mention-in-text validation F5 (quality_controls.py:323-425).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BooleanType, StringType, StructField, StructType,
)

from hinbox_spark.functions.html_text import extract_series
from hinbox_spark.functions.names import (
    names_likely_same, normalize_display, normalize_for_match,
    score_canonical_name,
)
from hinbox_spark.functions.ner import Gazetteer, extract_mentions_from_text
from hinbox_spark.session import local_frame

_EXTRACT_SCHEMA = StructType(
    [StructField("title", StringType()), StructField("text", StringType())]
)

MENTION_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("entity_type", StringType(), False),
        StructField("name", StringType(), False),
        StructField("type", StringType(), True),
        StructField("description", StringType(), True),
        StructField("start_date", StringType(), True),
        StructField("end_date", StringType(), True),
        StructField("is_fuzzy_date", BooleanType(), True),
        StructField("aliases", ArrayType(StringType()), True),
        # persisted once here so no downstream stage re-runs the Python
        # normalize_for_match UDF over every mention row (linking joins on
        # it three times — with the column persisted those are JVM-only)
        StructField("match_key", StringType(), True),
    ]
)


def extract_articles(pages: DataFrame, lang: str = "en") -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → articles(url, warc_ts, title,
    text, content_hash).

    Split-union plan: rows with a pre-extracted non-empty `text` column
    never pay the full DOM build — they take a streaming title-only scan
    (early exit at the first </h1>); only rows with empty text run the
    byte-identical full-extraction UDF over `html`. On a corpus with
    pre-extracted text this removes ~100% of the parse cost (the reference
    pipeline likewise consumes already-extracted articles and never
    re-parses — src/process_and_extract.py reads title/content columns).
    The lang filter and the empty-content filter (F3) are JVM-side and push
    down to the scan.
    """
    from hinbox_spark.functions.html_text import extract_title_series

    @F.pandas_udf(_EXTRACT_SCHEMA)
    def _extract(html: pd.Series) -> pd.DataFrame:
        return extract_series(html)

    @F.pandas_udf(StringType())
    def _title_only(html: pd.Series) -> pd.Series:
        return extract_title_series(html)

    in_lang = pages.filter(F.col("lang") == lang)
    # null text must land in the parse branch, not vanish from both
    has_text = F.coalesce(F.length(F.trim(F.col("text"))) > 0, F.lit(False))

    pre_extracted = in_lang.filter(has_text).select(
        "url", "warc_ts", "text", _title_only(F.col("html")).alias("title")
    )
    parsed = (
        in_lang.filter(~has_text)
        .withColumn("_ex", _extract(F.col("html")))
        .select(
            "url",
            "warc_ts",
            F.col("_ex.text").alias("text"),
            F.col("_ex.title").alias("title"),
        )
        .filter(F.length(F.trim(F.col("text"))) > 0)
    )
    return pre_extracted.unionByName(parsed).withColumn(
        "content_hash", F.sha2(F.col("text"), 256)
    )


def scrub_articles(articles: DataFrame, cfg) -> DataFrame:
    """Opt-in PII scrub (cfg.scrub_pii): redact article text BEFORE
    anything persists or hashes, and rehash content_hash so the
    dedup/cache/skip identity is the hash of the PUBLISHED text.
    Identity when the flag is off (the default) — the byte-identical
    extraction invariant vs the reference holds only on unscrubbed
    text. Shared by the batch pipeline, incremental mode, and (via
    run_incremental) streaming KG ingest, so a scrub-enabled domain
    scrubs identically in every mode. One codegen'd projection."""
    if not getattr(cfg, "scrub_pii", False):
        return articles
    from hinbox_spark.functions.pii import redact_pii

    return articles.withColumn("text", redact_pii(F.col("text"))).withColumn(
        "content_hash", F.sha2(F.col("text"), 256)
    )


def relevance_predicate(keywords: tuple[str, ...] | list[str]) -> F.Column:
    """F4: explicit domain-relevance predicate — true iff the article text
    contains any domain surface form on WORD BOUNDARIES (a bare substring
    scan would fire "UN" inside "sunny" or "ICE" inside "justice").
    Both sides are normalized the same way (lowercase, non-alnum → space),
    then matched as padded token phrases. Deterministic analog of the
    reference's LLM relevance check (src/engine/relevance.py:12-61); pure
    JVM column expressions, so it stays inside whole-stage codegen."""
    import re

    norm_keys = sorted(
        {" " + re.sub(r"[^a-z0-9]+", " ", k.lower()).strip() + " " for k in keywords}
    )
    if not norm_keys:
        # no keywords configured (domain with relevance_check: false) → no
        # filter; an empty F.array would mark EVERY article irrelevant
        return F.lit(True)
    norm_text = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "),
        F.lit(" "),
    )
    return F.exists(
        F.array(*[F.lit(k) for k in norm_keys]),
        lambda k: F.instr(norm_text, k) > 0,
    )


def skip_reason_summary(
    pages: DataFrame,
    articles: DataFrame,
    mentions: DataFrame,
    keywords: tuple[str, ...] | list[str],
    lang: str = "en",
) -> DataFrame:
    """A2: per-reason skip counters mirroring the reference's processing
    summary (src/process_and_extract.py:365-407). Returns a LAZY
    DataFrame(reason, n) — all counts are aggregates unioned into one job:

      wrong_lang      page dropped by the language filter
      empty_content   in-language page with no extractable text (F3)
      not_relevant    extracted article failing the relevance predicate (F4)
      no_mentions     relevant article yielding zero validated mentions
      processed       articles contributing at least one mention
    """

    def _count(df: DataFrame, reason: str) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(
            F.lit(reason).alias("reason"), "n"
        )

    # use the stamped is_relevant column when the articles table carries it
    # (run_pipeline stamps it at the stage-1 write) — re-running the
    # keyword scan here would cost two extra full-text passes
    rel = (
        F.col("is_relevant")
        if "is_relevant" in articles.columns
        else relevance_predicate(keywords)
    )
    # null-safe: a null-lang page is neither == lang nor != lang under SQL
    # three-valued logic, so a plain != would drop it from EVERY bucket and
    # the counters would no longer partition the input page set
    wrong_lang = pages.filter(~F.col("lang").eqNullSafe(lang))
    in_lang_pages = pages.filter(F.col("lang").eqNullSafe(lang)).select("url")
    empty_content = in_lang_pages.join(
        articles.select("url"), "url", "left_anti"
    )
    not_relevant = articles.filter(~rel)
    relevant = articles.filter(rel).select("url")
    mentioned = mentions.select("url").distinct()
    no_mentions = relevant.join(mentioned, "url", "left_anti")
    processed = relevant.join(mentioned, "url", "inner")

    return (
        _count(wrong_lang, "wrong_lang")
        .unionByName(_count(empty_content, "empty_content"))
        .unionByName(_count(not_relevant, "not_relevant"))
        .unionByName(_count(no_mentions, "no_mentions"))
        .unionByName(_count(processed, "processed"))
    )


# MENTION_SCHEMA + the article-level QC flag channel: mention rows carry
# qc_flag = null; flag rows carry (url, entity_type, qc_flag) with empty
# payload columns. One mapInPandas pass produces both.
MENTION_QC_SCHEMA = StructType(
    list(MENTION_SCHEMA.fields) + [StructField("qc_flag", StringType(), True)]
)

_FLAG_ROW_DEFAULTS = {
    "name": "", "type": "", "description": "", "start_date": "",
    "end_date": "", "is_fuzzy_date": False, "aliases": [], "match_key": "",
}


def extract_mentions_with_flags(
    articles: DataFrame, gazetteer: Gazetteer
) -> DataFrame:
    """articles → validated typed mentions PLUS per-(url, entity_type)
    extraction-QC flag rows (X3: the reference's ExtractionQCReport flags
    high_drop_rate / many_duplicates / many_low_quality_names,
    quality_controls.py:83-91,289-306 — kept as metrics, not data).

    mapInPandas (not explode-of-UDF-array) so the cardinality change happens
    inside the Arrow batch without materializing nested arrays. Within-article
    QC (X4 exact dedup + X5 variant collapse) runs in the same pass — it is
    intra-document work, so it costs no shuffle — and the flag rows ride the
    same output batch (a handful per million articles; no extra pass).
    """
    gaz_lookup = gazetteer.lookup  # plain dict → serialized into the closure

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz = Gazetteer()
        gaz.lookup = gaz_lookup
        for pdf in batches:
            rows: list[dict] = []
            for url, text in zip(pdf["url"], pdf["text"]):
                raw = extract_mentions_from_text(text or "", gaz)
                flags: list[tuple[str, str]] = []
                for m in _qc_article(url, text or "", raw, flags_out=flags):
                    m["qc_flag"] = None
                    rows.append(m)
                for etype, flag in flags:
                    rows.append(
                        {**_FLAG_ROW_DEFAULTS, "url": url,
                         "entity_type": etype, "qc_flag": flag}
                    )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in MENTION_QC_SCHEMA.fields],
            )

    return articles.mapInPandas(_scan, MENTION_QC_SCHEMA)


def extract_mentions(articles: DataFrame, gazetteer: Gazetteer) -> DataFrame:
    """articles → mentions only (the QC flag rows filtered out) — the
    stable contract for consumers that don't surface metrics."""
    return (
        extract_mentions_with_flags(articles, gazetteer)
        .filter(F.col("qc_flag").isNull())
        .drop("qc_flag")
    )


# Bump to invalidate the extraction cache (S8 parity). v3: MENTION_SCHEMA
# gained match_key; v4: cache rows gained the qc_flag channel — each version
# lives in its own subdirectory, so a schema change can never mix old and
# new parquet files in one read.
EXTRACTOR_VERSION = 4


def _cache_version_dir(cache_path: str, version: int) -> str:
    return cache_path.rstrip("/") + f"/v{version}"


def _committed_batch_dirs(spark, version_dir: str) -> list[str]:
    """Batch directories that finished their commit (_SUCCESS present) and
    actually contain data files. A run killed mid-write leaves a batch dir
    without _SUCCESS — invisible here, so its hashes are simply re-extracted
    next run (exactly-once mentions per hash, never partial rows)."""
    from hinbox_spark import fs as hfs

    return [
        d
        for d in hfs.list_dirs(spark, version_dir)
        if hfs.exists(spark, d + "/_SUCCESS") and hfs.has_part_files(spark, d)
    ]


# mention identity inside the cache: duplicate keys across batches carry
# identical rows (extraction is deterministic), so reads collapse on this.
# qc_flag is part of the identity: flag rows of one article share the
# payload-empty shape and differ only in the flag itself.
_CACHE_IDENTITY = [
    "content_hash", "entity_type", "name", "type", "start_date", "qc_flag"
]


def read_extraction_cache(spark, cache_path: str, version: int) -> DataFrame | None:
    """Read the committed cache rows for one extractor version, or None if
    the version has no committed batches. Concurrent writers can commit the
    same hash twice; dropDuplicates on the mention identity collapses that
    (extraction is deterministic, so duplicate keys carry identical rows)."""
    dirs = _committed_batch_dirs(spark, _cache_version_dir(cache_path, version))
    if not dirs:
        return None
    df = spark.read.parquet(*dirs)
    # pre-v4 versions lack qc_flag; dedup on the identity cols present
    return df.dropDuplicates([c for c in _CACHE_IDENTITY if c in df.columns])


def compact_extraction_cache(
    spark, cache_path: str, version: int = EXTRACTOR_VERSION
) -> int:
    """Fold every committed batch of one version into a single batch
    (SnapshotTable.compact is the pattern): read cost is O(batch dirs) per
    run, so a long-lived cache under nightly appends wants periodic
    folding. Crash-safe ordering — the folded batch commits first (its own
    dir + _SUCCESS), the superseded dirs are deleted after; a crash
    between the two steps leaves duplicate rows across batches, which
    read_extraction_cache already collapses on the mention identity.
    Uncommitted (in-flight/orphan) dirs are left alone — a concurrent
    writer may still be appending to one. Returns the number of batch
    dirs folded (0 = nothing to do)."""
    import uuid

    from hinbox_spark import fs as hfs

    version_dir = _cache_version_dir(cache_path, version)
    dirs = _committed_batch_dirs(spark, version_dir)
    if len(dirs) <= 1:
        return 0
    raw = spark.read.parquet(*dirs)
    folded = raw.dropDuplicates([c for c in _CACHE_IDENTITY if c in raw.columns])
    new_batch = version_dir + "/batch-" + uuid.uuid4().hex
    folded.write.mode("overwrite").parquet(new_batch)
    for d in dirs:
        hfs.delete(spark, d, recursive=True)
    return len(dirs)


def extract_mentions_cached(
    articles: DataFrame,
    gazetteer: Gazetteer,
    cache_path: str,
    version: int = EXTRACTOR_VERSION,
    stats_out: dict | None = None,
) -> DataFrame:
    """S8: extraction sidecar cache re-expressed as a table.

    The reference caches per-article LLM extractions in sharded JSON files
    keyed by sha256 of every output-affecting input
    (src/utils/extraction_cache.py:88-157). Here the key is
    (content_hash, extractor_version): mention rows are stored
    url-independent and re-attached by hash, so N duplicate pages cost one
    extraction. Flow: left-anti join articles→cache = misses; extract
    misses; commit them as a new cache batch; hits come straight from the
    cache join. Returns the MENTION_QC_SCHEMA shape (mention rows with
    qc_flag = null plus the article-level QC flag rows) — filter
    `qc_flag IS NULL` for mentions only.

    Layout = `{cache_path}/v{version}/batch-{id}/` (reference version-dir
    scheme, src/utils/extraction_cache.py): each version has its own
    subdirectory so a schema change between versions can never poison a
    mixed read, and each run's new rows are a separately-committed parquet
    directory — a crash mid-write leaves an uncommitted batch (no
    _SUCCESS) that the next read ignores, so cache rows are exactly-once
    per hash, never partial.
    """
    spark = articles.sparkSession
    mention_cols = [f.name for f in MENTION_QC_SCHEMA.fields if f.name != "url"]

    # Hadoop FS API underneath: the cache may live on hdfs:/s3a:/file:
    cache = read_extraction_cache(spark, cache_path, version)

    # one representative article per distinct content_hash is extracted
    distinct_content = articles.dropDuplicates(["content_hash"]).select(
        "url", "text", "content_hash"
    )
    if cache is not None:
        misses = distinct_content.join(
            cache.select("content_hash").distinct(), "content_hash", "left_anti"
        )
    else:
        misses = distinct_content

    n_misses: int | None = None
    if stats_out is not None:
        # A10 parity: surfaced hit/miss counters (reference logs cache
        # stats per run — src/utils/extraction_cache.py). Two count jobs,
        # each one column-pruned pass — only run when stats are requested.
        n_distinct = distinct_content.count()
        n_misses = misses.count()
        stats_out["distinct_hashes"] = n_distinct
        stats_out["misses"] = n_misses
        stats_out["hits"] = n_distinct - n_misses

    # a fully-cached rerun has nothing to commit: writing an (empty) batch
    # dir every run would grow garbage dirs unboundedly and the read side
    # lists/opens every batch dir — O(runs) cost. Reuse the stats count
    # when available, else one cheap limit-1 probe on the anti-join.
    has_misses = n_misses > 0 if n_misses is not None else not misses.isEmpty()
    if has_misses:
        new_rows = (
            extract_mentions_with_flags(misses, gazetteer)
            .join(misses.select("url", "content_hash"), "url")
            .select("content_hash", *mention_cols)
            .withColumn("extractor_version", F.lit(version))
        )
        # crash-safe commit: the batch directory only becomes visible to
        # readers once its _SUCCESS marker lands (last step of the parquet
        # commit) — a killed run's half-written batch is ignored, not merged
        import uuid

        batch_path = (
            _cache_version_dir(cache_path, version) + "/batch-" + uuid.uuid4().hex
        )
        new_rows.write.mode("overwrite").parquet(batch_path)

    cache_all = read_extraction_cache(spark, cache_path, version)
    if cache_all is None:  # corpus yielded zero mentions → nothing committed
        return local_frame(spark, [], MENTION_QC_SCHEMA)
    # re-attach urls: every article (incl. duplicates) gets the mentions of
    # its content hash
    return articles.select("url", "content_hash").join(
        cache_all, "content_hash"
    ).select("url", *mention_cols)


def _qc_article(
    url: str, text: str, raw: list[dict], flags_out: list | None = None
) -> list[dict]:
    """Within-article QC: required fields, NFC normalize, exact-key dedup,
    variant collapse, mention-in-text validation (X4/X5/F5).

    When `flags_out` is given, the reference's per-batch ExtractionQCReport
    flags (quality_controls.py:83-91,289-306) are appended to it as
    (entity_type, flag) tuples:
      high_drop_rate          — required-field drops > 50% of the type's
                                raw extractions (and > 2 extracted)
      many_duplicates         — exact-key dedups + collapsed variants >
                                50% of the type's raw extractions (> 2)
      many_low_quality_names  — ≥ 2 surviving entities of the type have a
                                generic/descriptive name
    """
    from collections import Counter

    out: list[dict] = []
    seen: set[tuple] = set()
    input_n: Counter = Counter()    # raw extractions per type
    dropped_req: Counter = Counter()
    deduped: Counter = Counter()    # exact-key dups + collapsed variants
    # F5 compares the whitespace-normalized name, so normalize the text the
    # same way before the containment check
    flat_text = " ".join(text.split()).lower()

    required = {
        "people": ("name",),
        "organizations": ("name",),
        "locations": ("name",),
        "events": ("name", "description", "type", "start_date"),
    }

    for m in raw:
        etype = m["entity_type"]
        input_n[etype] += 1
        # required-field drop (X4a)
        if any(not m.get(f) for f in required.get(etype, ("name",))):
            dropped_req[etype] += 1
            continue
        name = normalize_display(m["name"])
        if not name:
            dropped_req[etype] += 1
            continue
        match_key = normalize_for_match(name)
        # dedup key mirrors the reference identity model (mergers.py:114-139)
        if etype == "people":
            key = (etype, match_key)
        elif etype == "events":
            key = (etype, match_key, m.get("start_date") or "")
        else:
            key = (etype, match_key, m.get("type") or "")
        if key in seen:
            deduped[etype] += 1
            continue
        seen.add(key)
        # F5: hallucination guard — the surface must appear in the text
        if name.lower() not in flat_text:
            continue
        out.append(
            {
                "url": url,
                "entity_type": etype,
                "name": name,
                "type": m.get("type") or "",
                "description": m.get("description") or "",
                "start_date": m.get("start_date") or "",
                "end_date": m.get("end_date") or "",
                "is_fuzzy_date": bool(m.get("is_fuzzy_date")),
                "aliases": [],
                "match_key": match_key,
            }
        )

    # X5: within-article variant collapse (same entity_type, pairwise
    # names_likely_same; keep higher canonical score, absorb into aliases).
    # n per article is tiny, so the O(n²) is intra-row and shuffle-free.
    collapsed: list[dict] = []
    absorbed: set[int] = set()
    for i in range(len(out)):
        if i in absorbed:
            continue
        keeper = out[i]
        if keeper["entity_type"] in ("organizations", "locations"):
            for j in range(i + 1, len(out)):
                if j in absorbed:
                    continue
                other = out[j]
                if other["entity_type"] != keeper["entity_type"]:
                    continue
                if names_likely_same(
                    keeper["name"], other["name"], keeper["entity_type"]
                ):
                    absorbed.add(j)
                    deduped[keeper["entity_type"]] += 1
                    winner, loser = keeper, other
                    if score_canonical_name(other["name"]) > score_canonical_name(
                        keeper["name"]
                    ):
                        winner, loser = other, keeper
                    winner["aliases"] = sorted(
                        set(winner["aliases"]) | {loser["name"]} | set(loser["aliases"])
                    )
                    keeper = winner
        collapsed.append(keeper)

    if flags_out is not None:
        from hinbox_spark.functions.names import is_low_quality_name

        lowq: Counter = Counter()
        for m in collapsed:
            if is_low_quality_name(m["name"], m["entity_type"]):
                lowq[m["entity_type"]] += 1
        for etype in sorted(input_n):
            n = input_n[etype]
            if dropped_req[etype] > n * 0.5 and n > 2:
                flags_out.append((etype, "high_drop_rate"))
            if deduped[etype] > n * 0.5 and n > 2:
                flags_out.append((etype, "many_duplicates"))
            if lowq[etype] >= 2:
                flags_out.append((etype, "many_low_quality_names"))
    return collapsed
