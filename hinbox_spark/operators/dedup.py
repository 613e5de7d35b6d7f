"""Document deduplication family — the large-scale training-data-pipeline
operators (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine).

All variants follow the same scale shape:
  per-doc signature (vectorized pandas UDF, numpy)
  → explode to blocking keys (bands / chunks / buckets)
  → shuffle on the key, pair up within buckets (self-join, id< to dedup)
  → cheap verify on the blocked pairs only
so the cross-product never materializes; cost is Σ bucket², bounded by a
bucket-size cap with logged truncation (no silent caps).

Deterministic throughout: hash seeds are fixed constants; no RNG at runtime.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# cap on bucket size before pairing; hot buckets are dropped and counted
# (a degenerate shingle — e.g. boilerplate — would otherwise go quadratic)
BUCKET_CAP = 200

_H1 = np.uint64(0x9E3779B97F4A7C15)
_H2 = np.uint64(0xC2B2AE3D27D4EB4F)
_H3 = np.uint64(0x165667B19E3779F9)


def over_cap_keys(
    entries: DataFrame, key_cols: list[str], cap, size=None
) -> DataFrame:
    """(*key_cols, bucket_n) of the buckets of `entries` holding more than
    `cap` — the over-cap key set `capped_bucket_entries` broadcasts back as
    a left_anti join. `cap` is an int or a Column over the key columns
    (a per-bucket cap; null leaves the bucket uncapped); `size` is the
    bucket-size aggregate, `count(*)` by default."""
    size = F.count("*") if size is None else size
    counts = entries.groupBy(*key_cols).agg(size.alias("bucket_n"))
    return counts.filter(F.col("bucket_n") > cap)


def capped_bucket_entries(
    entries: DataFrame,
    key_cols: list[str],
    cap: int,
    stats_out: dict | None = None,
    reuse: bool = True,
) -> DataFrame:
    """Drop entries in over-cap buckets WITHOUT funneling any bucket into a
    single task.

    A `count(*) OVER (PARTITION BY bucket)` window would route every row of
    a degenerate mega-bucket (e.g. 10⁹ identical boilerplate signatures at
    10¹² docs) into ONE window task *before* the cap could drop it — the
    exact failure the cap exists to prevent. Instead: bucket sizes come from
    a map-side-combinable groupBy count, and the over-cap key set (small by
    construction: ≤ N/cap keys, and in practice only degenerate signatures)
    is broadcast back as a left_anti join — the big side never shuffles for
    the cap filter, rows are dropped in place. The subsequent pair self-join
    then only ever sees buckets ≤ cap. If over-cap keys were ever too many
    to broadcast, the fallback is a shuffle join with AQE skew splitting —
    but that distribution means the corpus is ~all duplicates and needs
    exact-dedup first.

    `reuse=True` localCheckpoints the entries so the signature computation
    feeding them runs once (the counts job and the main job share blocks);
    pass False when the caller already checkpointed them. `stats_out` gets
    eager {dropped_buckets, dropped_entries} (tests); for lazy accounting
    aggregate the counts DataFrame yourself.
    """
    if reuse:
        entries = entries.localCheckpoint(eager=False)
    over = over_cap_keys(entries, key_cols, cap)
    if stats_out is not None:
        row = over.agg(
            F.count("*").alias("b"), F.sum("bucket_n").alias("e")
        ).first()
        stats_out["dropped_buckets"] = row["b"] or 0
        stats_out["dropped_entries"] = row["e"] or 0
    return entries.join(F.broadcast(over.select(*key_cols)), key_cols, "left_anti")


def _hash_tokens_u64(tokens: list[str]) -> np.ndarray:
    """Deterministic 64-bit hashes of strings (FNV-1a, numpy-friendly)."""
    out = np.empty(len(tokens), dtype=np.uint64)
    for i, t in enumerate(tokens):
        h = np.uint64(0xCBF29CE484222325)
        for b in t.encode("utf-8"):
            h = np.uint64((int(h) ^ b) * 0x100000001B3 & 0xFFFFFFFFFFFFFFFF)
        out[i] = h
    return out


def _shingle_hashes(text: str, k: int = 3) -> np.ndarray:
    """Hashes of word k-shingles (rolling combine of token hashes)."""
    toks = (text or "").lower().split()
    if len(toks) < k:
        return _hash_tokens_u64([" ".join(toks)]) if toks else np.array([], dtype=np.uint64)
    th = _hash_tokens_u64(toks)
    with np.errstate(over="ignore"):
        sh = th[: len(th) - k + 1] * _H1
        for j in range(1, k):
            sh = sh + th[j : len(th) - k + 1 + j] * (_H2 if j % 2 else _H3)
        sh ^= sh >> np.uint64(31)
        sh *= _H1
    return np.unique(sh)


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """U-family: hash-groupBy exact dedup → (content_hash, n_docs, keeper)."""
    return (
        docs.withColumn("content_hash", F.sha2(F.col(text_col), 256))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def _minhash_signature(text: str, n_hashes: int, k: int) -> list[int]:
    sh = _shingle_hashes(text, k)
    if sh.size == 0:
        return [0] * n_hashes
    # n permutations via affine reuse of one hash set: h_i = a_i*x + b_i
    a = (np.arange(1, n_hashes + 1, dtype=np.uint64) * np.uint64(2) + np.uint64(1)) * _H1
    b = np.arange(n_hashes, dtype=np.uint64) * _H2
    with np.errstate(over="ignore"):
        m = (sh[None, :] * a[:, None] + b[:, None]).min(axis=1)
    # int64 view for Spark LongType
    return m.astype(np.int64).tolist()


def minhash_near_duplicates(
    docs: DataFrame,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.7,
    text_col: str = "text",
    stats_out: dict | None = None,
) -> DataFrame:
    """MinHash + LSH banding: shingle → minhash → band → bucket-join →
    verify with exact shingle Jaccard on blocked pairs only.

    With 64 hashes / 16 bands (4 rows per band) the LSH S-curve catches
    pairs above ~0.7 Jaccard with high probability. Returns
    (doc_a, doc_b, jaccard).

    Scale shape: band entries carry ONLY (doc_id, band, bh) through the ×16
    explode/shuffle — document text is re-joined by doc_id for the verify
    stage, so the shuffle never amplifies text bytes. Hot buckets
    (> BUCKET_CAP) are dropped; pass `stats_out` to get the truncation
    counters {"dropped_buckets", "dropped_entries"} (one small aggregate
    job over the id-only band entries — no silent caps).
    """
    rows_per_band = n_hashes // bands

    @F.pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _minhash_signature(t, n_hashes, shingle_k))

    from hinbox_spark.partitioning import spread_for_compute

    # the signature pass is the CPU-heavy Python stage of this operator
    # (1.4 s serial over sf0.1's single-split documents scan, r6
    # measurement) — spread it across the session's cores; no-op at scale
    # where the scan already splits
    texts = spread_for_compute(docs.select("doc_id", text_col), ["doc_id"])
    sigs = texts.withColumn("sig", _sig(F.col(text_col)))

    # id-only band entries: no text rides the ×bands explode/shuffle
    band_entries = sigs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"struct(b AS band, hash(slice(sig, b * {rows_per_band} + 1,"
                f" {rows_per_band})) AS bh))"
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))

    # bucket-size cap with logged truncation (no silent caps); broadcast
    # anti-join, not a window — a mega-bucket never lands in one task
    kept = capped_bucket_entries(
        band_entries, ["band", "bh"], BUCKET_CAP, stats_out=stats_out
    ).localCheckpoint(eager=False)
    # computed once, scanned twice by the self-join (see
    # neighbor_minhash_candidates — same duplicated-subtree finding)

    a, b = kept.alias("a"), kept.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )

    # text re-join for the verify stage only — candidate pairs are a tiny
    # fraction of band entries, so each doc's text moves at most once per
    # surviving pair side instead of ×bands
    cand = cand.join(
        texts.select(F.col("doc_id").alias("doc_a"), F.col(text_col).alias("text_a")),
        "doc_a",
    ).join(
        texts.select(F.col("doc_id").alias("doc_b"), F.col(text_col).alias("text_b")),
        "doc_b",
    )

    @F.pandas_udf("double")
    def _jaccard(ta: pd.Series, tb: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(ta, tb):
            sa, sb = set(_shingle_hashes(x, shingle_k)), set(_shingle_hashes(y, shingle_k))
            out.append(len(sa & sb) / len(sa | sb) if sa or sb else 0.0)
        return pd.Series(out, dtype="float64")

    verified = (
        cand.withColumn("jaccard", F.round(_jaccard("text_a", "text_b"), 4))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


def _simhash64(text: str) -> int:
    """64-bit SimHash over token hashes (unweighted)."""
    toks = (text or "").lower().split()
    if not toks:
        return 0
    th = _hash_tokens_u64(toks)
    bits = ((th[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
        np.int32
    )
    acc = (2 * bits - 1).sum(axis=0)
    out = np.uint64(0)
    for i in range(64):
        if acc[i] > 0:
            out |= np.uint64(1) << np.uint64(i)
    return int(out.astype(np.int64))  # int64 view for Spark


def simhash_near_duplicates(
    docs: DataFrame,
    max_hamming: int = 6,
    text_col: str = "text",
    stats_out: dict | None = None,
) -> DataFrame:
    """SimHash near-dup: 64-bit signature, blocked on 16-bit chunks (a pair
    within hamming ≤ 6 shares at least one of 4 chunks by pigeonhole),
    verified with exact popcount. Returns (doc_a, doc_b, hamming).

    Scale shape: chunk buckets over BUCKET_CAP are dropped via the same
    groupBy-count + broadcast anti-join as MinHash (`capped_bucket_entries`
    — no window, so a mega-bucket never lands in one task). SimHash's
    target corpora (boilerplate-heavy web text) are exactly the ones that
    put millions of near-identical signatures into one 16-bit chunk bucket;
    uncapped that self-join is quadratic. Pass `stats_out` for the
    truncation counters {"dropped_buckets", "dropped_entries"}."""

    @F.pandas_udf("long")
    def _sh(texts: pd.Series) -> pd.Series:
        return texts.map(_simhash64).astype("int64")

    from hinbox_spark.partitioning import spread_for_compute

    # spread the serial signature pass (1.2 s over sf0.1's single-split
    # scan) — same rationale as minhash_near_duplicates above
    sigs = spread_for_compute(docs.select("doc_id", text_col), ["doc_id"]).withColumn(
        "sim", _sh(F.col(text_col))
    )

    chunks = sigs.select(
        "doc_id",
        "sim",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), c -> "
                "struct(c AS chunk, shiftright(sim, c * 16) & 65535 AS ch))"
            )
        ).alias("e"),
    ).select("doc_id", "sim", "e.chunk", "e.ch")

    # bucket cap with logged truncation — mirrors minhash_near_duplicates;
    # the checkpoint inside also makes the signature pass run once for the
    # counts job and the pair join
    chunks = capped_bucket_entries(
        chunks, ["chunk", "ch"], BUCKET_CAP, stats_out=stats_out
    )

    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ch") == F.col("b.ch"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def embedding_cosine_near_duplicates(
    emb: DataFrame, threshold: float = 0.95, broadcast_cap: int = 200_000
) -> DataFrame:
    """Embedding near-dup, brute-force variant (oracle-checkable): all-pairs
    cosine ≥ threshold, EXACT (no candidate misses — the baseline the
    approximate paths in operators/ann.py are measured against).

    Plan shape: distributed-left × broadcast-right block matmul. The right
    side (ids, float64 matrix, norms) is broadcast once; each Arrow batch
    of left rows computes an (m × n) similarity block with one BLAS
    matmul inside `mapInPandas` — vectorized Python, never per-row, and
    ~100× faster than evaluating an interpreted `zip_with`/`aggregate`
    dot per pair in a crossJoin. Only the surviving (vec_a, vec_b, cos)
    triples leave the worker, so shuffle volume is O(matches), not
    O(n²). Above `broadcast_cap` right-side rows the broadcast no longer
    fits and the operator falls back to the JVM crossJoin formulation
    (same results, any scale); at 100 TB use ann.lsh_bucketed_neighbors /
    ivf / pq instead — brute force is the oracle, not the scale path.

    Determinism: norms come from the same JVM-side aggregate as before,
    float32→float64 casts are exact, and the float64 dot differs from a
    sequential sum only in the last ~1e-15, invisible at round(·, 6) —
    rounding itself stays Spark-side (HALF_UP) for bit-parity with the
    DuckDB oracle."""
    n = F.expr(
        "sqrt(aggregate(embedding, 0.0D, (acc,x) -> acc + CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"
    )
    v = emb.select(
        F.col("vec_id"), F.col("embedding"), n.alias("norm")
    ).filter(F.col("norm") > 0)
    if v.count() > broadcast_cap:
        return _embedding_cosine_crossjoin(v, threshold)

    import numpy as np

    rows = v.collect()  # bounded by broadcast_cap, checked above
    r_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    r_mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    r_norm = np.array([r["norm"] for r in rows], dtype=np.float64)
    bc = v.sparkSession.sparkContext.broadcast((r_ids, r_mat, r_norm))

    def blocks(batches):
        import numpy as _np
        import pandas as _pd

        ids_b, mat_b, norm_b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_a = pdf["vec_id"].to_numpy(dtype=_np.int64)
            mat_a = _np.array(pdf["embedding"].tolist(), dtype=_np.float64)
            sims = (mat_a @ mat_b.T) / _np.outer(
                pdf["norm"].to_numpy(dtype=_np.float64), norm_b
            )
            keep = (sims >= threshold) & (ids_a[:, None] < ids_b[None, :])
            ai, bi = _np.nonzero(keep)
            yield _pd.DataFrame(
                {
                    "vec_a": ids_a[ai],
                    "vec_b": ids_b[bi],
                    "cos": sims[ai, bi],
                }
            )

    out = v.mapInPandas(blocks, "vec_a long, vec_b long, cos double")
    return out.select(
        "vec_a", "vec_b", F.round("cos", 6).alias("cos_sim")
    )


def _embedding_cosine_crossjoin(v: DataFrame, threshold: float) -> DataFrame:
    """JVM crossJoin fallback for embedding_cosine_near_duplicates when the
    right side exceeds the broadcast cap: zip_with/aggregate dot product,
    correct at any scale (no driver collect), ~100× slower per pair."""
    a = v.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
    )
    dot = F.expr(
        "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE)*CAST(y AS DOUBLE)),"
        " 0.0D, (acc, x) -> acc + x)"
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cos_sim"))
    )


def neighbor_minhash_band_entries(
    edges: DataFrame,
    key_col: str,
    item_col: str,
    n_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """(key, band, bh) LSH band entries over neighbor-set MinHash
    signatures — the pre-cap half of neighbor_minhash_candidates, split
    out so its plan shape (map-side-combinable JVM min(xxhash64)
    aggregates, no Python) stays directly assertable now that the
    candidate path checkpoints before the bucket self-join."""
    rows_per_band = n_hashes // bands
    mins = [
        F.min(F.xxhash64(F.col(item_col), F.lit(i))).alias(f"_h{i}")
        for i in range(n_hashes)
    ]
    sigs = (
        edges.groupBy(key_col)
        .agg(*mins)
        .select(
            F.col(key_col).alias("key"),
            F.array(*[f"_h{i}" for i in range(n_hashes)]).alias("sig"),
        )
    )
    return sigs.select(
        "key",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"struct(b AS band, hash(slice(sig, b * {rows_per_band} + 1,"
                f" {rows_per_band})) AS bh))"
            )
        ).alias("e"),
    ).select("key", F.col("e.band").alias("band"), F.col("e.bh").alias("bh"))


def neighbor_minhash_candidates(
    edges: DataFrame,
    key_col: str,
    item_col: str,
    n_hashes: int = 32,
    bands: int = 16,
    cap: int = BUCKET_CAP,
    stats_out: dict | None = None,
    reuse: bool = True,
) -> DataFrame:
    """Set-MinHash + LSH banding over NEIGHBOR SETS: candidate (key_a,
    key_b) pairs whose item sets are likely similar, without the
    per-item self-join's Σ deg² blowup. Unlike the text MinHash above
    (shingling needs Python), a set signature is pure JVM arithmetic:
    h_i(key) = min over the key's items of xxhash64(item, i), which is a
    map-side-combinable groupBy min — the signature job shuffles one
    n_hashes-long row per key, never the edge list. Banding, bucket
    capping (broadcast anti-join, logged truncation) and the id-only
    pair self-join are the same scale shapes as minhash_near_duplicates.
    With 32 hashes / 16 bands (2 rows per band) the S-curve catches
    J≥0.5 pairs with ~99% probability. Callers re-rank candidates with
    exact Jaccard — candidates are a tiny fraction of all pairs."""
    band_entries = neighbor_minhash_band_entries(
        edges, key_col, item_col, n_hashes=n_hashes, bands=bands
    )
    kept = capped_bucket_entries(
        band_entries, ["band", "bh"], cap, stats_out=stats_out, reuse=reuse
    ).localCheckpoint(eager=False)
    # ^ the self-join below scans `kept` twice; without the checkpoint the
    # whole signature groupBy (n_hashes xxhash64 mins over every edge) and
    # the cap anti-join are planned — and computed — once PER SIDE
    # (observed in the physical plan as two identical subtrees)
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"))
        .dropDuplicates(["key_a", "key_b"])
    )
