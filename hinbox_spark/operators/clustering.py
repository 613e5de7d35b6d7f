"""Stage 4: connected components over accepted same-entity edges.

Replaces the reference's order-dependent sequential merge loop
(/root/reference/src/engine/mergers.py:808-1234, single merge actor at
process_and_extract.py:10-17) with order-free iterative label propagation:
every node starts labeled with its own node_id; each round, a node takes the
min label among itself and its neighbors; fixpoint in O(log n) rounds for
typical entity-alias graphs (diameter is tiny). This is the explicit
transitive-closure semantics SURVEY §2 J11 calls for.

Scale design:
- only nodes incident to an edge enter the loop — isolated nodes (the vast
  majority in entity linking) are emitted directly, so per-iteration state
  is proportional to the linked subgraph, not the vocabulary;
- each round is one shuffle on node_id; localCheckpoint() truncates lineage
  (the classic failure of iterative Spark jobs);
- convergence is detected with an order-insensitive label checksum on the
  already-materialized checkpoint (one cheap aggregate; no extra join).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from hinbox_spark.session import local_frame


# below this many edges the linked subgraph is collected and solved with
# driver-side union-find (one job instead of ~10) — the same adaptive
# small-side decision AQE makes for broadcast joins. Above it, the
# distributed label-propagation loop runs.
DRIVER_UNION_FIND_MAX_EDGES = 500_000


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iters: int = 20
) -> DataFrame:
    """nodes(node_id), edges(src, dst) → (node_id, cluster_id).

    cluster_id = min node_id in the component (content hash → deterministic
    across runs and partitionings). Adaptive: small edge sets (bounded by
    DRIVER_UNION_FIND_MAX_EDGES — pair generation already caps per-key
    candidates, so this is the common case) are solved with driver-side
    union-find; larger ones with distributed min-label propagation.
    """
    if edges is None:
        return _driver_union_find(nodes, [])
    # cheap cardinality probe first: limit(N+1).count() moves no row data to
    # the driver; the (bounded) collect happens ONLY when the driver path is
    # actually taken, so choosing the distributed path never materializes
    # rows driver-side
    edges = edges.localCheckpoint(eager=False)  # probe + solve share one plan
    n_edges = edges.limit(DRIVER_UNION_FIND_MAX_EDGES + 1).count()
    if n_edges <= DRIVER_UNION_FIND_MAX_EDGES:
        return _driver_union_find(nodes, edges.collect())
    return _distributed_components(nodes, edges, max_iters)


def _driver_union_find(nodes: DataFrame, pair_rows) -> DataFrame:
    """Union-find over collected edges; only nodes in edges get a mapping
    row — everything else keeps its own id via a broadcast left join.
    Edge endpoints absent from `nodes` are still emitted (the distributed
    path does the same via its isolated-node union), and the mapping
    frame mirrors the caller's node_id type instead of assuming string."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for r in pair_rows:
        a, b = find(r["src"]), find(r["dst"])
        if a != b:
            # min root wins → same labels as min-label propagation
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo

    # every node union-find ever saw, not just dict keys (a root that was
    # never a child has no parent entry but IS an edge endpoint)
    seen = set(parent)
    for r in pair_rows:
        seen.add(r["src"])
        seen.add(r["dst"])
    mapping = [(x, find(x)) for x in seen]
    spark = nodes.sparkSession
    if not mapping:
        return nodes.select("node_id", F.col("node_id").alias("cluster_id"))
    from pyspark.sql.types import StructField, StructType

    id_type = nodes.schema["node_id"].dataType
    map_df = local_frame(
        spark,
        mapping,
        StructType(
            [
                StructField("node_id", id_type),
                StructField("cluster_id", id_type),
            ]
        ),
    )
    labeled = nodes.join(F.broadcast(map_df), "node_id", "left").select(
        "node_id",
        F.coalesce("cluster_id", "node_id").alias("cluster_id"),
    )
    # edge endpoints missing from `nodes` — same row set as the
    # distributed path's labels ∪ isolated. (No broadcast hint: an anti
    # join can only broadcast its right side, and `nodes` may be huge;
    # the left side here is the bounded mapping frame.)
    extra = map_df.join(nodes.select("node_id"), "node_id", "left_anti")
    return labeled.unionByName(extra)


def _distributed_components(
    nodes: DataFrame, edges: DataFrame, max_iters: int = 20
) -> DataFrame:
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)
    )

    edge_nodes = (
        sym.select(F.col("a").alias("node_id")).dropDuplicates(["node_id"])
    )
    isolated = nodes.join(edge_nodes, "node_id", "left_anti").select(
        "node_id", F.col("node_id").alias("cluster_id")
    )

    labels = edge_nodes.select("node_id", F.col("node_id").alias("cluster_id"))
    labels = labels.localCheckpoint(eager=True)
    prev_sig = None

    for _ in range(max_iters):
        neighbor_labels = (
            sym.join(labels, sym.a == labels.node_id)
            .select(F.col("b").alias("node_id"), "cluster_id")
        )
        stepped = (
            labels.unionByName(neighbor_labels)
            .groupBy("node_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        # pointer jumping (path doubling): follow the label's own label so a
        # chain of length L converges in O(log L) rounds, not O(L) — labels
        # are always node ids, so the self-join resolves
        parents = stepped.select(
            F.col("node_id").alias("cluster_id"),
            F.col("cluster_id").alias("grand"),
        )
        new_labels = (
            stepped.join(parents, "cluster_id", "left")
            .select(
                "node_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("grand", "cluster_id")
                ).alias("cluster_id"),
            )
        )
        labels = new_labels.localCheckpoint(eager=True)
        sig = labels.agg(
            F.sum(
                F.xxhash64("node_id", "cluster_id").cast("decimal(28,0)")
            ).alias("s")
        ).first()["s"]
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        # exhausting max_iters without hitting the checksum fixpoint means
        # some component's labels are still inconsistent — silently
        # returning them would split entities downstream with no signal
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            "raise max_iters (min-label + pointer jumping needs "
            "O(log diameter) rounds)"
        )

    return labels.unionByName(isolated)


def pairwise_cluster_quality(
    assign: DataFrame, pred_col: str = "pred", gold_col: str = "gold"
) -> DataFrame:
    """Pairwise precision/recall/F1 of a predicted clustering against gold
    labels — the standard entity-resolution / dedup evaluation, computed
    at corpus scale from the contingency table (never by materializing
    item pairs, which is Σ n² rows).

    TP = Σ_ij C(n_ij, 2) over the (pred, gold) contingency cells;
    predicted pairs = Σ_i C(n_i·, 2); gold pairs = Σ_j C(n_·j, 2).
    precision = TP/pred_pairs, recall = TP/gold_pairs, and F1 simplifies
    to 2·TP/(pred_pairs + gold_pairs) — each a SINGLE IEEE division of
    two exact integers, so the result is bit-identical across engines
    (the pair counts use integer `div`, exact up to 2⁶³ where a double
    sum would lose precision past 2⁵³).

    Scale shape: one groupBy(pred, gold) shuffle with map-side combine
    (cells ≤ distinct pred × gold actually co-occurring), then three
    single-row scalar aggregates over cell counts — no pair rows, no
    collect. Returns one row:
    (n_items, tp_pairs, pred_pairs, gold_pairs, precision, recall, f1).

    Rows with a NULL pred or gold are UNASSIGNED and excluded — the same
    population rule as b3_cluster_quality, so the two metrics always
    describe the same item set."""
    assign = assign.filter(
        F.col(pred_col).isNotNull() & F.col(gold_col).isNotNull()
    )
    cont = assign.groupBy(pred_col, gold_col).agg(F.count("*").alias("n"))
    cells = cont.select(
        F.col("n"),
        F.expr("n * (n - 1) div 2").alias("tp_part"),
    )
    per_pred = (
        cont.groupBy(pred_col)
        .agg(F.sum("n").alias("np"))
        .select(F.expr("np * (np - 1) div 2").alias("pp_part"))
    )
    per_gold = (
        cont.groupBy(gold_col)
        .agg(F.sum("n").alias("ng"))
        .select(F.expr("ng * (ng - 1) div 2").alias("gp_part"))
    )
    scalars = (
        cells.agg(
            F.sum("n").alias("n_items"), F.sum("tp_part").alias("tp_pairs")
        )
        .crossJoin(per_pred.agg(F.sum("pp_part").alias("pred_pairs")))
        .crossJoin(per_gold.agg(F.sum("gp_part").alias("gold_pairs")))
    )
    return scalars.select(
        "n_items",
        "tp_pairs",
        "pred_pairs",
        "gold_pairs",
        (F.col("tp_pairs") / F.col("pred_pairs").cast("double")).alias(
            "precision"
        ),
        (F.col("tp_pairs") / F.col("gold_pairs").cast("double")).alias(
            "recall"
        ),
        (
            (F.lit(2) * F.col("tp_pairs"))
            / (F.col("pred_pairs") + F.col("gold_pairs")).cast("double")
        ).alias("f1"),
    )


def b3_cluster_quality(
    assign: DataFrame, pred_col: str = "pred", gold_col: str = "gold"
) -> DataFrame:
    """B-cubed precision/recall/F1 — the per-ITEM clustering metric (each
    item scores |its pred cluster ∩ its gold class| over its cluster /
    class size; the corpus score is the mean). Less pair-count-dominated
    than pairwise P/R on skewed cluster sizes, which is why ER papers
    report both.

    Same contingency-table shape as pairwise_cluster_quality: B³
    precision = (1/N) Σ_ij n_ij²/n_i·, recall = (1/N) Σ_ij n_ij²/n_·j —
    one groupBy shuffle, two broadcast joins of per-cluster/per-class
    sizes onto the cells, one scalar aggregate. Floating sums over cells
    are order-dependent in the last ulp, so this is pytest-pinned vs an
    independent reference rather than hash-oracled.

    Rows with a NULL pred or gold are UNASSIGNED and excluded (explicitly,
    not as a side effect of the equi-joins) — the same population rule as
    pairwise_cluster_quality."""
    assign = assign.filter(
        F.col(pred_col).isNotNull() & F.col(gold_col).isNotNull()
    )
    cont = assign.groupBy(pred_col, gold_col).agg(F.count("*").alias("n"))
    sizes_p = cont.groupBy(pred_col).agg(F.sum("n").alias("np"))
    sizes_g = cont.groupBy(gold_col).agg(F.sum("n").alias("ng"))
    cells = cont.join(F.broadcast(sizes_p), pred_col).join(
        F.broadcast(sizes_g), gold_col
    )
    agg = cells.agg(
        F.sum("n").alias("n_items"),
        F.sum(
            F.col("n") * F.col("n") / F.col("np").cast("double")
        ).alias("p_sum"),
        F.sum(
            F.col("n") * F.col("n") / F.col("ng").cast("double")
        ).alias("r_sum"),
    )
    p = F.col("p_sum") / F.col("n_items")
    r = F.col("r_sum") / F.col("n_items")
    return agg.select(
        "n_items",
        p.alias("b3_precision"),
        r.alias("b3_recall"),
        (2 * p * r / (p + r)).alias("b3_f1"),
    )
