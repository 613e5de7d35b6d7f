"""Output checks: mention P/R/F1, pairwise cluster F1, and an
order-insensitive digest of the entity and edge tables.

Only the scoring of cluster quality runs on Spark (through the program's own
``clustering.pairwise_cluster_quality``); everything else here is plain
Python so the tests can exercise it without a session.
"""

from __future__ import annotations

import hashlib
import json

from hinbox_spark.functions.names import normalize_for_match

# the paper's north rule asks mention P/R of at least 0.95; the cluster
# floor is a sanity bound (gross over- or under-merging), since stock
# location variants that the linker leaves split already cost a few points
MENTION_F1_FLOOR = 0.95
CLUSTER_F1_FLOOR = 0.90


def mention_keys(rows) -> set[tuple[str, str, str]]:
    """Predicted mention rows (url, entity_type, name, aliases) → match keys.

    Within-article variant collapse moves a short form into the keeper's
    aliases, so aliases count as mentions of the same article.
    """
    keys = set()
    for url, etype, name, aliases in rows:
        for s in [name, *(aliases or [])]:
            keys.add((url, etype, normalize_for_match(s)))
    return keys


def gold_keys(gold) -> set[tuple[str, str, str]]:
    """Gold rows (url, entity_type, surface, canonical) → match keys."""
    return {(u, t, normalize_for_match(s)) for u, t, s, _ in gold}


def prf(pred: set, gold: set) -> tuple[float, float, float]:
    tp = len(pred & gold)
    p = tp / len(pred) if pred else 0.0
    r = tp / len(gold) if gold else 0.0
    return p, r, (2 * p * r / (p + r) if p + r else 0.0)


def cluster_items(gold, entity_rows) -> list[tuple[str | None, str]]:
    """(predicted entity_id, gold cluster) per distinct gold mention.

    ``entity_rows`` are (entity_id, entity_type, canonical_name, aliases,
    all_names). A gold surface maps to the entity that carries it as a
    name; a surface no entity carries stays unassigned (None), which
    ``pairwise_cluster_quality`` excludes and mention recall already
    charges."""
    by_name: dict[tuple[str, str], str] = {}
    for eid, etype, canon, aliases, all_names in entity_rows:
        for s in [canon, *(aliases or []), *(all_names or [])]:
            k = (etype, normalize_for_match(s))
            # a name two entities share goes to the smaller id, so the
            # mapping never depends on row order
            if k not in by_name or eid < by_name[k]:
                by_name[k] = eid
    items = {(u, t, normalize_for_match(s)): f"{t}\x1f{c}" for u, t, s, c in gold}
    return [(by_name.get((t, k)), g) for (_, t, k), g in sorted(items.items())]


def cluster_f1(spark, items) -> float:
    from hinbox_spark.operators.clustering import pairwise_cluster_quality

    df = spark.createDataFrame(items, "pred string, gold string")
    return float(pairwise_cluster_quality(df).first()["f1"])


def digest(entity_rows, edge_rows) -> str:
    """Order-insensitive digest: sha256 over the sorted JSON rows."""
    h = hashlib.sha256()
    for table in (entity_rows, edge_rows):
        for line in sorted(json.dumps(list(r), default=str) for r in table):
            h.update(line.encode())
            h.update(b"\n")
        h.update(b"\x00")
    return h.hexdigest()


class Tally:
    """Counts repetitions; a repetition fails on an exception, a failed
    check, or a digest that differs from the first good repetition's."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []
        self._digest: str | None = None

    def record(self, ok: bool, reason: str = "", out_digest: str | None = None) -> bool:
        self.attempted += 1
        if ok and out_digest is not None:
            if self._digest is None:
                self._digest = out_digest
            elif out_digest != self._digest:
                ok, reason = False, "output digest differs from the first repetition"
        if not ok:
            self.failed += 1
            self.reasons.append(reason)
        return ok
