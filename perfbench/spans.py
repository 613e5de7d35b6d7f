"""Layer spans for the traced run, and their attribution of Spark task
metrics from the event log.

``instrument`` patches the operator functions that ``hinbox_spark.pipeline``
and ``hinbox_spark.incremental`` import, the pipeline's table writer and the
``SnapshotTable`` commit/read methods. Nothing in the package is edited: the
patches live in this file and are undone after the traced repetition. Each
wrapper opens a span, tags the Spark jobs of its thread with the span's id as
job group, and materializes its DataFrame result (cache + count) before the
span closes, so the layer's work runs inside it. Row counts are taken
after the span closes under a separate job group that attribution skips.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager

COUNT_GROUP = "perfbench-count"

LAYERS = ("extraction", "linking", "clustering", "canonicalize", "profiles",
          "pipeline", "store_link", "tables", "incremental", "session")

GENERIC = ("wall_s", "self_s", "jobs", "tasks", "task_s", "shuffle_bytes",
           "spill_bytes", "task_skew")

SPECIFIC = {
    "extraction": ("pages_in", "articles_out", "mentions_out"),
    "linking": ("nodes", "candidate_pairs", "accepted_pairs", "pair_yield",
                "lsh_dropped_entries"),
    "clustering": ("edges", "driver_path", "max_component"),
    "canonicalize": ("groups", "entities_out", "edges_out"),
    "profiles": ("groups", "profiles_out"),
    "pipeline": ("bytes_written", "files_written"),
    "store_link": ("candidate_pairs", "matched", "new"),
    "tables": ("commits", "commit_s", "read_s", "bytes_written", "files_written"),
    "session": ("start_s",),
    "setup": ("input_gen_s", "bootstrap_s"),
    "trace": ("run_s",),
}

# operator function name → layer, for the names pipeline/incremental import
OPERATORS = {
    "extraction": ("extract_articles", "extract_mentions_with_flags",
                   "extract_mentions_cached", "skip_reason_summary"),
    "linking": ("mention_nodes", "name_lsh_band_entries", "candidate_pairs",
                "node_evidence_embeddings", "score_pairs", "arbitrate_review",
                "name_lsh_truncation_stats",
                "name_lsh_truncation_stats_from_entries"),
    "clustering": ("connected_components",),
    "canonicalize": ("build_clusters", "canonical_names", "build_entities",
                     "build_edge_triples"),
    "profiles": ("build_profiles", "ground_profiles", "profile_fact_rows",
                 "assemble_profiles"),
    "store_link": ("link_entities_to_store", "name_index_rows", "name_band_rows"),
    "pipeline": ("_write",),
}
TABLE_COMMITS = ("append", "overwrite", "merge", "merge_into", "delete", "compact")
TABLE_READS = ("read", "read_resolved")
# store-link blocking families: counted (candidate proposals), not spanned
STORE_LINK_FAMILIES = ("_family_exact", "_family_equivalence",
                       "_family_acronym", "_family_containment", "_family_lsh")


class Span:
    __slots__ = ("id", "layer", "name", "parent", "start", "end")

    def __init__(self, sid, layer, name, parent):
        self.id, self.layer, self.name, self.parent = sid, layer, name, parent
        self.start = time.time()
        self.end = None


class Recorder:
    """In-memory spans with per-thread stacks. A span opened on a thread
    with an empty stack (the program's worker threads) is a child of the
    root span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self.root: Span | None = None
        self.cached: list = []  # materialized results, unpersisted by restore
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, group):
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, layer: str | None, name: str, group: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            s = Span(f"perfbench-{next(self._ids)}", layer, name, parent)
            self.spans.append(s)
        if self.root is None:
            self.root = s
        stack.append(s)
        self._set_group(group or s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(stack[-1].id if stack else None)

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + value

    def put_max(self, key: str, value: float) -> None:
        with self._lock:
            self.counters[key] = max(self.counters.get(key, 0), value)


def _materialize(x, cached: list):
    """Cache and count a DataFrame result so its work runs now. Caching
    keeps the plan (a checkpoint would give two results derived from one
    input the same column ids, which a later self-join rejects)."""
    from pyspark.sql import DataFrame

    if isinstance(x, DataFrame):
        x.cache().count()
        cached.append(x)
    elif isinstance(x, tuple):
        for v in x:
            _materialize(v, cached)
    return x


def _count_hooks(rec: Recorder):
    """Per-operator counters, run after the span on the materialized
    result: fn name → hook(args, result)."""
    import pyspark.sql.functions as F

    from hinbox_spark.operators import clustering, linking

    def lsh_dropped(args, out):
        rows = linking.name_lsh_truncation_stats_from_entries(out).collect()
        rec.add("linking.lsh_dropped_entries", sum(
            r["n"] for r in rows if r["stage"] == "name_lsh_dropped_entries"))

    def components(args, out):
        n = args[1].count()
        rec.add("clustering.edges", n)
        rec.put_max("clustering.driver_path",
                    int(n <= clustering.DRIVER_UNION_FIND_MAX_EDGES))
        biggest = out.groupBy("cluster_id").count().agg(F.max("count")).first()[0]
        rec.put_max("clustering.max_component", biggest or 0)

    def profiles(args, out):
        rec.add("profiles.groups", args[0].select("cluster_id").distinct().count())
        rec.add("profiles.profiles_out", out.count())

    def store_link(args, out):
        matched = out[0].count()
        rec.add("store_link.matched", matched)
        rec.add("store_link.new", args[0].count() - matched)

    def counter(key, pick=lambda out: out):
        return lambda args, out: rec.add(key, pick(out).count())

    return {
        "extract_articles": counter("extraction.articles_out"),
        "extract_mentions_with_flags": counter(
            "extraction.mentions_out", lambda o: o.filter(F.col("qc_flag").isNull())),
        "mention_nodes": counter("linking.nodes"),
        "candidate_pairs": counter("linking.candidate_pairs"),
        "score_pairs": counter("linking.accepted_pairs", lambda o: o[0]),
        "name_lsh_band_entries": lsh_dropped,
        "connected_components": components,
        "canonical_names": counter("canonicalize.groups"),
        "build_entities": counter("canonicalize.entities_out"),
        "build_edge_triples": counter("canonicalize.edges_out"),
        "build_profiles": profiles,
        "assemble_profiles": profiles,
        "link_entities_to_store": store_link,
    }


def instrument(rec: Recorder):
    """Patch the layer entry points; returns a function that undoes it."""
    from hinbox_spark import incremental, pipeline
    from hinbox_spark.operators import store_link
    from hinbox_spark.tables import SnapshotTable

    hooks = _count_hooks(rec)
    undo: list[tuple[object, str, object]] = []

    def patch(owner, attr, new):
        undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(fn, layer, name, kind=None):
        hook = hooks.get(name)

        def wrapper(*args, **kwargs):
            nested = any(s.layer == layer for s in rec._stack())
            with rec.span(layer, name) as s:
                out = _materialize(fn(*args, **kwargs), rec.cached)
            if kind and not nested:
                rec.add(f"tables.{kind}", s.end - s.start)
                if kind == "commit_s":
                    rec.add("tables.commits", 1)
            if hook is not None:
                with rec.span(None, f"count:{name}", group=COUNT_GROUP):
                    hook(args, out)
            return out

        return wrapper

    def count_only(fn, key):
        def wrapper(*args, **kwargs):
            # materialized under the caller's span, counted outside it
            out = _materialize(fn(*args, **kwargs), rec.cached)
            with rec.span(None, f"count:{key}", group=COUNT_GROUP):
                rec.add(key, out.count())
            return out

        return wrapper

    for module in (pipeline, incremental):
        for layer, names in OPERATORS.items():
            for name in names:
                if hasattr(module, name):
                    patch(module, name, wrap(getattr(module, name), layer, name))
    for name in TABLE_COMMITS:
        patch(SnapshotTable, name,
              wrap(getattr(SnapshotTable, name), "tables", name, "commit_s"))
    for name in TABLE_READS:
        patch(SnapshotTable, name,
              wrap(getattr(SnapshotTable, name), "tables", name, "read_s"))
    for name in STORE_LINK_FAMILIES:
        patch(store_link, name,
              count_only(getattr(store_link, name), "store_link.candidate_pairs"))

    def restore():
        for owner, attr, old in reversed(undo):
            setattr(owner, attr, old)
        for df in rec.cached:
            df.unpersist()

    return restore


# ── attribution ──

def read_event_log(path: str):
    """(jobs, tasks): jobs = {job_id: (group, submit_s, [stage ids])};
    tasks = [(stage_id, run_s, duration_s, shuffle_bytes, spill_bytes)]."""
    jobs, tasks = {}, []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = (
                    props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0,
                    list(ev.get("Stage IDs") or []),
                )
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append((
                    ev["Stage ID"],
                    m.get("Executor Run Time", 0) / 1000.0,
                    max(info.get("Finish Time", 0) - info.get("Launch Time", 0), 1) / 1000.0,
                    sw.get("Shuffle Bytes Written", 0),
                    m.get("Disk Bytes Spilled", 0),
                ))
    return jobs, tasks


def _covered(intervals, lo, hi) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def layer_metrics(rec: Recorder, jobs, tasks) -> dict[str, float]:
    """Per-layer wall/self time from the spans, jobs/tasks from the event
    log. A job whose group is a span id belongs to that span's layer; a job
    with no group submitted inside the root span (the program's own worker
    threads) belongs to the root's layer; count jobs and jobs outside the
    traced repetition are skipped."""
    out = {f"{layer}.{g}": 0.0 for layer in LAYERS for g in GENERIC}
    by_id = {s.id: s for s in rec.spans}
    children: dict[str, list[Span]] = {}
    for s in rec.spans:
        if s.parent is not None:
            children.setdefault(s.parent.id, []).append(s)
    for s in rec.spans:
        if s.layer is None:
            continue
        dur = s.end - s.start
        kids = [(c.start, c.end) for c in children.get(s.id, [])]
        out[f"{s.layer}.self_s"] += dur - _covered(kids, s.start, s.end)
        if s.parent is None or s.parent.layer != s.layer:
            out[f"{s.layer}.wall_s"] += dur

    stage_layer = {}
    root = rec.root
    for _, (group, submit, stages) in sorted(jobs.items()):
        if group == COUNT_GROUP:
            continue
        span = by_id.get(group)
        if span is None or span.layer is None:
            if group is not None or root is None or not (root.start <= submit <= root.end):
                continue
            span = root
        out[f"{span.layer}.jobs"] += 1
        for st in stages:
            stage_layer.setdefault(st, span.layer)

    per_stage: dict[int, list] = {}
    for st, run_s, dur, shuffle, spill in tasks:
        layer = stage_layer.get(st)
        if layer is None:
            continue
        out[f"{layer}.tasks"] += 1
        out[f"{layer}.task_s"] += run_s
        out[f"{layer}.shuffle_bytes"] += shuffle
        out[f"{layer}.spill_bytes"] += spill
        per_stage.setdefault(st, []).append(dur)
    widest: dict[str, list] = {}
    for st, durs in per_stage.items():
        layer = stage_layer[st]
        cur = widest.get(layer)
        if cur is None or (len(durs), sum(durs)) > (len(cur), sum(cur)):
            widest[layer] = durs
    for layer, durs in widest.items():
        out[f"{layer}.task_skew"] = max(durs) / statistics.median(durs)
    return out


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_bytes", "bytes_written")):
        return "B"
    if name.endswith(("_skew", "_yield")):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    names = [f"{layer}.{g}" for layer in LAYERS for g in GENERIC]
    for layer, keys in SPECIFIC.items():
        names += [f"{layer}.{k}" for k in keys]
    return names
