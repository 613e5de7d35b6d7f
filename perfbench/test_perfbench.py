"""Tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import spans  # noqa: E402
from gen import Generator, Vocab  # noqa: E402
from procstat import TreeSampler  # noqa: E402

from hinbox_spark.functions.html_text import extract_title_and_text  # noqa: E402
from hinbox_spark.functions.names import normalize_for_match  # noqa: E402
from hinbox_spark.functions.ner import (  # noqa: E402
    default_gazetteer, extract_mentions_from_text,
)

VOCABS = [(Vocab(300, 200), 3), (Vocab(80, 50, 0.8, 99, 0.4), 11)]


def test_every_planted_surface_is_extracted_with_its_type():
    gaz = default_gazetteer()
    for vocab, seed in VOCABS:
        g = Generator(vocab, seed)
        for i in range(120):
            row, gold = g.page(i)
            _, text = extract_title_and_text(row["html"].decode())
            got = {(m["entity_type"], m["name"])
                   for m in extract_mentions_from_text(text, gaz)}
            missing = {(t, s) for _, t, s, _ in gold} - got
            assert not missing, (i, missing)


def test_gold_canonicals_never_collapse_under_match_normalization():
    for vocab, seed in VOCABS:
        people, orgs = Generator(vocab, seed).people, Generator(vocab, seed).orgs
        surfaces = people + [s for pair in orgs for s in pair]
        keys = [normalize_for_match(s) for s in surfaces]
        assert len(set(keys)) == len(keys)


def test_generator_is_a_function_of_seed():
    a, b = Generator(Vocab(50, 30), 5), Generator(Vocab(50, 30), 5)
    assert a.corpus(0, 20) == b.corpus(0, 20)
    assert a.corpus(0, 20) != Generator(Vocab(50, 30), 6).corpus(0, 20)


def test_delta_pages_carry_fresh_entities():
    vocab = Vocab(80, 50, 0.8, 99, 0.4)
    g = Generator(vocab, 11)
    base = {c for _, _, _, c in g.corpus(0, 99)[1]}
    delta = {c for _, t, _, c in g.corpus(99, 110)[1] if t != "locations"}
    assert delta & base and delta - base


ENTITIES = [("e1", "people", "Ann Bo", [], ["Ann Bo"]),
            ("e2", "organizations", "Kal Tor Agency", ["Tor Agency"],
             ["Kal Tor Agency", "Tor Agency"])]
EDGES = [("e1", "mentioned_in", "u1"), ("e2", "mentioned_in", "u1")]
GOLD = [("u1", "people", "Ann Bo", "Ann Bo"),
        ("u1", "organizations", "Tor Agency", "Kal Tor Agency"),
        ("u2", "organizations", "Kal Tor Agency", "Kal Tor Agency")]


def test_mention_scores_and_cluster_items():
    pred = checks.mention_keys([
        ("u1", "people", "Ann Bo", []),
        ("u1", "organizations", "Kal Tor Agency", ["Tor Agency"]),
        ("u2", "organizations", "Kal Tor Agency", []),
    ])
    p, r, f1 = checks.prf(pred, checks.gold_keys(GOLD))
    assert r == 1.0 and p == 0.75
    items = checks.cluster_items(GOLD, ENTITIES)
    assert sorted(items) == [("e1", "people\x1fAnn Bo"),
                             ("e2", "organizations\x1fKal Tor Agency"),
                             ("e2", "organizations\x1fKal Tor Agency")]


def test_digest_ignores_row_order():
    assert checks.digest(ENTITIES, EDGES) == checks.digest(ENTITIES[::-1], EDGES[::-1])


def test_altered_output_counts_as_a_failed_repetition():
    tally = checks.Tally()
    good = checks.digest(ENTITIES, EDGES)
    altered = checks.digest(ENTITIES, EDGES[:1])
    assert tally.record(True, out_digest=good)
    assert not tally.record(True, out_digest=altered)
    assert tally.record(True, out_digest=good)
    assert not tally.record(False, "cluster_f1 below floor", good)
    assert (tally.attempted, tally.failed) == (4, 2)


def _job(jid, group, submit_ms, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": submit_ms, "Stage IDs": stages, "Properties": props}


def _task(stage, launch, finish, run_ms, shuffle=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor Run Time": run_ms, "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def test_event_log_attribution(tmp_path):
    rec = spans.Recorder()
    with rec.span("pipeline", "run_pipeline") as root:
        with rec.span("linking", "candidate_pairs") as child:
            pass
        with rec.span(None, "count:candidate_pairs", group=spans.COUNT_GROUP) as count:
            pass
    root.start, root.end = 100.0, 110.0
    child.start, child.end = 101.0, 104.0
    count.start, count.end = 104.0, 104.5
    events = [
        _job(0, child.id, 101_500, [0, 1]),
        _job(1, None, 105_000, [2]),               # program thread, no group
        _job(2, spans.COUNT_GROUP, 104_100, [3]),  # benchmark count job
        _job(3, None, 50_000, [4]),                # before the traced run
        _task(0, 0, 10, 8, 100), _task(0, 0, 30, 25),
        _task(1, 0, 10, 9), _task(1, 0, 10, 9), _task(1, 0, 40, 30),
        _task(2, 0, 5, 4), _task(3, 0, 5, 4), _task(4, 0, 5, 4),
    ]
    log = tmp_path / "events"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    m = spans.layer_metrics(rec, *spans.read_event_log(str(log)))
    assert m["linking.jobs"] == 1 and m["linking.tasks"] == 5
    assert abs(m["linking.task_s"] - 0.081) < 1e-9
    assert m["linking.shuffle_bytes"] == 100
    assert m["linking.task_skew"] == 4.0  # widest stage 1: 40 ms / 10 ms
    assert m["pipeline.jobs"] == 1 and m["pipeline.tasks"] == 1
    assert abs(m["pipeline.wall_s"] - 10.0) < 1e-9
    assert abs(m["linking.self_s"] - 3.0) < 1e-9
    # root self time excludes the linking span and the count span
    assert abs(m["pipeline.self_s"] - 6.5) < 1e-9


def test_tree_sampler_reads_own_process():
    s = TreeSampler(os.getpid(), interval=0.01).start()
    sum(i * i for i in range(2_000_000))
    s.stop()
    assert s.cpu_s > 0 and s.peak_rss_mb > 1
