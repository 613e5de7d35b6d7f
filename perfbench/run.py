"""KG-construction benchmark of record.

    python3 perfbench/run.py --workload build_entities --seed 1 --seconds 20 --trace 0

Closed loop: one driver process runs one job at a time on local[nproc]. Each
repetition calls the public entry point (``pipeline.run_pipeline`` or
``incremental.run_incremental``) on pages generated from ``--seed``, checks
its outputs, and repetitions continue until ``--seconds`` of measured time
have elapsed. The last line of stdout is one JSON object: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
separate traced repetition (see perfbench/NOTES.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# workload → corpus shape. ``vocab`` is (people, orgs, base_share,
# fresh_rate) of the open-vocabulary generator. delta_apply's store holds
# ``pages`` base pages drawn with STORE_SEED; each run applies ``delta``
# held-out pages (10%) drawn with the run's seed over the same vocabulary.
WORKLOADS = {
    "build_pages": {"kind": "build", "pages": 10000, "stock": True},
    "build_entities": {"kind": "build", "pages": 60, "vocab": (160, 100, 1.0, 0.0)},
    "delta_apply": {"kind": "delta", "pages": 200, "delta": 20,
                    "vocab": (140, 90, 0.75, 0.5)},
}
STORE_SEED = 0
INPUT_GEN_REPEATS = 3
DEADLINE_S = 170  # the process must end within 180 s


def pinned_env(work: str, trace: bool) -> dict[str, str]:
    """The environment every run pins before the JVM starts."""
    java_opts = f"-Djava.io.tmpdir={work}/tmp"
    submit = ["--conf", f"spark.driver.extraJavaOptions={java_opts}"]
    if trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{work}/events",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    return {
        # Python workers import hinbox_spark from the checkout, not the cwd
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # session.py defaults to a 24g heap; stay well below a small host
        "SPARK_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "TMPDIR": f"{work}/tmp",
        "PYSPARK_SUBMIT_ARGS": shlex.join([*submit, "pyspark-shell"]),
    }


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spec = WORKLOADS[args.workload]
        self.layer: dict[str, float] = {}

    # ── setup ──

    def start_session(self):
        t = time.perf_counter()
        from hinbox_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t
        self.jvm = self.spark.sparkContext._gateway.proc

    @staticmethod
    def _write_pages(rows, path):
        """Pages as one parquet file, written with pyarrow: a Spark write
        would add a job to every run's setup."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema([
            ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
        os.makedirs(path)
        pq.write_table(pa.Table.from_pylist(rows, schema), f"{path}/part-0.parquet")

    def generate_inputs(self):
        """Pages (and their gold) for this seed, written as parquet. The
        open-vocabulary corpus is generated INPUT_GEN_REPEATS times and the
        median generation time is kept; the stock corpus is rendered by
        Spark once."""
        spec, seed = self.spec, self.args.seed
        n = spec["pages"]
        base = f"{self.work}/input"
        if spec.get("stock"):
            from hinbox_spark.sources.pages_gen import (
                generate_corpus, pages_dataframe_distributed,
            )

            t = time.perf_counter()
            pages_dataframe_distributed(self.spark, n, seed).write.parquet(base + "/pages")
            _, gm = generate_corpus(n, seed)
            self.inputs = {"pages": base + "/pages", "n": n, "gold": [
                (g.url, g.entity_type, g.surface, g.canonical) for g in gm]}
            self.layer["setup.input_gen_s"] = time.perf_counter() - t
            return
        times = []
        for _ in range(INPUT_GEN_REPEATS):
            t = time.perf_counter()
            if spec["kind"] == "delta":
                n = spec["pages"]
                rows, gold = self._generator(seed).corpus(n, n + spec["delta"])
            else:
                rows, gold = self._generator(seed).corpus(0, n)
            times.append(time.perf_counter() - t)
        t = time.perf_counter()
        self._write_pages(rows, base + "/pages")
        self.inputs = {"pages": base + "/pages", "n": len(rows), "gold": gold}
        self.layer["setup.input_gen_s"] = (
            statistics.median(times) + time.perf_counter() - t)

    def _generator(self, seed: int):
        from gen import Generator, Vocab

        people, orgs, share, fresh = self.spec["vocab"]
        vocab = Vocab(people, orgs, share, self.spec["pages"], fresh)
        vocab_seed = STORE_SEED if self.spec["kind"] == "delta" else seed
        return Generator(vocab, seed, vocab_seed)

    def bootstrap(self):
        """delta_apply: the store the deltas are applied to. It is built
        once per checkout with the batch pipeline (the documented
        bootstrap) from the STORE_SEED base pages and kept under
        .perfbench_cache, keyed by the program's sources; each repetition
        starts from a fresh copy of it."""
        self.layer["setup.bootstrap_s"] = 0.0
        if self.spec["kind"] != "delta":
            return
        import dataclasses
        import hashlib

        from hinbox_spark.config import get_default_config

        # the store depends on the program, the generator and the base spec
        h = hashlib.sha256(repr((sorted(self.spec.items()), STORE_SEED)).encode())
        sources = [os.path.join(HERE, "gen.py")]
        for dirpath, _, files in sorted(os.walk(os.path.join(ROOT, "hinbox_spark"))):
            sources += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py")]
        for path in sources:
            with open(path, "rb") as fh:
                h.update(path[len(ROOT):].encode() + fh.read())
        self.pristine = os.path.join(ROOT, ".perfbench_cache", "store-" + h.hexdigest()[:16])
        self.store = f"{self.work}/store"
        self.cfg = dataclasses.replace(
            get_default_config(), snapshot_store_path=self.store)
        if os.path.isdir(self.pristine):
            return
        from hinbox_spark.pipeline import run_pipeline

        t = time.perf_counter()
        rows, _ = self._generator(STORE_SEED).corpus(0, self.spec["pages"])
        self._write_pages(rows, f"{self.work}/base")
        run_pipeline(self.spark, self.spark.read.parquet(f"{self.work}/base"),
                     f"{self.work}/bootstrap", cfg=self.cfg, resume=False)
        tmp = self.pristine + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(self.store, tmp)
        os.replace(tmp, self.pristine)
        self.layer["setup.bootstrap_s"] = time.perf_counter() - t

    # ── one repetition ──

    def repetition(self, k: int, rec=None) -> dict:
        """Run the job once; returns its timing and resource figures and
        the collected outputs (checked by ``check``)."""
        from contextlib import nullcontext

        from procstat import TreeSampler

        from hinbox_spark import incremental, pipeline

        out_dir = f"{self.work}/rep{k}"
        delta = self.spec["kind"] == "delta"
        if delta:
            shutil.rmtree(self.store, ignore_errors=True)
            shutil.copytree(self.pristine, self.store)
            store_before = tree_size(self.store)
        pages = self.spark.read.parquet(self.inputs["pages"])
        n_pages = self.inputs["n"]
        root, restore = nullcontext(), None
        if rec is not None:
            import spans

            root = rec.span("incremental" if delta else "pipeline",
                            "run_incremental" if delta else "run_pipeline")
            restore = spans.instrument(rec)
        sampler = TreeSampler(self.jvm.pid).start()
        t = time.perf_counter()
        try:
            with root:
                if delta:
                    res = incremental.run_incremental(self.spark, pages, out_dir, cfg=self.cfg)
                else:
                    res = pipeline.run_pipeline(self.spark, pages, out_dir, resume=False)
        finally:
            run_s = time.perf_counter() - t
            sampler.stop()
            if restore is not None:
                restore()
        written = tree_size(out_dir)
        store_written = (0, 0)
        if delta:
            after = tree_size(self.store)
            store_written = (after[0] - store_before[0], after[1] - store_before[1])
        figures = {
            "run_s": run_s, "n_pages": n_pages,
            "cpu_s": sampler.cpu_s, "peak_rss_mb": sampler.peak_rss_mb,
            "pipeline.bytes_written": written[0],
            "pipeline.files_written": written[1],
            "tables.bytes_written": store_written[0],
            "tables.files_written": store_written[1],
        }
        figures["outputs"] = self.collect(res, delta)
        shutil.rmtree(out_dir, ignore_errors=True)
        return figures

    def collect(self, res, delta: bool) -> dict:
        ents = res["entities_store"] if delta else res["entities"]
        entity_rows = [tuple(r) for r in ents.select(
            "entity_id", "entity_type", "canonical_name", "aliases", "all_names"
        ).collect()]
        mention_rows = [tuple(r) for r in res["mentions"].select(
            "url", "entity_type", "name", "aliases").collect()]
        edge_rows = [tuple(r) for r in res["edges"].select(
            "subj", "pred", "obj").collect()]
        out = {"entities": entity_rows, "mentions": mention_rows, "edges": edge_rows}
        if delta:
            m = {r["stage"]: r["rows"] for r in res["metrics"].select(
                "stage", "rows").collect()}
            out["matched"] = m.get("store_matched", 0)
            out["new"] = m.get("new_entities", 0)
        return out

    def check(self, outputs) -> tuple[bool, str, dict]:
        import checks

        delta = self.spec["kind"] == "delta"
        gold = self.inputs["gold"]
        types = {g[1] for g in gold}
        pred = checks.mention_keys(m for m in outputs["mentions"] if m[1] in types)
        _, _, m_f1 = checks.prf(pred, checks.gold_keys(gold))
        c_f1 = checks.cluster_f1(
            self.spark, checks.cluster_items(gold, outputs["entities"]))
        scores = {"mention_f1": m_f1, "cluster_f1": c_f1}
        digest = checks.digest(
            [(e, t, c, sorted(a or []), sorted(n or []))
             for e, t, c, a, n in outputs["entities"]],
            outputs["edges"])
        problems = []
        if m_f1 < checks.MENTION_F1_FLOOR:
            problems.append(f"mention_f1 {m_f1:.4f} < {checks.MENTION_F1_FLOOR}")
        if c_f1 < checks.CLUSTER_F1_FLOOR:
            problems.append(f"cluster_f1 {c_f1:.4f} < {checks.CLUSTER_F1_FLOOR}")
        if not outputs["entities"] or not outputs["edges"]:
            problems.append("empty entities or edges")
        if delta and not (outputs["matched"] > 0 and outputs["new"] > 0):
            problems.append("delta matched no store entity or created none")
        return not problems, "; ".join(problems), {**scores, "digest": digest}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args, work: str) -> dict:
    import checks

    trace = bool(args.trace)
    b = Bench(args, work)
    t_setup = time.perf_counter()
    b.start_session()
    b.generate_inputs()
    b.bootstrap()
    setup_s = (b.layer["session.start_s"] + b.layer["setup.input_gen_s"]
               + b.layer["setup.bootstrap_s"])
    print(f"perfbench: setup {time.perf_counter() - t_setup:.1f} s", file=sys.stderr)

    tally = checks.Tally()
    reps, scores = [], []

    def attempt(k, rec=None):
        try:
            fig = b.repetition(k, rec)
            ok, why, sc = b.check(fig.pop("outputs"))
        except Exception:
            traceback.print_exc()
            tally.record(False, "exception")
            return None
        if tally.record(ok, why, sc["digest"]):
            scores.append(sc)
        return fig

    if trace:
        import spans as tr

        # one traced repetition in the same position as the untraced run's,
        # so its run_s compares with that run's run_s on the same seed
        rec = tr.Recorder(b.spark.sparkContext)
        traced = attempt(0, rec)
        b.spark.stop()
        logs = os.listdir(f"{work}/events")
        jobs, tasks = tr.read_event_log(f"{work}/events/{logs[0]}")
        metrics = tr.layer_metrics(rec, jobs, tasks)
        metrics.update(rec.counters)
        metrics.update(b.layer)
        if traced is not None:
            for key in ("pipeline.bytes_written", "pipeline.files_written",
                        "tables.bytes_written", "tables.files_written"):
                metrics[key] = traced[key]
            metrics["extraction.pages_in"] = traced["n_pages"]
            metrics["trace.run_s"] = traced["run_s"]
        cand = metrics.get("linking.candidate_pairs", 0)
        metrics["linking.pair_yield"] = (
            metrics.get("linking.accepted_pairs", 0) / cand if cand else 0.0)
        metrics["session.wall_s"] = metrics["session.self_s"] = b.layer["session.start_s"]
        result = {name: {"value": float(metrics.get(name, 0.0)), "unit": tr.unit(name)}
                  for name in tr.per_layer_names()}
        return {"tally": tally, "metrics": result}

    # as many repetitions as fit in --seconds, at least one
    t0 = time.perf_counter()
    k = 0
    while True:
        t = time.perf_counter()
        fig = attempt(k)
        k += 1
        if fig is not None:
            reps.append(fig)
        now = time.perf_counter()
        if now - t0 + (now - t) > args.seconds or now - t0 > DEADLINE_S - 60:
            break
    run_times = sorted(r["run_s"] for r in reps)
    run_s = _median(run_times)
    pages = reps[0]["n_pages"] if reps else 1
    written = _median([r["pipeline.bytes_written"] + r["tables.bytes_written"]
                       for r in reps])
    print(f"perfbench: {len(reps)} repetition(s); run_s median {run_s:.3f} s, "
          f"max {run_times[-1] if run_times else 0:.3f} s", file=sys.stderr)
    metrics = {
        "setup_s": (setup_s, "s"),
        "run_s": (run_s, "s"),
        "pages_per_s": (pages / run_s if run_s else 0.0, "pages/s"),
        "cpu_s": (_median([r["cpu_s"] for r in reps]), "s"),
        "peak_rss_mb": (_median([r["peak_rss_mb"] for r in reps]), "MiB"),
        "bytes_written_per_page": (written / pages, "B/page"),
        "mention_f1": (_median([s["mention_f1"] for s in scores]), "ratio"),
        "cluster_f1": (_median([s["cluster_f1"] for s in scores]), "ratio"),
        "ok_share": ((tally.attempted - tally.failed) / max(tally.attempted, 1), "ratio"),
    }
    return {"tally": tally,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hinbox_spark")):
        print("perfbench: hinbox_spark is not in this checkout; nothing to measure",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ.update(pinned_env(work, bool(args.trace)))
    sys.path[:0] = [ROOT, HERE]

    # a hung job must still end the process in time, without a result line
    watchdog = threading.Timer(DEADLINE_S, lambda: os._exit(3))
    watchdog.daemon = True
    watchdog.start()
    try:
        out = run(args, work)
    finally:
        watchdog.cancel()
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    tally = out["tally"]
    for why in tally.reasons:
        print(f"perfbench: failed repetition: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": out["metrics"],
    }))
    return 0


def _stop_spark():
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
