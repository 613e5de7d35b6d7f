"""Digest every output table of one benchmark run, for before/after diffs.

    python scripts/output_digest.py --workload build_entities --seed 101

Builds the input of a `perfbench` workload (its page generator and, for
`delta_apply`, its bootstrapped store), runs the entry point once in a fresh
session and prints, per returned table, its row count, an order-insensitive
row digest (`perfbench.checks.digest`) and its schema with nullability, and
per parquet table the run wrote, the footer schema (where nullability
survives: a Spark read marks every column nullable). Two checkouts compare
with a plain `diff` of the outputs.

The digests read columns in name order, and leave out the columns whose
values depend on the physical plan or on a random run id (`partition_id`,
`run_id`); the `metrics` table counts rows per partition, so its digest
follows the plan.
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VOLATILE = ("partition_id", "run_id")


def _footer_schemas(out_dir: str) -> dict[str, set[str]]:
    """Per parquet table under ``out_dir`` (a store table's batches count as
    one table): the distinct schemas of its part files as written (name:
    type, with `not null` where required)."""
    import pyarrow.parquet as pq

    found: dict[str, set[str]] = {}
    for part in glob.glob(f"{out_dir}/**/part-*.parquet", recursive=True):
        table = os.path.relpath(part, out_dir).split(os.sep)[0]
        found.setdefault(table, set()).add(", ".join(
            f"{f.name}: {f.type}{'' if f.nullable else ' not null'}"
            for f in pq.read_schema(part)
        ))
    return found


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("build_entities", "delta_apply"))
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    import checks
    from run import Bench, pinned_env

    work = tempfile.mkdtemp(prefix="output-digest-")
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{d}")
    os.environ.update(pinned_env(work, False))
    try:
        b = Bench(argparse.Namespace(workload=args.workload, seed=args.seed,
                                     seconds=0, trace=0), work)
        b.start_session()
        b.generate_inputs()
        b.bootstrap()
        pages = b.spark.read.parquet(b.inputs["pages"])
        out = f"{work}/out"
        if args.workload == "delta_apply":
            from hinbox_spark.incremental import run_incremental

            shutil.rmtree(b.store, ignore_errors=True)  # the bootstrap's own
            shutil.copytree(b.pristine, b.store)
            res = run_incremental(b.spark, pages, out, cfg=b.cfg, run_id="digest")
        else:
            from hinbox_spark.pipeline import run_pipeline

            res = run_pipeline(b.spark, pages, out, resume=False)
        for name, df in sorted(res.items()):
            if df is None:
                continue
            # columns by name: a reordered column is no different row
            rows = [list(r) for r in df.select(
                sorted(c for c in df.columns if c not in VOLATILE)).collect()]
            print(f"{name}: {len(rows)} rows {checks.digest(rows, [])}")
            for f in df.schema.fields:
                print(f"  {f.name}: {f.dataType.simpleString()}"
                      f"{'' if f.nullable else ' not null'}")
        dirs = {"out": out, **({"store": b.store} if args.workload == "delta_apply" else {})}
        for label, d in dirs.items():
            for table, schemas in sorted(_footer_schemas(d).items()):
                for schema in sorted(schemas):
                    print(f"{label}/{table} footer: {schema}")
    finally:
        from run import _stop_spark

        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
