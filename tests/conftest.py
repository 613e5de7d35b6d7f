import dataclasses
import itertools
import shutil

import pytest


@pytest.fixture(scope="session")
def spark():
    from hinbox_spark.session import get_spark

    s = get_spark("hinbox_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _session_settings_kept(request):
    """The suite shares one session: a test that leaves a setting the
    session was created with changed (e.g. spark.sql.shuffle.partitions)
    hands it to every later test. Fail that test. `spark.conf.unset`
    restores Spark's default, not the session's value — put back the
    value read before the change."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    keys = [k for k, _ in spark.sparkContext.getConf().getAll()]

    def settings() -> dict:
        return {k: spark.conf.get(k, None) for k in keys}

    before = settings()
    yield
    changed = {
        k: (v, now) for (k, v), now in zip(before.items(), settings().values())
        if now != v
    }
    if changed:
        pytest.fail(f"session settings left changed (before, after): {changed}")


def persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def store_rows(spark, store: str, resolved: bool = False) -> dict:
    """Every run table of a store read at the store's published version:
    table → sorted rows, run attribution and `_seq` left out. With
    ``resolved``, keyed tables are read merged on their keys."""
    from hinbox_spark.incremental import _TABLE_PLANS, store_version
    from hinbox_spark.tables import SnapshotTable

    version = store_version(spark, store)["tables"]
    out = {}
    for table, plan in _TABLE_PLANS.items():
        st = SnapshotTable(spark, f"{store}/{table}")
        df = (st.read_resolved(plan[0], version[table]) if resolved and plan
              else st.read(version[table]))
        cols = sorted(set(df.columns) - {"_seq", "run_id"})
        out[table] = sorted(map(repr, df.select(*cols).collect()))
    return out


@pytest.fixture(scope="session")
def delta_world(spark, tmp_path_factory):
    """A store bootstrapped by `run_pipeline` from 30 of 40 pages
    (``pages_a``, output ``base/batch``), its table ``heads``, a pristine
    copy (``pristine``; `fork()` hands out fresh copies of it), and
    the control world: the remaining 10 pages applied with `run_incremental`
    (run_id "d"). Both runs go through a spy on `pipeline.resolve`; per run,
    ``runs`` records the resolve calls and the persistent RDDs left behind."""
    import pyspark.sql.functions as F

    import hinbox_spark.pipeline as pl
    from hinbox_spark.config import get_default_config
    from hinbox_spark.incremental import _RUN_TABLES, run_incremental
    from hinbox_spark.sources.pages_gen import pages_dataframe
    from hinbox_spark.tables import SnapshotTable

    pages, _ = pages_dataframe(spark, 40, 3)
    urls = sorted(r.url for r in pages.select("url").collect())
    pages_a = pages.filter(F.col("url").isin(set(urls[:30]))).localCheckpoint()
    pages_b = pages.filter(F.col("url").isin(set(urls[30:]))).localCheckpoint()
    base = tmp_path_factory.mktemp("delta_world")
    store = str(base / "store")
    cfg = dataclasses.replace(get_default_config(), snapshot_store_path=store)

    calls = []
    real = pl.resolve
    mp = pytest.MonkeyPatch()
    mp.setattr(pl, "resolve", lambda *a, **k: calls.append(1) or real(*a, **k))
    runs = {}
    try:
        before = persistent_rdds(spark)
        pl.run_pipeline(spark, pages_a, str(base / "batch"), cfg=cfg, resume=False)
        runs["batch"] = {"resolves": len(calls),
                         "left": persistent_rdds(spark) - before}
        shutil.copytree(store, base / "pristine")
        heads = {t: SnapshotTable(spark, f"{store}/{t}").latest_snapshot_id()
                 for t in _RUN_TABLES}
        calls.clear()
        before = persistent_rdds(spark)
        out = run_incremental(spark, pages_b, str(base / "delta"), cfg=cfg, run_id="d")
        runs["delta"] = {
            "resolves": len(calls),
            "left": persistent_rdds(spark) - before,
            "returned": pl._rdd_ids(out["articles"]) | pl._rdd_ids(out["assignments"]),
        }
    finally:
        mp.undo()

    forks = itertools.count()

    def fork():
        path = str(base / f"fork{next(forks)}")
        shutil.copytree(base / "pristine", path)
        return path, dataclasses.replace(cfg, snapshot_store_path=path)

    return {"pages": pages, "pages_a": pages_a, "pages_b": pages_b,
            "store": store, "pristine": str(base / "pristine"), "cfg": cfg,
            "heads": heads, "fork": fork, "runs": runs, "base": base}
