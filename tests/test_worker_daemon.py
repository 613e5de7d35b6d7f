"""The preloading worker daemon (hinbox_spark.pydaemon) and its gate in
session.get_spark."""

import json
import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_unchanged_zip_not_reread_and_rewritten_zip_is(tmp_path, monkeypatch):
    import importlib
    import zipimport

    from hinbox_spark import pydaemon

    # monkeypatch restores the stock method (and the reader) at teardown
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)

    archive = str(tmp_path / "probe_pkgs.zip")
    _write_zip(archive, {"zdaemon_probe_a.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for mod in ("zdaemon_probe_a", "zdaemon_probe_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    import zdaemon_probe_a

    assert zdaemon_probe_a.VALUE == 1
    assert pydaemon.keep_unchanged_zips()

    importlib.invalidate_caches()  # first sight: one read records the key
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    # rewrite: new size and mtime → re-read, and the new module imports
    _write_zip(archive, {
        "zdaemon_probe_a.py": "VALUE = 1\n",
        "zdaemon_probe_b.py": "VALUE = 2\n",
    })
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert archive in reads
    import zdaemon_probe_b

    assert zdaemon_probe_b.VALUE == 2
    for mod in ("zdaemon_probe_a", "zdaemon_probe_b"):
        sys.modules.pop(mod, None)
    sys.path_importer_cache.pop(archive, None)


def test_preload_skips_modules_that_fail():
    from hinbox_spark.pydaemon import preload

    assert preload(("json", "no_such_module_xyz", "os")) == ["json", "os"]


def test_pandas_udf_runs_in_preloading_daemon(spark):
    import pyspark.sql.functions as F

    from hinbox_spark.session import DAEMON_MODULE

    assert spark.conf.get("spark.python.daemon.module") == DAEMON_MODULE
    # modules neither a pandas UDF nor this test imports on its own
    want = ("pyarrow", "hinbox_spark.pipeline", "hinbox_spark.operators.linking")

    def probe(s):
        import sys

        with open("/proc/self/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode()
        loaded = ",".join(m for m in want if m in sys.modules)
        return s.map(lambda _: cmd + "|" + loaded)

    udf = F.pandas_udf(probe, "string")
    out = spark.range(4).repartition(2).select(udf(F.col("id").cast("string")))
    results = {r[0] for r in out.collect()}
    for res in results:
        cmd, loaded = res.split("|")
        assert DAEMON_MODULE in cmd
        assert loaded.split(",") == list(want)


def _gate_conf(pythonpath, cwd, master="local[2]"):
    """The conf get_spark would build, from a fresh interpreter (no JVM:
    getOrCreate is replaced by a dump of the builder's options)."""
    code = (
        "import json\n"
        "from pyspark.sql import SparkSession\n"
        "SparkSession.Builder.getOrCreate = lambda self: dict(self._options)\n"
        "from hinbox_spark import session\n"
        f"conf = session.get_spark(master={master!r})\n"
        "print(json.dumps({'file': session.__file__, 'conf': conf}))\n"
    )
    env = dict(os.environ, PYTHONPATH=pythonpath)
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=cwd, env=env,
        capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_gate_keeps_stock_daemon_when_package_is_zipped(tmp_path):
    archive = tmp_path / "hinbox_spark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        for d, _, files in os.walk(os.path.join(REPO, "hinbox_spark")):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, REPO))
    run = tmp_path / "run"
    run.mkdir()

    zipped = _gate_conf(str(archive), str(run))
    assert ".zip" in zipped["file"]
    assert "spark.python.daemon.module" not in zipped["conf"]

    # control: the same interpreter importing from a directory on
    # PYTHONPATH selects the daemon; a cluster master never does
    plain = _gate_conf(REPO, str(run))
    assert plain["conf"]["spark.python.daemon.module"] == "hinbox_spark.pydaemon"
    cluster = _gate_conf(REPO, str(run), master="spark://127.0.0.1:7077")
    assert "spark.python.daemon.module" not in cluster["conf"]


def test_driver_mem_default_is_capped_by_physical_ram():
    from hinbox_spark.session import _default_driver_mem

    mem = _default_driver_mem()
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert mem.endswith("m")
    assert int(mem[:-1]) == min(24 * 1024, phys // 2 // 2**20)

