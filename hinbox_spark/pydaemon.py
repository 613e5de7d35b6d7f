"""Preloading Python worker daemon.

Spark starts one daemon per executor on the first Python task and forks a
worker from it for every new Python worker it needs. The stock daemon
(`pyspark.daemon`) forks from a bare interpreter, so each worker pays two
fixed costs again:

* importing numpy / pandas / pyarrow and the UDF modules of this package;
* under Python 3.11/3.12, re-reading the central directory of every zip on
  `sys.path` on EVERY task: `setup_spark_files` ends in
  `importlib.invalidate_caches()`, and each `zipimporter` (one per package
  inside `pyspark.zip`) re-parses its whole archive.

This module imports the hot modules once, before the first fork, so the
workers share those pages copy-on-write, and makes a zip importer re-read
its archive only when the file's `(st_mtime_ns, st_size)` changed since its
last read (a zip a task adds or replaces is still picked up). Then it hands
over to the stock daemon loop unchanged.

`session.get_spark` selects it through `spark.python.daemon.module` only
when the workers can import `hinbox_spark` from a directory; run it as
`python -m hinbox_spark.pydaemon`.
"""

from __future__ import annotations

import contextlib
import gc
import importlib
import os
import sys
import zipimport

# imported before the first fork; any that fail to import are skipped. The
# hinbox_spark entries are the KG engine's modules (pipeline and incremental
# pull in the operators that ship its UDFs); the rest of the package is
# imported by a worker on demand.
PRELOAD = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyspark.worker",
    "pyspark.sql.pandas.serializers",
    "hinbox_spark.pipeline",
    "hinbox_spark.incremental",
    "hinbox_spark.sources.pages_gen",
)


def preload(modules=PRELOAD) -> list[str]:
    """Import each module that imports cleanly; returns the loaded names."""
    loaded = []
    for name in modules:
        try:
            importlib.import_module(name)
        except Exception as e:  # optional: the worker imports it on demand
            print(f"pydaemon: not preloaded: {name}: {e!r}", file=sys.stderr)
            continue
        loaded.append(name)
    return loaded


def keep_unchanged_zips() -> bool:
    """Make `zipimporter.invalidate_caches` skip archives whose
    `(st_mtime_ns, st_size)` is unchanged since their last read.

    Returns False (nothing patched) when this Python's zip importer does
    not re-read eagerly — there is nothing to save there."""
    stock = zipimport.zipimporter.invalidate_caches
    if "_files" not in stock.__code__.co_names or not hasattr(
        zipimport, "_zip_directory_cache"
    ):
        return False
    # archive path → (stat key at the last read, the directory it read)
    last_read: dict[str, tuple[tuple[int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        hit = last_read.get(self.archive)
        if key is not None and hit is not None and hit[0] == key:
            # several importers share one archive (one per package inside
            # it): the first re-read after a change serves the rest
            self._files = hit[1]
            zipimport._zip_directory_cache[self.archive] = hit[1]
            return
        stock(self)
        if key is None:
            last_read.pop(self.archive, None)
        else:
            last_read[self.archive] = (key, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    # stdout is the daemon's channel to the JVM (it carries the port):
    # nothing a preloaded module prints may land there
    with contextlib.redirect_stdout(sys.stderr):
        preload()
    if keep_unchanged_zips():
        # record every archive already on sys.path, so forked workers
        # inherit a warm record instead of each re-reading once
        importlib.invalidate_caches()
    # move the preloaded objects out of the collector's reach: a forked
    # worker's collections then never touch (and un-share) their pages
    gc.freeze()
    # pyspark.daemon reads the worker module from sys.argv on import
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
