"""SparkSession factory with scale-oriented defaults, and `local_frame` for
driver-built DataFrames.

Local testing runs on local[N]; the same settings are what we'd submit with
`spark-submit --py-files` on a real cluster: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), Arrow on (all Python work goes
through vectorized pandas UDFs), and shuffle partitions sized to the
parallelism at hand rather than the 200 default.

Python workers start warm on a local master: when the workers will import
`hinbox_spark` from a directory (the package's parent is on PYTHONPATH, is
the cwd, or is site-packages), `spark.python.daemon.module` selects
`hinbox_spark.pydaemon`, which preloads numpy/pandas/pyarrow and the UDF
modules before it forks workers and stops re-reading unchanged zips on every
task. Anything else — a cluster master, or the package imported from a zip
as in `--py-files` deployments — keeps Spark's stock daemon, since a daemon
module the workers cannot import would fail every Python task.

The driver heap is `SPARK_DRIVER_MEM` when set, else min(24g, half of
physical RAM).

PySpark's DataFrame debugging (`spark.python.sql.dataFrameDebugging.enabled`)
is off: with it on, every DataFrame method call captures its Python call
site on the driver (the first capture imports IPython), which made up most
of the driver-side plan-building time of a small build. What is lost is the
DataFrame query context (the user code line) in analysis error messages;
the error itself is unchanged.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructType,
)

DAEMON_MODULE = "hinbox_spark.pydaemon"


def _default_driver_mem() -> str:
    """min(24g, half of physical RAM), in MiB."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (OSError, ValueError):
        return "24g"
    return f"{min(24 * 1024, phys // 2 // 2**20)}m"


def _worker_daemon(master: str) -> str | None:
    """`DAEMON_MODULE` when local workers will import `hinbox_spark` from a
    directory, else None (Spark's stock daemon).

    Workers run `python -m <daemon>` with the JVM's cwd and PYTHONPATH, so
    the package must resolve from one of those or from site-packages. A
    `--py-files` zip joins the worker path only per task, after the daemon
    has started — too late to import the daemon itself."""
    if master != "local" and not master.startswith("local["):
        return None
    import site

    import hinbox_spark

    parent = os.path.dirname(os.path.dirname(os.path.abspath(hinbox_spark.__file__)))
    if not os.path.isdir(parent):  # imported from a zip
        return None
    roots = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
        site.getusersitepackages(),
    ]
    real = os.path.realpath(parent)
    if any(r and os.path.realpath(r) == real for r in roots):
        return DAEMON_MODULE
    return None


def get_spark(
    app_name: str = "hinbox_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cores}]"
    if shuffle_partitions is None:
        # local[N] → N-ish shuffle partitions; on a real cluster this would
        # be ~2-3× total executor cores (or left to AQE coalescing).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cores if not n.isdigit() else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst deliberately left at its default (true): an
        # interleaved A/B at sf0.1 (12 queries × 3 rounds, quiet host)
        # measured 28.98 s (true) vs 29.55 s (false) — local-mode task
        # scheduling is cheap enough that coalescing below the core count
        # buys nothing, and keeping post-shuffle parallelism protects the
        # byte-tiny/CPU-heavy Python stages (r6 optimization notes).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # autoBroadcastJoinThreshold default 10MB is right for dim tables;
        # AQE converts to broadcast at runtime when sizes allow.
        # local mode runs everything in the driver JVM: size the heap like
        # a real executor fleet (~1.5 GB/core at local[16], not 0.5).
        # A/B at 1.5M pages showed 8g vs 24g makes no measurable wall-time
        # difference on this corpus, but 24g leaves headroom for cached
        # stages + concurrent scans on a 128 GiB host and mirrors a
        # realistic per-executor memory budget. Capped at half of physical
        # RAM: a 24g heap on a 15 GiB host grows until the kernel kills it.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(),
        )
        # A silently-dying Python worker otherwise leaves the JVM task in an
        # untimed socket read forever (observed once during a 480k scaling
        # run: daemon alive, zero worker children, task pinned 13+ min in
        # EPoll.wait). faulthandler makes the worker dump a stack on fatal
        # signals so the death is diagnosable instead of a silent hang.
        .config("spark.python.worker.faulthandler.enabled", "true")
        # no per-call Python call-site capture (see the module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    daemon = _worker_daemon(master)
    if daemon is not None:
        builder = builder.config("spark.python.daemon.module", daemon)
    return builder.getOrCreate()


def _arrow_value(value, dtype: DataType):
    """A Python value in the shape `pyarrow.array` takes for `dtype`:
    structs as dicts (from dicts by name, from tuples/Rows by position,
    as `createDataFrame` reads them), maps as (key, value) pairs."""
    if value is None:
        return None
    if isinstance(dtype, StructType):
        return dict(zip(dtype.names, _struct_values(value, dtype)))
    if isinstance(dtype, ArrayType):
        return [_arrow_value(v, dtype.elementType) for v in value]
    if isinstance(dtype, MapType):
        return [
            (_arrow_value(k, dtype.keyType), _arrow_value(v, dtype.valueType))
            for k, v in value.items()
        ]
    return value


def _struct_values(obj, schema: StructType) -> list:
    if isinstance(obj, dict):
        vals = [obj.get(n) for n in schema.names]
    elif isinstance(obj, (tuple, list)):
        vals = list(obj)
    else:
        vals = [obj.__dict__.get(n) for n in schema.names]
    return [_arrow_value(v, f.dataType) for v, f in zip(vals, schema.fields)]


def local_frame(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """A DataFrame of driver-side `rows` with exactly `schema` (names,
    types, nullability), as `spark.createDataFrame(rows, schema)` builds it
    but without running a Python worker.

    `createDataFrame(<list>)` pickles the rows into a PythonRDD, so even a
    12-row literal costs a Python stage (cold workers: seconds). Here the
    rows go to the JVM as one Arrow table and plan as a LocalTableScan; an
    empty frame is an empty JVM RDD (no partitions, no tasks). Rows and
    struct values may be tuples or Rows (by position) or dicts (by name);
    arrays are lists, maps dicts."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    rows = list(rows)
    if not rows:
        # built in the JVM: createDataFrame(<python RDD>) would still wrap
        # the (partitionless) RDD in a PythonRDD
        jss = spark._jsparkSession
        jdf = jss.createDataFrame(
            spark._jsc.emptyRDD(), jss.parseDataType(schema.json())
        )
        return DataFrame(jdf, spark)
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    # naive timestamps: createDataFrame localizes them in the session time
    # zone, as the list path reads naive datetimes as local time
    arrow_schema = to_arrow_schema(schema, timestamp_utc=False)
    cols = zip(*(_struct_values(r, schema) for r in rows))
    arrays = [
        pa.array(list(c), type=af.type) for c, af in zip(cols, arrow_schema)
    ]
    for f, a in zip(schema.fields, arrays):
        if not f.nullable and a.null_count:
            raise ValueError(f"field {f.name!r} is not nullable but holds None")
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema
    )
