"""SparkSession factory with the configuration the engine assumes, and
the one way the engine turns driver-side rows into a DataFrame.

Local mode mirrors a multi-executor cluster via partitioning: the same
job is benchmarked at two parallelism levels (local[8] vs local[32]) as
the sandbox stand-in for the N vs 4N executor scaling requirement
(BASELINE.md).

One rule for driver-built frames: rows that already sit on the driver (a
top-k result, a broadcast dictionary, a one-row invariant report) go
through :func:`local_frame`, never ``spark.createDataFrame(list)``.  A
Python list becomes a pickled Python RDD, so every later action on the
frame runs Python-worker tasks over ``defaultParallelism`` partitions; a
typed Arrow table is planned as a ``LocalRelation`` / ``LocalTableScan``
and no action on it starts a Python worker.

Python workers fork from :mod:`mgspark.daemon`, named in
``spark.python.daemon.module``.  On CPython 3.10-3.12 the stock daemon's
workers re-read the whole directory of ``pyspark.zip`` about 20 times
before every task (``importlib.invalidate_caches()`` in
``pyspark.worker_util.setup_spark_files``): 0.16-0.23 s per task on a
reused worker.  The mgspark daemon keeps that directory while the archive
is unchanged, and the call drops under 1 ms.  Measured on 4 CPUs, Python
3.11.7, local[4]: a 1-partition no-op ``mapInArrow`` takes 0.15-0.16 s
against 0.28-0.29 s with the stock daemon, and a 1-partition RDD map
0.09 s against 0.26 s.  About 0.1 s per Python stage remains over a JVM
``collect`` of the same row (``python bench_extra.py --boundary``),
spent by the worker waiting on the JVM.  Sessions not built by
:func:`get_spark` (for example ``scripts/topk_job.py``) keep the stock
daemon, and an ``extra_conf`` entry for ``spark.python.daemon.module``
overrides it.  ``get_spark`` also puts the directory that holds
``mgspark`` first on ``spark.executorEnv.PYTHONPATH``, ahead of any value
the caller passes, so workers import the daemon and mgspark's pickled
UDFs from any cwd.

The session keeps Spark's 64 MB ``spark.sql.execution.arrow.maxBytesPerBatch``.
The pipeline's document UDFs ship whole documents across the Arrow
boundary, and 262,144 documents of 10 KB would make one 2.6 GB batch;
the byte cap is what closes those batches early.  The sketch
build projects narrow columns, which the row cap alone bounds, so
:func:`mgspark.sketches.base.sketch_agg` lifts the byte cap for its own
jobs only, as a thread-local property.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# The directory that holds the ``mgspark`` package, so Python workers
# started from any cwd can import the daemon and mgspark's own UDFs.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "mgspark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("MGSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.python.daemon.module", "mgspark.daemon")
    )
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], ddl: str | StructType
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``ddl`` column
    order), planned as a ``LocalTableScan``; building it starts no job.

    Each column becomes an Arrow array of the type the schema declares,
    so a value of the wrong type raises instead of being coerced.  Two
    holes in Arrow's own conversion are closed here: a float in an
    integral column (Arrow truncates it) and a null in a non-nullable
    column (Arrow keeps it).
    """
    schema = ddl if isinstance(ddl, StructType) else StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    if any(len(row) != len(arrow_schema) for row in rows):
        raise ValueError(f"local_frame: every row needs {len(arrow_schema)} values")
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    arrays = []
    for values, field in zip(columns, arrow_schema):
        if pa.types.is_integer(field.type) and any(isinstance(v, float) for v in values):
            raise TypeError(f"local_frame: float value in integral column {field.name!r}")
        array = pa.array(values, type=field.type)
        if not field.nullable and array.null_count:
            raise ValueError(f"local_frame: null in non-nullable column {field.name!r}")
        arrays.append(array)
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema), schema)
