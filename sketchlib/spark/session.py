"""SparkSession builder tuned for sketch workloads."""

from __future__ import annotations

import datetime
import os
import site

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

#: directory that holds the ``sketchlib`` package
_PKG_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def get_spark(
    master: str | None = None,
    app_name: str = "sketchlib",
    shuffle_partitions: int | None = None,
    arrow_batch_size: int = 65536,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession.

    Local default honors ``SPARK_GRAFT_CPUS`` (driver contract).  On a
    real cluster, pass master=None and configure via spark-submit; the
    library itself never assumes local mode.

    On a local master whose Python workers can import this package, the
    workers start from :mod:`sketchlib._daemon`, which saves each task
    the re-read of ``pyspark.zip`` that Python < 3.12 does at task start
    (see :func:`_daemon_module`); ``extra_conf`` overrides it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    b = SparkSession.builder.master(master).appName(app_name)
    conf = _session_conf(master, shuffle_partitions, arrow_batch_size, extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(
    spark: SparkSession, rows: list, schema: StructType | str
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema``'s
    field order; ``schema`` is a StructType or a DDL string).

    The rows travel as one Arrow table, which plans a
    ``LocalTableScan``: ``createDataFrame(<list>)`` plans
    ``Scan ExistingRDD`` instead, a Python RDD whose every action runs
    Python tasks.  Nulls and binary values round-trip unchanged."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    # a naive datetime is local time (as collect() returns it and
    # createDataFrame(<list>) reads it); pyarrow would store its wall
    # time as UTC
    cols = [
        [v if v is None else v.astimezone(datetime.timezone.utc) for v in c]
        if pa.types.is_timestamp(f.type) and f.type.tz
        else c
        for c, f in zip(cols, arrow_schema)
    ]
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def _session_conf(
    master: str,
    shuffle_partitions: int | None,
    arrow_batch_size: int,
    extra_conf: dict | None,
) -> dict:
    """The Spark conf :func:`get_spark` sets; ``extra_conf`` entries win."""
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * _parse_cores(master), 8)
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(arrow_batch_size),
        "spark.driver.memory": os.environ.get("SKETCHLIB_DRIVER_MEM", "8g"),
        "spark.sql.parquet.filterPushdown": "true",
        "spark.python.worker.reuse": "true",
        # a fixed young generation of a quarter of the heap: G1 otherwise
        # grows eden adaptively (up to 60% of the heap) at a pace set by
        # pause timings, so how much of the heap is resident varies
        # from run to run of the same job
        "spark.driver.defaultJavaOptions": "-XX:NewRatio=3",
    }
    daemon = _daemon_module(master)
    if daemon is not None:
        conf["spark.python.daemon.module"] = daemon
    conf.update(extra_conf or {})
    return conf


def _daemon_module(master: str, root: str = _PKG_ROOT) -> str | None:
    """The Python daemon module for ``master``, or None for Spark's own.

    ``sketchlib._daemon`` only where workers are known to import the
    package: a ``local`` master (workers share this machine, environment
    and working directory) and a package ``root`` directory that is in
    site-packages, on ``PYTHONPATH``, or the working directory (which
    ``python -m`` puts first on the worker's path).
    """
    if master != "local" and not master.startswith("local["):
        return None
    if not os.path.isdir(root):  # e.g. imported from a --py-files zip
        return None
    visible = site.getsitepackages() + [site.getusersitepackages(), os.getcwd()]
    visible += os.environ.get("PYTHONPATH", "").split(os.pathsep)
    real = os.path.realpath(root)
    if any(p and os.path.realpath(p) == real for p in visible):
        return "sketchlib._daemon"
    return None


def _parse_cores(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
