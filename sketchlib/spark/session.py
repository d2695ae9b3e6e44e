"""SparkSession builder tuned for sketch workloads."""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

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
