"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for a large cluster (AQE on, skew-join handling,
partial-aggregation pushdown comes free from Catalyst); the test matrix runs
them on ``local[N]`` which exercises the same plans.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

from homelogging_spark.protoshim import ensure_protobuf

# the directory holding the homelogging_spark package
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ensure_worker_path() -> None:
    """Put the package's parent directory on ``PYTHONPATH``, which the
    Python workers Spark forks inherit at context start, so they import
    ``homelogging_spark`` (its UDFs, folds and the worker daemon) from
    any driver cwd. Without it they find the package only when the
    driver runs from the repo root, which ``python -m`` puts on their
    ``sys.path`` as the cwd."""
    existing = os.environ.get("PYTHONPATH", "")
    parts = existing.split(os.pathsep) if existing else []
    if PACKAGE_PARENT not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join(parts + [PACKAGE_PARENT])


def get_spark(
    app_name: str = "homelogging-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    - AQE enabled: runtime coalescing of shuffle partitions, skew-join
      splitting, dynamic join-strategy switch (broadcast when a side turns
      out small). This is the first line of defense at 100 TB.
    - Arrow enabled: every Pandas UDF / applyInPandas path transfers
      columnar batches instead of pickled rows.
    - Shuffle partitions default to max(cores, 32) locally; on a real
      cluster, AQE coalesces the (intentionally high) initial number.
    - DataFrame call-site capture off
      (``spark.python.sql.dataFrameDebugging.enabled=false``). With it
      on, PySpark wraps every DataFrame/Column API call to stamp the
      Python call site into error messages, at about six py4j round
      trips per call: some 40 % of the round trips of a telemetry query
      build. The trade-off: a runtime error no longer names the Python
      file:line that built the failing expression; its error class and
      message stay. Pass the conf as ``"true"`` in ``extra_conf`` to get
      the call sites back. It is a static conf, and PySpark reads it
      once per process, so it takes effect only on the call that
      creates the process's session.
    - Python workers run under ``homelogging_spark.workerd``
      (``spark.python.daemon.module``): ``pyspark.daemon`` with the
      zip directory re-read that CPython < 3.12 does at the start of
      every task (``importlib.invalidate_caches()`` in
      ``pyspark.worker_util``) skipped while the archive is unchanged.
      That re-read was ~0.2 s of worker CPU per task, before the task
      read a row (~0.04 s is left), which every streaming micro-batch
      with a pandas UDF paid. Changed zips are still re-read; CPython
      >= 3.12 keeps the stock ``zipimport``. Like every core conf, it
      applies only to the call that creates the process's
      SparkContext: sessions created otherwise (a plain
      ``SparkSession.builder`` session handed to ``__spark_entry__``)
      keep the stock daemon.
    """
    # must precede session creation: Python workers inherit PYTHONPATH
    # at context start; TWS workers need google.protobuf, and every
    # worker needs the package (the daemon module is in it)
    ensure_protobuf()
    ensure_worker_path()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The driver testdata stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Keep partition files executor-memory-sized at large SF.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Generous broadcast threshold: all dims in this model are small.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", "homelogging_spark.workerd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_memo(spark: SparkSession, slot: str, factory: Callable[[], Any] = dict):
    """The memo named ``slot`` (made by ``factory`` on first use), owned
    by the session object itself, for memos of frames built on that
    session. It lives and dies with the session: a module-level map
    keyed on the session, even a weak one, would be kept alive by the
    memoized frames' own references to it. A stopped and recreated
    session is a new object with empty memos."""
    memo = vars(spark).get(slot)
    if memo is None:
        memo = vars(spark).setdefault(slot, factory())
    return memo
