"""Prepared registry plans: a per-session cache of built query plans.

The reference's clients re-issue the same time-series queries in a
loop — the switchboiler control loop reads its trailing percentile every
cycle, the dashboards re-read the same hourly series — and building a
registry query's DataFrame costs some 100-530 py4j round trips
(DataFrame calls analysed eagerly on the JVM, function lookups, proxy
deletes), about a third of a small query's time. ``QUERIES[name]`` is
therefore :func:`prepared`: while nothing the plan depends on has
changed, a call returns the DataFrame built for the same
``(session, name, sf_dir)`` on an earlier call. A hit costs a few
``os.stat`` calls and one snapshot of the session's SQL conf, and no
DataFrame API call; every action on the returned frame still plans its
execution and reads the data afresh.

Validity contract — a cached plan is served only when all of these hold:

* **Recorded inputs are unchanged.** While a query is built (a miss),
  ``tables.read_parquet`` reports every path it reads, and the fixture
  builders every source file their staleness check compares against, to
  the thread's input recorder (``tables.recorded_inputs``). The entry
  keeps each path's ``tables._fingerprint`` (inode, mtime, size of the
  path and its ``_SUCCESS`` marker). A hit needs every fingerprint to be
  non-None and unchanged, so a missing path, a rewritten file or a
  committed write to a table forces a rebuild; on a table receiving
  appends, each committed write invalidates the plans that read it.
* **The SQL conf is unchanged.** Analysis bakes conf values into a plan
  (the session time zone into time casts, for one), so the entry keeps a
  snapshot of the session's SQL conf taken after the build (builds may
  set confs: ``load_table`` sets ``nanosAsLong``), and a hit needs the
  same snapshot. It is two JVM round trips on a kept handle
  (``SQLConf.getAllConfs().toString()``), not PySpark's
  ``spark.conf.getAll``, which costs tens of milliseconds.
* **Never cached:** a build that registered ``cachelife.tracked_persist``
  frames (``release_caches()`` would unpersist them under the cached
  plan), and a build whose analysed plan has a leaf the recorder did not
  see: a file relation with a root path that was not recorded, or any
  streaming or other source relation. Leaves without an input
  (``LocalRelation``, ``OneRowRelation``, ``Range``, and a
  ``LogicalRDD`` whose lineage starts only at local collections) are
  allowed.

Scope: entries live on the session object (``session.session_memo``),
so they die with it and a stopped and recreated session starts empty.
There is one entry per ``(name, sf_dir)``, replaced on a miss.
:func:`clear_plan_cache` drops a session's entries — use it to measure
a cold build. There is no switch to turn the cache off.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from typing import NamedTuple
from urllib.parse import urlparse

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from homelogging_spark.functions.cachelife import persist_count
from homelogging_spark.session import session_memo
from homelogging_spark.tables import _fingerprint, recorded_inputs

_SLOT = "_prepared_plans"

# Analysed-plan leaves that read no input.
_INPUTLESS_LEAVES = ("LocalRelation", "OneRowRelation", "Range")


class _Entry(NamedTuple):
    df: DataFrame
    inputs: tuple  # ((absolute path, fingerprint), ...)
    conf: str


class _Plans:
    """One session's prepared plans and its SQL conf handle."""

    def __init__(self, spark: SparkSession):
        self._jconf = spark._jsparkSession.sessionState().conf()
        self.entries: dict[tuple[str, str], _Entry] = {}

    def conf(self) -> str:
        return self._jconf.getAllConfs().toString()


def _plans(spark: SparkSession) -> _Plans:
    return session_memo(spark, _SLOT, lambda: _Plans(spark))


def clear_plan_cache(spark: SparkSession) -> None:
    """Drop every prepared plan of ``spark``: the next call of each
    query builds it again."""
    _plans(spark).entries.clear()


def prepared(
    name: str, build: Callable[[SparkSession, str], DataFrame]
) -> Callable[[SparkSession, str], DataFrame]:
    """``build`` behind the session's plan cache (module docstring)."""

    @functools.wraps(build)
    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        plans = _plans(spark)
        key = (name, sf_dir)
        entry = plans.entries.get(key)
        if (
            entry is not None
            and all(_fingerprint(p) == fp for p, fp in entry.inputs)
            and plans.conf() == entry.conf
        ):
            return entry.df
        persisted = persist_count()
        with recorded_inputs() as inputs:
            df = build(spark, sf_dir)
        if (
            persist_count() == persisted
            and None not in inputs.values()
            and _reads_only(df, inputs)
        ):
            plans.entries[key] = _Entry(df, tuple(inputs.items()), plans.conf())
        else:
            plans.entries.pop(key, None)
        return df

    return query


def _reads_only(df: DataFrame, paths) -> bool:
    """Whether every leaf of ``df``'s analysed plan is inputless or
    reads only files under ``paths``."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            kind = leaf.nodeName()
            if kind in _INPUTLESS_LEAVES:
                continue
            if kind == "LogicalRDD" and _local_lineage(leaf.rdd()):
                continue
            if kind == "LogicalRelation" and _recorded_roots(leaf.relation(), paths):
                continue
            return False
    except Py4JError:  # a leaf of a shape not known here
        return False
    return True


def _recorded_roots(relation, paths) -> bool:
    roots = relation.location().rootPaths()
    for i in range(roots.size()):
        uri = urlparse(roots.apply(i).toString())
        if uri.scheme not in ("", "file") or os.path.abspath(uri.path) not in paths:
            return False
    return True


def _local_lineage(rdd) -> bool:
    """Whether every source RDD under ``rdd`` is a driver-side local
    collection (``createDataFrame`` of Python or pandas data)."""
    deps = rdd.dependencies()
    n = deps.size()
    if n == 0:
        return rdd.getClass().getSimpleName() == "ParallelCollectionRDD"
    return all(_local_lineage(deps.apply(i).rdd()) for i in range(n))
