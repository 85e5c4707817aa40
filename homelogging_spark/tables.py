"""Loaders for the driver test tables (TESTDATA.md star schema).

All operators take DataFrames, so these helpers are thin: a scan per table
with column pruning / predicate pushdown left entirely to Catalyst. At
100 TB the same tables would be date/key-partitioned parquet or Delta; the
reader code is unchanged.

Every table and fixture is read through :func:`read_parquet`, which
memoizes the schema Spark infers on a path's first read. An unschema'd
``spark.read.parquet`` starts a footer-reading Spark job on every call;
the reference's clients run many small repeated queries over the same
tables, so that job was a fixed cost of every query. The memo is per
session and is keyed on the absolute path, the
``spark.sql.legacy.parquet.nanosAsLong`` value (it changes what a
TIMESTAMP(NANOS) column infers to) and a fingerprint of the path and
its ``_SUCCESS`` marker (inode, mtime_ns, size). Every committed Spark
write rewrites ``_SUCCESS``, so a write to the path forces a fresh
inference. A hit passes the memoized schema to the reader: Spark still
lists the files, so new files and partitions are seen, but it starts no
job. A path that cannot be fingerprinted (missing, or a URI with a
scheme) is always read the plain way, so its errors stay Spark's own.

The same fingerprints guard the prepared registry plans
(``plans/plancache.py``). While a registry query is built,
:func:`read_parquet` reports every path it reads, and
:func:`_fixture_stale` every source a fixture is derived from, to the
thread's input recorder (:func:`recorded_inputs`); a cached plan is
served again only while each recorded fingerprint is unchanged. A
plain ``spark.read`` is not recorded, and the plan cache never keeps a
plan over a file relation it did not record; a builder that reads a
file on the driver (Python file I/O into a local frame) must report it
with :func:`record_input` itself.
"""

from __future__ import annotations

import contextlib
import os
import threading
import weakref
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# session -> {(absolute path, nanosAsLong): (fingerprint, schema)}. Weakly
# keyed, so the memo lives and dies with its session; one entry per path,
# replaced when the path's fingerprint changes.
_SCHEMA_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMA_MEMO_LOCK = threading.Lock()


def _stat_key(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _fingerprint(path: str) -> tuple | None:
    """(path stat, _SUCCESS stat or None), or None when the path is a
    URI with a scheme or does not exist."""
    if urlparse(path).scheme:
        return None
    try:
        own = _stat_key(path)
    except OSError:
        return None
    try:
        success = _stat_key(os.path.join(path, "_SUCCESS"))
    except OSError:  # a single file, or a directory no Spark job committed
        success = None
    return (own, success)


_RECORDING = threading.local()


@contextlib.contextmanager
def recorded_inputs():
    """Collect the inputs this thread reports (:func:`record_input`)
    inside the block, as ``{absolute path: fingerprint}``. Recorders
    nest: an input is reported to every open one. A path reported twice
    with different fingerprints (rewritten during the block) maps to
    None, as does a path that cannot be fingerprinted."""
    rec: dict = {}
    stack = _RECORDING.__dict__.setdefault("stack", [])
    stack.append(rec)
    try:
        yield rec
    finally:
        stack.pop()


def record_input(path: str) -> None:
    """Report ``path`` as an input of whatever the thread is building;
    a no-op when no recorder is open."""
    stack = getattr(_RECORDING, "stack", None)
    if not stack:
        return
    fp = _fingerprint(path)
    path = os.path.abspath(path)
    for rec in stack:
        rec[path] = fp if rec.get(path, fp) == fp else None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema memoized per
    session (see the module docstring for the key and when it is
    refreshed). The path is reported to the thread's input recorder."""
    record_input(path)
    fp = _fingerprint(path)
    if fp is None:
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    with _SCHEMA_MEMO_LOCK:
        hit = _SCHEMA_MEMO.get(spark, {}).get(key)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    schema = df.schema
    with _SCHEMA_MEMO_LOCK:
        _SCHEMA_MEMO.setdefault(spark, {})[key] = (fp, schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    try:
        # Runtime-settable; required to read TIMESTAMP(NANOS) parquet when
        # the caller's session (e.g. the driver's) didn't set it at build.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    # Normalize the timestamp physical encodings the driver testdata has
    # shipped across rounds to a plain TIMESTAMP (LTZ) column:
    #  - TIMESTAMP(NANOS) arrives as nanosecond longs (see
    #    spark.sql.legacy.parquet.nanosAsLong in session.py);
    #  - timestamp[us] without tz arrives as TIMESTAMP_NTZ in Spark 4,
    #    which unix_millis()/window functions reject. The cast
    #    interprets the wall clock in the session timezone (UTC in the
    #    engine's sessions), matching how every oracle reads the file.
    for field in df.schema.fields:
        if field.name in ("ts",):
            if field.dataType.simpleString() == "bigint":
                df = df.withColumn(
                    field.name, F.timestamp_micros(F.expr(f"{field.name} div 1000"))
                )
            elif field.dataType.simpleString() == "timestamp_ntz":
                df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a small input across the session's cores
    before CPU-heavy per-row work (md5/shingle hashing, regex parsing,
    hyperplane projections).

    The local test files are a single parquet split, so without this
    every hash and regex of a 5 MB table runs on ONE thread of a 32-core
    box. At 100 TB the scan already yields thousands of splits and this
    must NOT become a full shuffle of the payload — hence the gate: it is
    a no-op whenever the scan's own parallelism already covers the
    cluster's cores."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # df.rdd.getNumPartitions() forces physical planning + RDD conversion
    # once per call — accepted: the callers are small CPU-bound fixture
    # scans where the mis-parallelism costs seconds and the probe costs
    # milliseconds; a scan already split past `target` skips the shuffle.
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def meters_dim(events: DataFrame) -> DataFrame:
    """The ``meters`` document collection (SURVEY §1.1) derived
    deterministically from the fact table's meter keys: one row per
    device with vendor/medium class columns and a MAC-style identity —
    the F2 device-class-scan and J3 identity-join target. Tiny by
    construction; always broadcast."""
    vendors = F.when(F.col("user_id") % 3 == 0, F.lit("Kasa")).when(
        F.col("user_id") % 3 == 1, F.lit("Tapo")
    ).otherwise(F.lit("Goodwe"))
    media = F.when(F.col("user_id") % 3 == 2, F.lit("SolarPower")).otherwise(
        F.lit("Electricity")
    )
    return (
        events.select("user_id")
        .distinct()
        .select(
            F.concat(F.lit("meters/"), F.col("user_id").cast("string")).alias("meter_id"),
            F.col("user_id"),
            vendors.alias("vendor_info"),
            media.alias("medium"),
            F.concat(F.lit("aa-bb-"), F.col("user_id").cast("string")).alias("mac"),
        )
    )


_FIXTURE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark-warehouse"
)


def _fixture_path(sf_dir: str, prefix: str) -> str:
    """Cache path for a per-sf_dir materialized fixture. Keyed on the
    basename PLUS a hash of the absolute path so two sf_dirs with the
    same basename (e.g. ``a/sf0.01`` and ``b/sf0.01``) never collide."""
    import hashlib

    abs_dir = os.path.abspath(sf_dir.rstrip("/"))
    name = os.path.basename(abs_dir) or "sf"
    digest = hashlib.md5(abs_dir.encode()).hexdigest()[:8]
    return os.path.join(_FIXTURE_ROOT, f"{prefix}_{name}_{digest}")


def _fixture_stale(path: str, *source_files: str) -> bool:
    """A fixture needs (re)building when its _SUCCESS marker is missing
    or older than any source parquet it was derived from — so a
    regenerated testdata dir invalidates the cache instead of silently
    serving stale rows. Each source is reported to the thread's input
    recorder, so a plan over the fixture goes stale with its sources."""
    for src in source_files:
        record_input(src)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        return True
    built = os.path.getmtime(marker)
    return any(
        os.path.exists(src) and os.path.getmtime(src) > built
        for src in source_files
    )


class _fixture_build_lock:
    """Cross-process exclusive lock for a fixture build (flock on a
    sibling lockfile). Two sessions first-touching the same fixture
    would otherwise race their overwrite writes into one path; with the
    lock, the loser re-checks staleness and finds the winner's build.
    Single-box scope is the right scope: the fixture root is a local
    spark-warehouse directory."""

    def __init__(self, path: str):
        self._lock_path = path.rstrip("/") + ".lock"
        self._fh = None

    def __enter__(self):
        import fcntl

        os.makedirs(os.path.dirname(self._lock_path), exist_ok=True)
        self._fh = open(self._lock_path, "w")
        fcntl.flock(self._fh, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        import fcntl

        fcntl.flock(self._fh, fcntl.LOCK_UN)
        self._fh.close()
        return False


def meters_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The *materialized* meters dimension: built once per sf_dir by the
    fixture layer (``meters_dim`` derivation pushed through the real K2
    ``upsert_meters`` sink into parquet), then read back as an ordinary
    dimension table.

    Queries must consume THIS, not ``meters_dim(events)`` directly —
    re-deriving a dimension from the fact table inside every query costs
    an extra fact scan + distinct shuffle per query, which is exactly the
    anti-pattern the K2/K3 upsert sinks exist to avoid. At 100 TB the
    meters dim is a real table maintained by ingest; this mirrors that."""
    path = _fixture_path(sf_dir, "meters") + ".parquet"
    src = os.path.join(sf_dir, "events.parquet")
    if _fixture_stale(path, src):
        with _fixture_build_lock(path):
            if _fixture_stale(path, src):  # loser of the race re-checks
                from homelogging_spark.operators.ingest import upsert_meters

                updates = meters_dim(load_table(spark, sf_dir, "events"))
                # an empty frame planned on the JVM alone: a local
                # createDataFrame would start Python workers to read it
                existing = updates.limit(0)
                upsert_meters(existing, updates).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(path)
    return read_parquet(spark, path)


def series_flow_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The *materialized* series-flow readings: two multi-valued series
    layouts (PowerEnergy, MPPT1) with per-entry Tag metadata, derived
    from the events fact and pushed through the real K1 deduped
    partitioned append (``ingest.append_readings``) — DOUBLED first, so
    the sink's (meter_id, series, ts) last-write-wins dedup is what
    collapses the batch. Built once per sf_dir by the fixture layer
    (ingest-time work, like ``meters_table``); registered queries are
    pure reads of the result, so they are idempotent under concurrent
    runs and their bench time measures a plan, not a parquet write."""
    from pyspark.sql import functions as F  # noqa: F811 (module alias)

    path = _fixture_path(sf_dir, "series_flow")
    src = os.path.join(sf_dir, "events.parquet")
    if _fixture_stale(path, src):
        with _fixture_build_lock(path):
            if _fixture_stale(path, src):
                _build_series_flow(spark, sf_dir, path)
    return read_parquet(spark, path)


def _build_series_flow(spark: SparkSession, sf_dir: str, path: str) -> None:
    import shutil

    from homelogging_spark.operators.ingest import append_readings

    events = load_table(spark, sf_dir, "events")
    tag = F.when(F.col("value") >= 50.0, "peak").otherwise("offpeak")
    pe = events.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("meter_id"),
        "ts",
        F.lit("PowerEnergy").alias("series"),
        F.array(
            F.col("value"), F.col("value") * 0.001, F.col("value") + 1.0
        ).alias("values"),
        tag.alias("tag"),
    )
    mp = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("meter_id"),
        "ts",
        F.lit("MPPT1").alias("series"),
        F.array(
            F.col("value") * 0.1, F.lit(230.0) + F.col("value") * 0.01
        ).alias("values"),
        tag.alias("tag"),
    )
    batch = pe.unionByName(mp)
    shutil.rmtree(path, ignore_errors=True)
    # K1: the doubled batch must collapse to one copy in the sink's
    # (meter_id, series, ts) last-write-wins dedup
    append_readings(batch.unionByName(batch), path)


def compacted_readings_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The *materialized* result of small-file compaction over a
    deliberately fragmented K1-style (series, date)-partitioned readings
    table (``operators/maintenance.py`` — the OPTIMIZE cycle the
    reference's 10-second ``LoggerService`` polling cadence makes
    necessary). Built once per sf_dir by the fixture layer: a
    fragmented write (every shuffle task drops a small file into every
    partition it holds rows for), then ``compact_readings`` rewrites
    every in-policy partition. Registered queries are pure reads of the
    result, so row conservation through the fragment→compact→read cycle
    is what the oracle checks; the file-count invariants live in
    ``tests/test_maintenance.py`` (not SQL-expressible)."""
    path = _fixture_path(sf_dir, "compacted")
    src = os.path.join(sf_dir, "events.parquet")
    if _fixture_stale(path, src):
        with _fixture_build_lock(path):
            if _fixture_stale(path, src):
                _build_compacted_readings(spark, sf_dir, path)
    return read_parquet(spark, path)


# The fixture's slice of events: two series over the first ten days —
# 20 leaf partitions, enough to exercise per-partition compaction
# without turning the one-time build into minutes of tiny Spark jobs.
COMPACTED_SERIES = ("signup", "click")
COMPACTED_TS_END = "2024-01-11 00:00:00"


def _build_compacted_readings(spark: SparkSession, sf_dir: str, path: str) -> None:
    import shutil

    from homelogging_spark.operators.maintenance import compact_readings

    events = load_table(spark, sf_dir, "events")
    readings = events.where(
        F.col("event_type").isin(*COMPACTED_SERIES)
        & (F.col("ts") < F.lit(COMPACTED_TS_END).cast("timestamp"))
    ).select(
        F.col("user_id").alias("meter_id"),
        "ts",
        "value",
        F.col("event_type").alias("series"),
        F.to_date("ts").alias("date"),
    )
    shutil.rmtree(path, ignore_errors=True)
    # Fragment: 6 round-robin shuffle tasks each write their own small
    # file into every (series, date) partition — the layout a day of
    # micro-batch appends produces.
    readings.repartition(6).write.partitionBy("series", "date").parquet(path)
    compact_readings(spark, path, target_file_bytes=64 * 1024 * 1024, min_files=2)


def zordered_readings_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compacted readings table rewritten through
    ``maintenance.zorder_rewrite`` on (meter_id, value) — built once per
    sf_dir on top of the compacted fixture. Registered queries read the
    result, so row conservation through the fragment → compact → Z-order
    cycle is oracle-checked end-to-end; the footer-level skipping
    invariants (which SQL cannot see) live in
    ``tests/test_maintenance.TestZorderRewrite``."""
    path = _fixture_path(sf_dir, "zordered")
    # stale against BOTH the raw source and the compacted fixture this is
    # derived from — a manually rebuilt compacted fixture (newer _SUCCESS,
    # unchanged events.parquet) must invalidate the Z-order cache too
    srcs = (
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(_fixture_path(sf_dir, "compacted"), "_SUCCESS"),
    )
    if _fixture_stale(path, *srcs):
        with _fixture_build_lock(path):
            if _fixture_stale(path, *srcs):
                import shutil

                from homelogging_spark.operators.maintenance import zorder_rewrite

                t = compacted_readings_table(spark, sf_dir)
                shutil.rmtree(path, ignore_errors=True)
                zorder_rewrite(t, path, ["meter_id", "value"], n_files=8, bits=4)
    return read_parquet(spark, path)


def inc_zordered_readings_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compacted readings table rewritten IN PLACE through the
    partition-scoped ``maintenance.incremental_layout_rewrite`` on
    (meter_id, value) — the 100 TB maintenance path: a copy of the
    compacted fixture is audited per (series, date) partition from
    parquet footers and only failing partitions are rewritten through
    the journaled swap protocol. Registered queries read the result, so
    row conservation through the fragment → compact → per-partition
    Z-order cycle is oracle-checked end-to-end; the pruning, isolation
    (untouched partitions byte-identical), and convergence invariants
    live in ``tests/test_maintenance.TestIncrementalLayoutRewrite``.

    r16: the rewrite runs through the COMPOSED nightly entry point
    (``maintenance.nightly_cycle`` layout leg = recover → compact →
    incremental layout rewrite) instead of calling the rewrite
    directly, so the registered ``maintenance_panel`` row now certifies
    the production composition's row conservation, not just the single
    operator's. Emitted rows are identical either way (the composition
    adds crash recovery — a no-op here — and the compaction pass, which
    is row-preserving by the K1 contract); ordering/idempotency/crash
    pins live in ``TestNightlyCycle``."""
    path = _fixture_path(sf_dir, "inc_zordered")
    srcs = (
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(_fixture_path(sf_dir, "compacted"), "_SUCCESS"),
    )
    if _fixture_stale(path, *srcs):
        with _fixture_build_lock(path):
            if _fixture_stale(path, *srcs):
                import shutil

                from homelogging_spark.operators.maintenance import (
                    nightly_cycle,
                )

                compacted_readings_table(spark, sf_dir)  # ensure built
                src_path = _fixture_path(sf_dir, "compacted")
                shutil.rmtree(path, ignore_errors=True)
                # copy2 preserves mtimes: the copied _SUCCESS keeps the
                # compacted fixture's timestamp, so staleness stays keyed
                # on the SOURCE build time
                shutil.copytree(src_path, path)
                nightly_cycle(
                    spark,
                    readings_path=path,
                    layout_cols=["meter_id", "value"],
                    layout_kwargs=dict(n_files=8, bits=4),
                ).collect()
    return read_parquet(spark, path)


METERS_DIM_SQL = """
  SELECT 'meters/' || CAST(user_id AS VARCHAR) AS meter_id,
         user_id,
         CASE WHEN user_id % 3 = 0 THEN 'Kasa'
              WHEN user_id % 3 = 1 THEN 'Tapo' ELSE 'Goodwe' END AS vendor_info,
         CASE WHEN user_id % 3 = 2 THEN 'SolarPower' ELSE 'Electricity' END AS medium,
         'aa-bb-' || CAST(user_id AS VARCHAR) AS mac
  FROM (SELECT DISTINCT user_id FROM events)
"""


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every test table as a DataFrame keyed by name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register each table as a temp view for spark.sql() use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
