"""Sinks K1-K3: the engine's write path (SURVEY §2.2).

The reference appends batched time-series entries per session
(``P1/P1Logger.cs:131-156``), upserts mutable meter documents (K2 —
``Kasa/KasaLogger.cs:44,73`` mutates ``EnergyOffset``), and registers
series value-names (K3). RavenDB appends are idempotent per
``(series, ts)`` — re-appending overwrites — so the Spark sink's
contract is *last-write-wins dedup on (meter_id, series, ts)*.

Layout for 100 TB: parquet partitioned by ``(series, date)`` —
partition pruning serves both access patterns the reference has
(per-series scans, time-range scans). Within a batch, dedup is a
window over the natural key; across batches, plain parquet append
relies on batch-disjoint time ranges (the polling reality), while a
table format with MERGE (Delta/Iceberg) is the drop-in upgrade for
true cross-batch idempotence — the call-site API here stays the same.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

READING_KEY = ("meter_id", "series", "ts")


def dedup_readings(
    df: DataFrame,
    key: Sequence[str] = READING_KEY,
    order_col: str | None = None,
) -> DataFrame:
    """Last-write-wins dedup on the natural key. With no ``order_col``
    the arrival order is meaningless in batch, so ties break by the
    remaining columns (deterministic); with one (e.g. an ingest sequence
    number), the greatest wins — RavenDB overwrite semantics."""
    order = (
        [F.col(order_col).desc()]
        if order_col
        else [F.col(c).desc() for c in sorted(df.columns) if c not in key]
    )
    w = Window.partitionBy(*key).orderBy(*order) if order else Window.partitionBy(*key).orderBy(F.lit(1))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def append_readings(
    df: DataFrame,
    path: str,
    key: Sequence[str] = READING_KEY,
    partition_cols: Sequence[str] = ("series", "date"),
    order_col: str | None = None,
) -> None:
    """K1: partitioned, deduped append of a readings batch. Adds a
    ``date`` partition column from ``ts`` when requested."""
    out = dedup_readings(df, key, order_col)
    if "date" in partition_cols and "date" not in out.columns:
        out = out.withColumn("date", F.to_date("ts"))
    out.write.mode("append").partitionBy(*partition_cols).parquet(path)


def read_readings(spark: SparkSession, path: str) -> DataFrame:
    from homelogging_spark.tables import read_parquet

    return read_parquet(spark, path)


def refresh_rollup(
    spark: SparkSession,
    readings_path: str,
    rollup_path: str,
    changed_dates: Sequence[str] | None = None,
    bucket: str = "hour",
    keys: Sequence[str] = ("meter_id", "series"),
    ts_col: str = "ts",
    value_col: str = "value",
) -> None:
    """Continuous-aggregate (hypertable-rollup-style) maintenance: keep a
    bucketed rollup table in sync with the readings table by recomputing
    ONLY the date partitions late/new data touched.

    The scale contract: a day of new readings must never trigger a full
    -history recompute. The rollup is parquet partitioned by ``date``;
    refresh reads just the changed dates from the base, re-aggregates
    them, and dynamically overwrites exactly those rollup partitions
    (``partitionOverwriteMode=dynamic`` — the other partitions' files
    are untouched). Idempotent: re-running for the same dates rewrites
    identical content.
    """
    agg = rollup_frame(
        spark, readings_path, changed_dates, bucket, keys, ts_col, value_col
    )
    writer = agg.write.mode("overwrite").partitionBy("date")
    with _dynamic_partition_overwrite(spark):
        writer.parquet(rollup_path)


def rollup_frame(
    spark: SparkSession,
    readings_path: str,
    changed_dates: Sequence[str] | None = None,
    bucket: str = "hour",
    keys: Sequence[str] = ("meter_id", "series"),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """The rollup rows :func:`refresh_rollup` writes: per key and
    ``bucket``, avg/sum/count of ``value_col``, with the bucket's
    ``date``. With ``changed_dates``, a base that has a ``date`` column
    (the K1 ``(series, date)`` layout, where it is a partition column
    equal to ``to_date(ts)``) is filtered on it, so the scan prunes to
    those partitions; Spark cannot prune on ``to_date(ts)``, which is the
    filter for any other base."""
    from homelogging_spark.functions.timeutils import time_bucket
    from homelogging_spark.tables import read_parquet

    base = read_parquet(spark, readings_path)
    if changed_dates is not None:
        dates = [F.lit(d).cast("date") for d in changed_dates]
        day = F.col("date") if "date" in base.columns else F.to_date(F.col(ts_col))
        base = base.where(day.isin(dates))
    return (
        base.groupBy(
            *keys,
            time_bucket(F.col(ts_col), bucket).alias("bucket"),
        )
        .agg(
            F.avg(value_col).alias("avg_value"),
            F.sum(value_col).alias("sum_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn("date", F.to_date("bucket"))
    )


def snapshot_cdc_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    old_val: str = "old_bal",
    new_val: str = "new_bal",
) -> DataFrame:
    """Change-data-capture between two snapshots of a keyed dimension —
    the merge audit for the reference's mutable-document upserts (K2,
    ``Kasa/KasaLogger.cs:44,73``) seen from the outside: full outer join
    on the key, each row classified added / removed / changed /
    unchanged. Presence is decided by literal marker columns stamped on
    each side BEFORE the join — never by value-column null-ness — so a
    key present in both snapshots with a legitimately NULL value is
    still 'unchanged' (NULL→NULL) or 'changed' (NULL→x), not
    misreported as added/removed. The value comparison itself is
    null-safe (``eqNullSafe``).

    Scale: ONE co-keyed shuffle join — and when both snapshots are
    bucketed on ``key_col`` at write time (the recurring-CDC layout; a
    dim snapshot re-lands every round, so the write-side bucketing
    amortizes), the full outer SortMergeJoin runs with ZERO Exchange:
    plan-pinned by ``TestBucketedSnapshotDiff`` on this exact function.
    """
    j = old.withColumn("__in_old", F.lit(1)).join(
        new.withColumn("__in_new", F.lit(1)), key_col, "full_outer"
    )
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(~F.col(old_val).eqNullSafe(F.col(new_val)), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(key_col, old_val, new_val, change.alias("change_type"))


class _dynamic_partition_overwrite:
    """Scoped ``spark.sql.sources.partitionOverwriteMode=dynamic`` —
    overwrite replaces only the partitions present in the written frame."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", self.prev)
        return False


def upsert_meters(existing: DataFrame, updates: DataFrame, key: str = "meter_id") -> DataFrame:
    """K2: document upsert for the small ``meters`` dimension —
    updates win over existing rows, new keys are inserted. Dimension
    tables are tiny; overwrite-on-write (or Delta MERGE at scale) is the
    strategy, this computes the merged state."""
    tagged = updates.withColumn("__new", F.lit(1)).unionByName(
        existing.withColumn("__new", F.lit(0)), allowMissingColumns=True
    )
    w = Window.partitionBy(key).orderBy(F.col("__new").desc())
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__new")
    )


def register_series(existing: DataFrame, series: str, value_names: Sequence[str]) -> DataFrame:
    """K3: series-schema registration — append-or-replace one series'
    advisory value-name layout (``P1/P1Logger.cs:103-125``)."""
    spark = existing.sparkSession
    update = spark.createDataFrame(
        [(series, list(value_names))], "series string, value_names array<string>"
    )
    return upsert_meters(existing, update, key="series")


def scd2_history(
    df: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str = "ts",
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an observation /
    change log — the third member of the mutable-dimension family:
    :func:`upsert_meters` (K2) applies the latest state,
    :func:`snapshot_cdc_diff` audits one transition, this reconstructs
    the FULL version history. Consecutive observations of a key whose
    ``attr_cols`` are all unchanged collapse into one version row with
    ``[valid_from, valid_to)`` validity; ``valid_to`` is NULL on the
    open (current) version. Re-observing an old value after a change
    opens a NEW version (A,A,B,A → 3 versions) — SCD2 semantics, not
    distinct-values. Attribute comparison is null-safe, so NULL→NULL is
    "unchanged" and NULL→x is a version boundary.

    Plan shape (pinned by ``TestScd2Plan``): ONE shuffle. The boundary
    lag, the running version sum, the per-version aggregate, and the
    ``lead(valid_from)`` close-off all cluster by ``key_cols`` (or a
    superset), so after the first Exchange on the key every stage is
    sort-only — HashPartitioning(keys) satisfies the clustered
    distribution of (keys, version) windows and aggregates. At 100 TB
    the cost is the one key shuffle plus per-partition sorts; no
    driver-side state, no global window.

    Pass ``order_tiebreak`` (e.g. a log sequence id) to make ordering
    deterministic when timestamps can tie.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in order_tiebreak]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    changed = F.lit(False)
    for a in attr_cols:
        changed = changed | ~F.lag(F.col(a)).over(w).eqNullSafe(F.col(a))
    is_new = F.when(prev_ts.isNull() | changed, 1).otherwise(0)
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versioned = df.withColumn("version", F.sum(is_new).over(running).cast("bigint"))
    grouped = versioned.groupBy(*key_cols, "version").agg(
        F.min(ts_col).alias("valid_from"),
        F.count(F.lit(1)).alias("n_obs"),
        *[F.min(a).alias(a) for a in attr_cols],
    )
    w_close = Window.partitionBy(*key_cols).orderBy("valid_from")
    return grouped.select(
        *key_cols,
        "version",
        "valid_from",
        F.lead("valid_from").over(w_close).alias("valid_to"),
        *attr_cols,
        "n_obs",
    )
