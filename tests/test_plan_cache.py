"""Prepared registry plans (``plans/plancache.py``): a rerun of a
registry query between writes returns the plan built before, and each
rule of the validity contract forces a rebuild or keeps a plan out of
the cache."""

from __future__ import annotations

import gc
import os
import subprocess
import sys
import weakref
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest

from homelogging_spark.functions.cachelife import release_caches
from homelogging_spark.plans import flagship
from homelogging_spark.plans.plancache import clear_plan_cache, prepared
from homelogging_spark.plans.registry import ORACLES, QUERIES
from homelogging_spark.tables import (
    TABLE_NAMES,
    _build_series_flow,
    _fixture_path,
    read_parquet,
)
from tools.check_oracle import compare

# The telemetry read queries dashboards and control loops rerun.
TELEMETRY_QUERIES = (
    "flagship_hourly_cost",
    "battery_panel",
    "asof_price_join",
    "counter_rollover",
    "device_class_scan",
)


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _matches_oracle(name: str, df, sf_dir: str) -> bool:
    got = df.toPandas()
    release_caches()
    return compare(name, got, _duck(sf_dir).execute(ORACLES[name]).fetchdf())


def _rows(df) -> list[str]:
    return sorted(map(str, df.collect()))


def test_hit_returns_the_same_frame_and_starts_no_job(spark, sf_dir, jobs_started):
    fn = QUERIES["flagship_hourly_cost"]
    df = fn(spark, sf_dir)
    again, jobs = jobs_started(lambda: fn(spark, sf_dir))
    assert again is df
    assert jobs == 0


def test_clear_plan_cache_forces_a_build(spark, sf_dir):
    fn = QUERIES["counter_rollover"]
    df = fn(spark, sf_dir)
    assert fn(spark, sf_dir) is df
    clear_plan_cache(spark)
    assert fn(spark, sf_dir) is not df


def test_overwritten_input_gives_fresh_results(spark, own_sf_dir, shrink_events):
    fn = QUERIES["trailing_percentile"]
    before = fn(spark, own_sf_dir)
    assert _matches_oracle("trailing_percentile", before, own_sf_dir)
    shrink_events(own_sf_dir)
    after = fn(spark, own_sf_dir)
    assert after is not before
    assert _matches_oracle("trailing_percentile", after, own_sf_dir)
    assert fn(spark, own_sf_dir) is after


def test_session_time_zone_changes_flagship_hours(spark, sf_dir):
    key = "spark.sql.session.timeZone"
    fn = QUERIES["flagship_hourly_cost"]
    utc = fn(spark, sf_dir)
    utc_rows = _rows(utc)
    spark.conf.set(key, "Asia/Kolkata")
    try:
        shifted = fn(spark, sf_dir)
        shifted_rows = _rows(shifted)
        fresh_rows = _rows(flagship.hourly_cost_analysis(spark, sf_dir))
    finally:
        spark.conf.set(key, "UTC")
    assert shifted is not utc
    assert shifted_rows == fresh_rows
    assert shifted_rows != utc_rows
    assert _rows(fn(spark, sf_dir)) == utc_rows


def test_fixture_rebuild_or_source_change_invalidates(spark, own_sf_dir, shrink_events):
    """series_flow_report reads only the series-flow fixture; the
    fixture's source is recorded by its staleness check."""
    fn = QUERIES["series_flow_report"]
    first = fn(spark, own_sf_dir)
    assert fn(spark, own_sf_dir) is first
    _build_series_flow(spark, own_sf_dir, _fixture_path(own_sf_dir, "series_flow"))
    rebuilt = fn(spark, own_sf_dir)
    assert rebuilt is not first
    assert _matches_oracle("series_flow_report", rebuilt, own_sf_dir)
    shrink_events(own_sf_dir)
    changed = fn(spark, own_sf_dir)
    assert changed is not rebuilt
    assert _matches_oracle("series_flow_report", changed, own_sf_dir)


def test_tracked_persist_build_is_never_cached(spark, sf_dir):
    fn = QUERIES["curriculum_order"]
    try:
        assert fn(spark, sf_dir) is not fn(spark, sf_dir)
    finally:
        release_caches()


@pytest.mark.parametrize("fmt", ["parquet", "json"])
def test_plain_reads_are_never_cached(spark, tmp_path, fmt):
    path = str(tmp_path / fmt)
    getattr(spark.range(3).write, fmt)(path)
    plain = prepared(f"plain_{fmt}", lambda s, p: getattr(s.read, fmt)(p))
    assert plain(spark, path) is not plain(spark, path)
    if fmt == "parquet":  # the same read through read_parquet is recorded
        recorded = prepared("recorded_parquet", read_parquet)
        assert recorded(spark, path) is recorded(spark, path)


def test_plans_are_per_session_and_die_with_it(spark, sf_dir):
    from pyspark import RDD

    fn = QUERIES["time_range_filter"]
    df = fn(spark, sf_dir)
    to_df = RDD.toDF
    other = spark.newSession()
    RDD.toDF = to_df  # a new session rebinds RDD.toDF to itself
    theirs = fn(other, sf_dir)
    assert theirs is not df
    assert fn(other, sf_dir) is theirs and fn(spark, sf_dir) is df
    gone = weakref.ref(other)
    del other, theirs
    gc.collect()
    assert gone() is None


def test_recreated_session_gets_no_previous_plan(sf_dir):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = (
        "from homelogging_spark.session import get_spark\n"
        "from homelogging_spark.plans.registry import QUERIES\n"
        "fn = QUERIES['time_range_filter']\n"
        "s1 = get_spark(master='local[1]', shuffle_partitions=1)\n"
        f"a = fn(s1, {sf_dir!r})\n"
        f"assert fn(s1, {sf_dir!r}) is a\n"
        "s1.stop()\n"
        "s2 = get_spark(master='local[1]', shuffle_partitions=1)\n"
        f"b = fn(s2, {sf_dir!r})\n"
        "assert s2 is not s1 and b is not a and b.sparkSession is s2\n"
        "print(b.count())\n"
        "s2.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=root,
        env=dict(os.environ, SPARK_DRIVER_MEMORY="512m"),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert int(out.stdout.strip().splitlines()[-1]) > 0


def test_concurrent_calls_share_one_correct_plan(spark, sf_dir):
    """Eight threads call the query at once twice over: first with an
    empty cache (concurrent builds), then on the one cached plan."""
    fn = QUERIES["asof_price_join"]
    clear_plan_cache(spark)
    want = _rows(fn.__wrapped__(spark, sf_dir))
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            for _ in range(2):
                futures = [pool.submit(lambda: _rows(fn(spark, sf_dir))) for _ in range(8)]
                assert all(f.result(timeout=300) == want for f in futures)
    finally:
        sys.setswitchinterval(prev)
    assert fn(spark, sf_dir) is fn(spark, sf_dir)


@pytest.mark.parametrize("name", TELEMETRY_QUERIES)
def test_cached_telemetry_results_match_oracles(spark, sf_dir, name):
    fn = QUERIES[name]
    df = fn(spark, sf_dir)
    assert fn(spark, sf_dir) is df
    assert _matches_oracle(name, df, sf_dir)
