"""``tables.read_parquet``: the per-session schema memo must save the
schema-inference job on a repeated read, and must never serve a stale
schema or hide a write."""

from __future__ import annotations

import datetime as dt
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from homelogging_spark.tables import load_table, read_parquet


def test_second_read_starts_no_job(spark, jobs_started, tmp_path):
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    _, cold = jobs_started(lambda: read_parquet(spark, path))
    df, warm = jobs_started(lambda: read_parquet(spark, path))
    assert cold >= 1
    assert warm == 0
    assert sorted(r.id for r in df.collect()) == list(range(5))


def test_overwrite_with_new_schema_is_seen(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(3).select("id", (F.col("id") * 2).alias("c")).write.mode(
        "overwrite"
    ).parquet(path)
    df = read_parquet(spark, path)
    assert df.columns == ["id", "c"]
    assert sorted((r.id, r.c) for r in df.collect()) == [(0, 0), (1, 2), (2, 4)]


def test_append_to_partitioned_readings_is_seen(spark, tmp_path):
    from homelogging_spark.operators.ingest import append_readings, read_readings

    path = str(tmp_path / "readings")
    schema = "meter_id string, series string, ts timestamp, value double"

    def batch(day, n):
        rows = [("m1", "Power", dt.datetime(2024, 1, day, 10, m), float(m)) for m in range(n)]
        return spark.createDataFrame(rows, schema)

    append_readings(batch(1, 3), path)
    first = read_readings(spark, path)
    assert first.count() == 3
    append_readings(batch(2, 2), path)
    df = read_readings(spark, path)
    assert df.count() == 5
    dates = sorted(r.date for r in df.select("date").distinct().collect())
    assert dates == [dt.date(2024, 1, 1), dt.date(2024, 1, 2)]


def test_missing_path_raises_sparks_own_error(spark, tmp_path):
    path = str(tmp_path / "missing")
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as ours:
        read_parquet(spark, path)
    assert ours.value.getCondition() == plain.value.getCondition() == "PATH_NOT_FOUND"
    assert ours.value.getMessageParameters() == plain.value.getMessageParameters()


def test_nanos_timestamps_through_load_table_cold_and_memoized(
    spark, jobs_started, tmp_path
):
    # A session that did not set nanosAsLong at build, as a caller's own
    # session would not: load_table sets it at runtime.
    plain = spark.newSession()
    plain.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    ts = [dt.datetime(2024, 1, 1, 0, 0, s, 123456) for s in range(4)]
    pq.write_table(
        pa.table(
            {
                "ts": pa.array(ts, pa.timestamp("ns")),
                "value": pa.array([1.0, 2.0, 3.0, 4.0]),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    cold = load_table(plain, str(tmp_path), "events")
    memo, jobs = jobs_started(lambda: load_table(plain, str(tmp_path), "events"))
    assert jobs == 0
    assert cold.schema == memo.schema
    assert dict(cold.dtypes)["ts"] == "timestamp"
    rows = sorted(cold.collect())
    assert rows == sorted(memo.collect())
    assert [r.value for r in rows] == [1.0, 2.0, 3.0, 4.0]


def test_concurrent_reads_see_their_own_schema(spark, tmp_path):
    paths = {}
    for cols in (("id",), ("id", "c")):
        path = str(tmp_path / "_".join(cols))
        spark.range(2).select(*[F.col("id").alias(c) for c in cols]).write.parquet(path)
        paths[path] = list(cols)
    errors: list = []

    def reader():
        try:
            for _ in range(4):
                for path, cols in paths.items():
                    got = read_parquet(spark, path).columns
                    if got != cols:
                        errors.append((path, got))
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert errors == []


_NO_DAEMON_PROBE = """
import os
import sys

from homelogging_spark.session import get_spark
from homelogging_spark.tables import meters_table


def python_daemons():
    parent, cmdline = {}, {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                with open(f"/proc/{entry}/cmdline", "rb") as fh:
                    cmdline[int(entry)] = fh.read()
            except OSError:
                continue

    def mine(pid):
        while pid in parent and pid not in (0, 1):
            if pid == os.getpid():
                return True
            pid = parent[pid]
        return False

    daemons = (b"pyspark.daemon", b"homelogging_spark.workerd")
    return sum(
        any(d in c.split(b"\\0") for d in daemons) and mine(p) for p, c in cmdline.items()
    )


spark = get_spark(master="local[1]", shuffle_partitions=1)
print(meters_table(spark, sys.argv[1]).count(), python_daemons())
spark.stop()
"""


def test_cold_meters_build_starts_no_python_worker(own_sf_dir):
    """The fixture's empty existing-rows frame is planned on the JVM, so
    a fresh session builds the meters fixture without a Python worker
    daemon (pyspark.daemon, or the workerd wrapping it)."""
    import os
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _NO_DAEMON_PROBE, own_sf_dir],
        cwd=root,
        env=dict(os.environ, SPARK_DRIVER_MEMORY="512m"),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows, daemons = map(int, out.stdout.split()[-2:])
    assert rows > 0
    assert daemons == 0
