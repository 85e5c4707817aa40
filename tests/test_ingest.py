"""K1-K3 write-path and streaming-ingest tests: round-trip parity,
last-write-wins dedup, dim upsert, and an end-to-end availableNow
streaming drain into the partitioned readings table."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from homelogging_spark.operators.ingest import (
    append_readings,
    dedup_readings,
    read_readings,
    register_series,
    upsert_meters,
)


def readings_df(spark, rows):
    return spark.createDataFrame(
        rows, "meter_id string, series string, ts timestamp, value double, tag string"
    )


T0 = datetime(2024, 4, 1, 12, 0, 0)


class TestDedupReadings:
    def test_last_write_wins_with_order(self, spark):
        df = readings_df(
            spark,
            [
                ("m1", "Power", T0, 100.0, "W"),
                ("m1", "Power", T0, 200.0, "W"),  # overwrite, later ingest
                ("m1", "Power", T0 + timedelta(seconds=1), 300.0, "W"),
            ],
        ).withColumn("seq", F.monotonically_increasing_id())
        out = dedup_readings(df, order_col="seq").orderBy("ts").collect()
        assert [r.value for r in out] == [200.0, 300.0]

    def test_deterministic_without_order(self, spark):
        df = readings_df(
            spark,
            [("m1", "Power", T0, 100.0, "W"), ("m1", "Power", T0, 200.0, "W")],
        )
        out = dedup_readings(df).collect()
        assert len(out) == 1 and out[0].value == 200.0  # greatest remaining cols


class TestAppendRoundTrip:
    def test_partitioned_write_and_query_parity(self, spark, tmp_path):
        path = str(tmp_path / "readings")
        rows = [
            ("m1", "Power", T0 + timedelta(minutes=i), float(i), "W") for i in range(5)
        ] + [("m2", "Water", T0 + timedelta(days=1), 42.0, "L")]
        append_readings(readings_df(spark, rows), path)
        back = read_readings(spark, path)
        assert back.count() == 6
        # partition layout: series + date directories exist
        assert any(d.startswith("series=") for d in os.listdir(path))
        sub = os.path.join(path, "series=Power")
        assert any(d.startswith("date=") for d in os.listdir(sub))
        # partition pruning serves the per-series scan
        assert back.where("series = 'Power'").count() == 5
        got = back.where("series = 'Power'").agg(F.sum("value")).first()[0]
        assert got == pytest.approx(sum(range(5)))

    def test_partition_pruning_on_series_and_date(self, spark, tmp_path):
        # the layout exists to serve the reference's two access patterns:
        # per-series scans and time-range scans must NOT read all files
        path = str(tmp_path / "readings")
        rows = [
            (m, s, T0 + timedelta(days=d), 1.0, "u")
            for m in ("m1", "m2")
            for s in ("Power", "Water")
            for d in range(3)
        ]
        append_readings(readings_df(spark, rows), path)
        back = read_readings(spark, path)
        pruned = back.where(
            (F.col("series") == "Power") & (F.col("date") == "2024-04-02")
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # both predicates must land as partition filters on the scan,
        # not post-scan row filters
        assert "PartitionFilters" in plan
        partition_filters = plan.split("PartitionFilters: [")[1].split("]")[0]
        assert "series" in partition_filters and "date" in partition_filters
        assert pruned.count() == 2

    def test_append_is_additive(self, spark, tmp_path):
        path = str(tmp_path / "readings")
        append_readings(readings_df(spark, [("m1", "Power", T0, 1.0, "W")]), path)
        append_readings(
            readings_df(spark, [("m1", "Power", T0 + timedelta(minutes=1), 2.0, "W")]),
            path,
        )
        assert read_readings(spark, path).count() == 2


class TestDimUpserts:
    def test_upsert_meters_update_and_insert(self, spark):
        existing = spark.createDataFrame(
            [("m1", "Kasa", 10.5), ("m2", "Tapo", 0.0)],
            "meter_id string, vendor_info string, energy_offset double",
        )
        updates = spark.createDataFrame(
            [("m1", "Kasa", 12.25), ("m3", "Goodwe", 0.0)],
            "meter_id string, vendor_info string, energy_offset double",
        )
        out = {r.meter_id: r for r in upsert_meters(existing, updates).collect()}
        assert len(out) == 3
        assert out["m1"].energy_offset == 12.25  # K2 mutable state updated
        assert out["m2"].energy_offset == 0.0
        assert out["m3"].vendor_info == "Goodwe"

    def test_snapshot_cdc_diff_null_values_classified_by_presence(self, spark):
        """Presence comes from per-side marker columns, never from
        value-column nullness: a key in BOTH snapshots with a NULL value
        must classify as unchanged (NULL→NULL) or changed (NULL→x /
        x→NULL), not as added/removed."""
        from homelogging_spark.operators.ingest import snapshot_cdc_diff

        old = spark.createDataFrame(
            [(1, None), (2, None), (3, 5.0), (4, 7.0)],
            "k bigint, old_bal double",
        )
        new = spark.createDataFrame(
            [(1, None), (2, 9.0), (3, None), (5, 1.0)],
            "k bigint, new_bal double",
        )
        got = {r.k: r.change_type for r in snapshot_cdc_diff(old, new, "k").collect()}
        assert got == {
            1: "unchanged",  # NULL → NULL, present both sides
            2: "changed",    # NULL → 9.0
            3: "changed",    # 5.0 → NULL
            4: "removed",
            5: "added",
        }

    def test_scd2_history_versions_and_validity(self, spark):
        """SCD2 semantics: consecutive equal observations collapse,
        re-observing an old value opens a NEW version (A,A,B,A -> 3
        versions), valid_to chains to the next version's valid_from and
        is NULL on the open version; NULL attrs compare null-safely."""
        from datetime import datetime

        from homelogging_spark.operators.ingest import scd2_history

        t = lambda s: datetime(2024, 1, 1, 0, s)
        rows = [
            ("m1", t(0), 1, "A"),
            ("m1", t(1), 2, "A"),   # unchanged — collapses
            ("m1", t(2), 3, "B"),   # change
            ("m1", t(3), 4, "A"),   # back to A — NEW version, not merged
            ("m2", t(0), 5, None),  # NULL attr
            ("m2", t(1), 6, None),  # NULL -> NULL: unchanged
            ("m2", t(2), 7, "X"),   # NULL -> X: boundary
        ]
        df = spark.createDataFrame(
            rows, "k string, ts timestamp, seq bigint, attr string"
        )
        out = scd2_history(
            df, ["k"], ["attr"], ts_col="ts", order_tiebreak=["seq"]
        )
        got = {
            (r.k, r.version): (r.valid_from, r.valid_to, r.attr, r.n_obs)
            for r in out.collect()
        }
        assert got[("m1", 1)] == (t(0), t(2), "A", 2)
        assert got[("m1", 2)] == (t(2), t(3), "B", 1)
        assert got[("m1", 3)] == (t(3), None, "A", 1)  # open version
        assert got[("m2", 1)] == (t(0), t(2), None, 2)  # null-safe collapse
        assert got[("m2", 2)] == (t(2), None, "X", 1)
        assert len(got) == 5

    def test_register_series(self, spark):
        from homelogging_spark.functions.values import series_schema_dim

        dim = series_schema_dim(spark)
        out = register_series(dim, "NewSeries", ["a", "b"])
        rows = {r.series: r.value_names for r in out.collect()}
        assert rows["NewSeries"] == ["a", "b"]
        assert "PowerEnergy" in rows  # existing registrations preserved
        # re-register replaces, never duplicates
        out2 = register_series(out, "NewSeries", ["x"])
        assert out2.where("series = 'NewSeries'").count() == 1


class TestStreamingIngest:
    def test_available_now_drain_to_table(self, spark, tmp_path):
        from homelogging_spark.streaming.pipeline import (
            read_reading_stream,
            start_append_stream,
        )

        src = tmp_path / "landing"
        src.mkdir()
        rows = [
            {"meter_id": "m1", "series": "Power", "ts": "2024-04-01T12:00:00Z",
             "value": 240.0, "tag": "W"},
            {"meter_id": "m1", "series": "Power", "ts": "2024-04-01T12:00:00Z",
             "value": 240.0, "tag": "W"},  # duplicate append (idempotent key)
            {"meter_id": "m2", "series": "Water", "ts": "2024-04-01T12:01:00Z",
             "value": 1.0, "tag": "L"},
        ]
        (src / "batch1.json").write_text("\n".join(json.dumps(r) for r in rows))

        table = str(tmp_path / "table")
        stream = read_reading_stream(spark, str(src))
        q = start_append_stream(stream, table, str(tmp_path / "ckpt"))
        q.awaitTermination(120)

        back = read_readings(spark, table)
        assert back.count() == 2  # watermarked dedup dropped the re-append
        assert {r.series for r in back.collect()} == {"Power", "Water"}

    def test_windowed_downsample_stream(self, spark, tmp_path):
        from homelogging_spark.streaming.pipeline import (
            read_reading_stream,
            windowed_downsample,
        )

        src = tmp_path / "landing"
        src.mkdir()
        rows = [
            {"meter_id": "m1", "series": "Power", "ts": f"2024-04-01T12:00:{s:02d}Z",
             "value": v, "tag": "W"}
            for s, v in [(0, 100.0), (30, 200.0)]
        ] + [
            {"meter_id": "m1", "series": "Power", "ts": "2024-04-01T12:01:00Z",
             "value": 50.0, "tag": "W"},
        ]
        (src / "data.json").write_text("\n".join(json.dumps(r) for r in rows))

        stream = read_reading_stream(spark, str(src), watermark="1 minute")
        agg = windowed_downsample(stream)
        q = (
            agg.writeStream.format("memory")
            .queryName("mini_agg")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r.bucket_start.isoformat(): (r.avg_value, r.n)
            for r in spark.sql("SELECT * FROM mini_agg").collect()
        }
        assert got["2024-04-01T12:00:00"] == (pytest.approx(150.0), 2)
        assert got["2024-04-01T12:01:00"] == (pytest.approx(50.0), 1)


class TestRollupRefresh:
    def test_incremental_refresh_matches_full_and_touches_only_changed(
        self, spark, tmp_path
    ):
        import datetime as dt
        import os

        from homelogging_spark.operators.ingest import refresh_rollup

        base = str(tmp_path / "readings")
        roll = str(tmp_path / "rollup")

        def rows(day, vals):
            return [
                ("m1", "Power", dt.datetime(2024, 1, day, 10, m), float(v))
                for m, v in enumerate(vals)
            ]

        schema = "meter_id string, series string, ts timestamp, value double"
        spark.createDataFrame(rows(1, [1, 2]) + rows(2, [3, 4]), schema).write.mode(
            "append"
        ).parquet(base)
        refresh_rollup(spark, base, roll)  # initial full build

        # late data lands for Jan 2 only
        spark.createDataFrame(rows(2, [5]), schema).write.mode("append").parquet(base)

        # capture Jan 1 partition files before the incremental refresh
        jan1_dir = os.path.join(roll, "date=2024-01-01")
        before = sorted(os.listdir(jan1_dir))

        refresh_rollup(spark, base, roll, changed_dates=["2024-01-02"])

        # untouched partition's files are bit-identical (not rewritten)
        assert sorted(os.listdir(jan1_dir)) == before

        # incremental result == full recompute
        full = str(tmp_path / "rollup_full")
        refresh_rollup(spark, base, full)
        got = {
            (r.meter_id, r.series, r.bucket): (r.avg_value, r.sum_value, r.n)
            for r in spark.read.parquet(roll).collect()
        }
        exp = {
            (r.meter_id, r.series, r.bucket): (r.avg_value, r.sum_value, r.n)
            for r in spark.read.parquet(full).collect()
        }
        assert got == exp
        # the Jan 2 bucket now includes the late row
        jan2 = [v for k, v in got.items() if k[2].day == 2]
        assert jan2 == [(4.0, 12.0, 3)]

    def test_partitioned_base_prunes_to_changed_dates(self, spark, tmp_path):
        """On the K1 (series, date) layout the changed-dates filter must
        reach the scan as a partition filter, so a refresh reads only
        the changed days."""
        import datetime as dt
        import re

        from homelogging_spark.operators.ingest import (
            append_readings,
            refresh_rollup,
            rollup_frame,
        )

        base = str(tmp_path / "readings")
        roll = str(tmp_path / "rollup")
        schema = "meter_id string, series string, ts timestamp, value double"

        def rows(day, vals):
            return spark.createDataFrame(
                [
                    ("m1", "Power", dt.datetime(2024, 1, day, 10, m), float(v))
                    for m, v in enumerate(vals)
                ],
                schema,
            )

        append_readings(rows(1, [1, 2]).unionByName(rows(2, [3, 4])), base)
        refresh_rollup(spark, base, roll)
        late = rows(2, [9]).withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 MINUTES"))
        append_readings(late, base)

        plan = rollup_frame(
            spark, base, changed_dates=["2024-01-02"]
        )._jdf.queryExecution().executedPlan().toString()
        scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
        part_filters = re.search(r"PartitionFilters: \[([^\]]*)\]", scan).group(1)
        assert "date" in part_filters

        refresh_rollup(spark, base, roll, changed_dates=["2024-01-02"])
        full = str(tmp_path / "rollup_full")
        refresh_rollup(spark, base, full)

        def table(path):
            return sorted(
                (r.meter_id, r.series, r.bucket, r.avg_value, r.sum_value, r.n)
                for r in spark.read.parquet(path).collect()
            )

        assert table(roll) == table(full)
        assert [r[5] for r in table(roll) if r[2].day == 2] == [3]
