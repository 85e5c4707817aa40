"""ST4 battery zero-export simulation tests.

Edge cases port the branch structure of ``RandomQueries/ZeroExport.cs:
49-67``: efficiency asymmetry, SoC clamp on both ends, power cap on both
branches, cycle accounting, and per-meter independence of the
applyInPandas fold.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from homelogging_spark.operators.battery import (
    battery_zero_export,
    daily_cycles_report,
    simulate_battery_series,
)

CAP, EFF, MAXP = 2.7, 0.9, 0.8
MAX_E = MAXP / 60.0  # kWh per minute step


class TestPureFold:
    def test_charge_stores_with_efficiency(self):
        # -600 W export for one minute: gridE = -0.01 kWh; charge = 0.01*0.9
        (soc, ch, dch, _), = simulate_battery_series([-600.0])
        assert ch == pytest.approx(0.01 * EFF)
        assert soc == ch and dch == 0.0

    def test_discharge_draws_with_efficiency(self):
        # charge once, then import 300 W: gridE=0.005, discharge=0.005/0.9
        out = simulate_battery_series([-600.0, 300.0])
        soc1, ch, dch, _ = out[1]
        assert dch == pytest.approx(0.005 / EFF)
        assert ch == pytest.approx(0.01 * EFF)
        assert soc1 == pytest.approx(0.01 * EFF - 0.005 / EFF)

    def test_discharge_clamped_by_soc(self):
        # tiny charge then huge import: discharge limited to available SoC
        out = simulate_battery_series([-60.0, 5000.0])
        soc1, _, dch, _ = out[1]
        assert soc1 == 0.0
        assert dch == pytest.approx(0.001 * EFF)  # exactly what was stored

    def test_discharge_clamped_by_max_power(self):
        # full-ish battery, import above the inverter cap
        powers = [-6000.0] * 40 + [5000.0]
        out = simulate_battery_series(powers)
        _, _, dch, _ = out[-1]
        assert dch == pytest.approx(MAX_E / EFF)

    def test_charge_clamped_by_capacity(self):
        # export hard until full: SoC saturates at capacity, never beyond
        out = simulate_battery_series([-60000.0] * 300)
        socs = [s[0] for s in out]
        assert max(socs) <= CAP + 1e-12
        assert socs[-1] == pytest.approx(CAP)

    def test_charge_clamped_by_max_power(self):
        (soc, ch, _, _), = simulate_battery_series([-60000.0])
        assert ch == pytest.approx(MAX_E * EFF)

    def test_zero_power_is_noop(self):
        (soc, ch, dch, cyc), = simulate_battery_series([0.0])
        assert (soc, ch, dch, cyc) == (0.0, 0.0, 0.0, 0.0)

    def test_cycles_accounting(self):
        out = simulate_battery_series([-600.0, 300.0])
        _, ch, dch, cyc = out[-1]
        assert cyc == pytest.approx((ch + dch) / 2.0 / CAP)


class TestSparkFold:
    def rows(self, meter, start, powers):
        t0 = datetime(2024, 4, 1)
        return [
            (meter, t0 + timedelta(minutes=start + i), float(p))
            for i, p in enumerate(powers)
        ]

    def test_matches_pure_fold_and_is_per_meter(self, spark):
        pa = [-600.0, 300.0, -60000.0, 5000.0, 0.0]
        pb = [1000.0, -1000.0]
        df = spark.createDataFrame(
            self.rows("a", 0, pa) + self.rows("b", 0, pb),
            "meter_id string, bucket timestamp, power double",
        )
        out = battery_zero_export(df, ["meter_id"], "power", "bucket")
        got = {
            (r.meter_id, r.bucket): (r.soc, r.total_charged, r.total_discharged, r.cycles)
            for r in out.collect()
        }
        for meter, powers in (("a", pa), ("b", pb)):
            expect = simulate_battery_series(powers)
            for i, exp in enumerate(expect):
                key = (meter, datetime(2024, 4, 1) + timedelta(minutes=i))
                assert got[key] == pytest.approx(exp)

    def test_daily_cycles_report(self, spark):
        # two days for one meter; all-import day 2 has zero delta (empty battery)
        day1 = self.rows("a", 0, [-600.0, 300.0])
        day2 = self.rows("a", 24 * 60, [500.0, 700.0])
        df = spark.createDataFrame(
            day1 + day2, "meter_id string, bucket timestamp, power double"
        )
        sim = battery_zero_export(df, ["meter_id"], "power", "bucket")
        rep = {r.day.isoformat(): r.cycles_delta
               for r in daily_cycles_report(sim, ["meter_id"]).collect()}
        full = simulate_battery_series([-600.0, 300.0, 500.0, 700.0])
        assert rep["2024-04-01"] == pytest.approx(full[1][3])
        assert rep["2024-04-02"] == pytest.approx(full[3][3] - full[1][3])


class TestSharedSimMemo:
    def test_rewritten_events_refold_and_free_the_old_frame(
        self, spark, own_sf_dir, shrink_events
    ):
        """The fold memo is keyed on the events fingerprint: a rewrite
        gets a fresh fold, the replaced frame is unpersisted, and a memo
        hit still reports events, so battery_panel stays cacheable."""
        import duckdb

        from homelogging_spark.plans.battery_registry import _shared_sim
        from homelogging_spark.plans.plancache import clear_plan_cache
        from homelogging_spark.plans.registry import ORACLES, QUERIES
        from tools.check_oracle import compare

        fn = QUERIES["battery_panel"]
        first = fn(spark, own_sf_dir)
        first.count()
        sim = _shared_sim(spark, own_sf_dir)
        assert sim.storageLevel.useMemory
        assert fn(spark, own_sf_dir) is first
        clear_plan_cache(spark)
        rebuilt = fn(spark, own_sf_dir)  # over the memoized fold
        assert rebuilt is not first and fn(spark, own_sf_dir) is rebuilt
        shrink_events(own_sf_dir)
        second = fn(spark, own_sf_dir)
        assert second is not rebuilt
        assert _shared_sim(spark, own_sf_dir) is not sim
        assert not sim.storageLevel.useMemory and not sim.storageLevel.useDisk
        con = duckdb.connect()
        events = f"{own_sf_dir}/events.parquet"
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{events}'")
        want = con.execute(ORACLES["battery_panel"]).fetchdf()
        assert compare("battery_panel", second.toPandas(), want)
