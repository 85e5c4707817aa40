"""Seeded poller traffic for the ingest workload, with its expected results.

Three kinds of device are polled every ``POLL_S`` seconds of device time:
DSMR P1 meters (OBIS text telegrams), Tapo plugs (JSON with a base64
nickname) and Kasa plugs (XOR-autokey encrypted JSON, landed as
base64). One round covers ``ROUND_S`` seconds of device time. Each
round's landing files carry:

- every reading polled in the round, except a held-back share;
- the readings held back in the previous round (late rows, with
  timestamps of that earlier window);
- a share of re-polls: a copy of a reading in the same file, which the
  sink's (meter_id, series, ts) dedup must collapse.

The generator keeps the rows the table must hold after each landed
round, so the benchmark checks the table and the read-back queries
against values computed here, not by Spark.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os

import numpy as np
import pandas as pd

from homelogging_spark.sources.kasa import xor_autokey_encrypt

LANDING_DDL = "kind string, device string, ts timestamp, payload string"
T0 = dt.datetime(2024, 3, 1)
POLL_S = 10
ROUND_S = 600
N_DEVICES = {"dsmr": 4, "tapo": 8, "kasa": 8}
DUP_FRAC = 0.05
LATE_FRAC = 0.05
FILES_PER_KIND = 2
TRAILING_S = 300  # the switchboiler control loop's percentile window


def _telegram(ident: str, ts: dt.datetime, st: np.ndarray, kw_in: str, kw_out: str) -> str:
    lines = [
        f"/{ident}",
        "",
        "1-3:0.2.8(50)",
        f"0-0:1.0.0({ts:%y%m%d%H%M%S}W)",
        f"1-0:1.8.1({st[0]:010.3f}*kWh)",
        f"1-0:1.8.2({st[1]:010.3f}*kWh)",
        f"1-0:2.8.1({st[2]:010.3f}*kWh)",
        f"1-0:2.8.2({st[3]:010.3f}*kWh)",
        f"1-0:1.7.0({kw_in}*kW)",
        f"1-0:2.7.0({kw_out}*kW)",
        "1-0:32.7.0(230.1*V)",
        "1-0:31.7.0(001*A)",
        "!1F2E",
    ]
    return "\r\n".join(lines)


class PollGenerator:
    """Lands rounds of poller payloads and tracks the expected table."""

    def __init__(self, seed: int, landing_dir: str):
        self.seed = seed
        self.landing_dir = landing_dir
        self.round = 0
        self.held: dict[str, list[tuple[dict, dict]]] = {k: [] for k in N_DEVICES}
        self.expected: list[dict] = []
        self.rows_landed = 0
        self.bytes_landed = 0
        rng = np.random.default_rng([seed, 0])
        # per-device cumulative energy registers
        self.energy = {
            kind: rng.uniform(100.0, 5000.0, (n, 4)) for kind, n in N_DEVICES.items()
        }
        os.makedirs(landing_dir, exist_ok=True)

    def _poll(self, kind: str, i: int, ts: dt.datetime, rng) -> tuple[dict, dict]:
        """One landing record and the table row it must produce."""
        st = self.energy[kind][i]
        ts_s = ts.strftime("%Y-%m-%dT%H:%M:%S")
        if kind == "dsmr":
            kw_in = f"{rng.uniform(0.0, 4.0):06.3f}"
            kw_out = f"{rng.uniform(0.0, 2.0):06.3f}"
            st += rng.uniform(0.0, 0.01, 4)
            st[:] = np.round(st, 3)
            ident = f"XMX5LGBBFG{1000 + i}"
            payload = _telegram(ident, ts, st, kw_in, kw_out)
            meter, series = f"meters/{ident}", "P1"
            values = [1000.0 * (float(kw_in) - float(kw_out))] + [
                float(f"{v:010.3f}") for v in st
            ]
        elif kind == "tapo":
            power = int(rng.integers(0, 3000))
            st[0] += int(rng.integers(0, 3))
            mac = f"AA-BB-CC-00-01-{i:02X}"
            doc = {
                "device_info": {
                    "result": {
                        "model": "P110",
                        "ip": f"192.168.1.{20 + i}",
                        "mac": mac,
                        "nickname": base64.b64encode(f"plug {i}".encode()).decode(),
                    }
                },
                "energy_usage": {
                    "result": {"current_power": power, "month_energy": int(st[0])}
                },
            }
            payload = json.dumps(doc)
            meter, series = "meters/" + mac.replace("-", ""), "Tapo"
            values = [float(power), float(int(st[0]))]
        else:
            power_mw = int(rng.integers(0, 2_500_000))
            st[0] += int(rng.integers(0, 50))
            doc = {"emeter": {"get_realtime": {"power_mw": power_mw, "total_wh": int(st[0]), "err_code": 0}}}
            wire = xor_autokey_encrypt(json.dumps(doc).encode())
            payload = base64.b64encode(wire).decode()
            meter, series = f"meters/kasa-{i}", "Kasa"
            values = [power_mw / 1000.0, int(st[0]) / 1000.0]
        record = {"kind": kind, "device": f"{kind}-{i}", "ts": ts_s, "payload": payload}
        row = {"meter_id": meter, "series": series, "ts": ts, "values": values, "tag": kind}
        return record, row

    def land_round(self) -> dict:
        """Write one round's files; returns its counts."""
        r = self.round
        rng = np.random.default_rng([self.seed, r + 1])
        start = T0 + dt.timedelta(seconds=r * ROUND_S)
        n_records = 0
        n_bytes = 0
        for kind, n_dev in N_DEVICES.items():
            files: list[list[dict]] = [[] for _ in range(FILES_PER_KIND)]
            late, self.held[kind] = self.held[kind], []
            for k, (record, row) in enumerate(late):
                files[k % FILES_PER_KIND].append(record)
                self.expected.append(row)
            for step in range(ROUND_S // POLL_S):
                ts = start + dt.timedelta(seconds=step * POLL_S)
                for i in range(n_dev):
                    record, row = self._poll(kind, i, ts, rng)
                    if rng.random() < LATE_FRAC:
                        self.held[kind].append((record, row))
                        continue
                    f = files[i % FILES_PER_KIND]
                    f.append(record)
                    if rng.random() < DUP_FRAC:
                        f.append(dict(record))
                    self.expected.append(row)
            for j, records in enumerate(files):
                path = os.path.join(self.landing_dir, f"r{r:04d}_{kind}_{j}.json")
                body = "".join(json.dumps(rec) + "\n" for rec in records)
                with open(path + ".tmp", "w") as fh:
                    fh.write(body)
                os.rename(path + ".tmp", path)
                n_records += len(records)
                n_bytes += len(body)
        self.round += 1
        self.rows_landed += n_records
        self.bytes_landed += n_bytes
        return {"records": n_records, "bytes": n_bytes}

    @property
    def cutoff(self) -> dt.datetime:
        """Start of the trailing percentile window: the last
        ``TRAILING_S`` seconds of device time landed so far."""
        return T0 + dt.timedelta(seconds=self.round * ROUND_S - TRAILING_S)

    def expected_table(self) -> pd.DataFrame:
        df = pd.DataFrame(self.expected)
        df["v0"] = df["values"].str[0]
        return df

    def expected_readback(self) -> dict[str, pd.DataFrame]:
        """The three read-back results over every row landed so far."""
        t = self.expected_table()
        keys = ["meter_id", "series"]
        hourly = (
            t.assign(bucket=t["ts"].dt.floor("h"))
            .groupby(keys + ["bucket"], as_index=False)
            .agg(avg_value=("v0", "mean"), n=("v0", "size"))
        )
        latest = t.sort_values("ts").groupby(keys, as_index=False).last()[keys + ["ts", "v0"]]
        recent = t[t["ts"] >= self.cutoff]
        pct = recent.groupby(keys, as_index=False).agg(
            p50=("v0", lambda s: float(np.percentile(s, 50)))
        )
        return {
            "hourly": hourly,
            "latest": latest.rename(columns={"v0": "value"}),
            "trailing_pct": pct,
        }
