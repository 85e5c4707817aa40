"""The Python worker daemon (``homelogging_spark.workerd``): zip
directories are re-read only when the archive changed, imports keep the
stock semantics, and the ``get_spark`` workers run under it.

The invalidation tests patch ``zipimport`` in a subprocess of their own,
so the test process's importers stay stock.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

from homelogging_spark.sources import kasa

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ZIP_HELPERS = """
import importlib
import json
import os
import sys
import zipfile
import zipimport

from homelogging_spark import workerd


def write_zip(path, modules):
    with zipfile.ZipFile(path + ".tmp", "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\\n")
    os.replace(path + ".tmp", path)


reads = []
stock_read = zipimport._read_directory


def counting_read(archive):
    reads.append(archive)
    return stock_read(archive)


zipimport._read_directory = counting_read
tmp = sys.argv[1]
"""


def _run_zip_probe(tmp_path, body: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_HELPERS + body, str(tmp_path)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


class TestInvalidation:
    def test_unchanged_zip_is_not_reread(self, tmp_path):
        got = _run_zip_probe(
            tmp_path,
            """
archive = os.path.join(tmp, "a.zip")
write_zip(archive, {"mod_a": 1})
sys.path.insert(0, archive)
import mod_a

installed = workerd.install()
importlib.invalidate_caches()  # first call reads: no stat seen yet
del reads[:]
for _ in range(10):
    importlib.invalidate_caches()
print(json.dumps({"installed": installed, "reads": len(reads), "value": mod_a.VALUE}))
""",
        )
        assert got == {"installed": True, "reads": 0, "value": 1}

    def test_rewritten_zip_is_reread(self, tmp_path):
        got = _run_zip_probe(
            tmp_path,
            """
archive = os.path.join(tmp, "a.zip")
write_zip(archive, {"mod_a": 1})
sys.path.insert(0, archive)
import mod_a

workerd.install()
importlib.invalidate_caches()
write_zip(archive, {"mod_a": 1, "mod_b": 2})
del reads[:]
importlib.invalidate_caches()
import mod_b
print(json.dumps({"reads": reads.count(archive), "value": mod_b.VALUE}))
""",
        )
        assert got == {"reads": 1, "value": 2}

    def test_deleted_zip_behaves_as_stock(self, tmp_path):
        """The same steps over a stock and a patched importer: the
        archive leaves the directory cache, the importer's listing
        empties and a module not imported before it fails to import."""
        got = _run_zip_probe(
            tmp_path,
            """
def deleted_outcome(tag):
    archive = os.path.join(tmp, f"{tag}.zip")
    write_zip(archive, {f"{tag}_a": 1, f"{tag}_b": 2})
    sys.path.insert(0, archive)
    importlib.import_module(f"{tag}_a")
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    try:
        importlib.import_module(f"{tag}_b")
        imported = True
    except ModuleNotFoundError:
        imported = False
    importer = sys.path_importer_cache[archive]
    return [archive in zipimport._zip_directory_cache, importer._files, imported]


stock = deleted_outcome("stock")
workerd.install()
patched = deleted_outcome("patched")
print(json.dumps({"stock": stock, "patched": patched}))
""",
        )
        assert got["patched"] == got["stock"] == [False, {}, False]

    def test_python_312_is_left_untouched(self, tmp_path):
        got = _run_zip_probe(
            tmp_path,
            """
stock_method = zipimport.zipimporter.invalidate_caches
sys.version_info = (3, 12, 0, "final", 0)
installed = workerd.install()
print(json.dumps({"installed": installed,
                  "untouched": zipimport.zipimporter.invalidate_caches is stock_method}))
""",
        )
        assert got == {"installed": False, "untouched": True}


def test_session_workers_run_under_workerd(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == (
        "homelogging_spark.workerd"
    )


def test_worker_keeps_pyspark_zip_directory_across_tasks(spark):
    """Each task of a pandas UDF reports its worker's PID and the
    identity of the worker's ``pyspark.zip`` directory listing. A worker
    that ran tasks in both jobs still holds the listing it had: no task
    re-read the archive."""

    @F.pandas_udf("string")
    def zip_listing(ids: pd.Series) -> pd.Series:
        import zipimport

        import pyspark

        archive = getattr(pyspark.__spec__.loader, "archive", None)
        listing = zipimport._zip_directory_cache.get(archive) if archive else None
        tag = f"{os.getpid()}:{id(listing) if listing is not None else 'none'}"
        return pd.Series([tag] * len(ids))

    def run_job():
        rows = spark.range(0, 8, 1, 8).select(zip_listing("id").alias("t")).collect()
        return {tuple(r.t.split(":")) for r in rows}

    first, second = run_job(), run_job()
    if any(listing == "none" for _, listing in first | second):
        pytest.skip("workers do not import pyspark from a zip archive")
    listings = {}
    for pid, listing in first | second:
        listings.setdefault(pid, set()).add(listing)
    assert {pid for pid, _ in first} & {pid for pid, _ in second}, "no worker was reused"
    assert all(len(ids) == 1 for ids in listings.values()), listings


def test_parse_kasa_output_unchanged(spark):
    """The pandas UDF decrypt, run by daemon workers over several
    partitions, matches the pure-Python inverse autokey row for row."""
    msgs = [
        json.dumps({"emeter": {"get_realtime": {"power_mw": 1000 * i + 7, "total_wh": 31 * i}}})
        for i in range(200)
    ]
    rows = [(i, kasa.xor_autokey_encrypt(m.encode())) for i, m in enumerate(msgs)]
    df = spark.createDataFrame(rows, "i int, payload binary").repartition(8)
    got = {r.i: r for r in kasa.parse_kasa(df).collect()}
    assert len(got) == len(msgs)
    for i, (_, payload) in enumerate(rows):
        assert got[i].json == kasa.xor_autokey_decrypt(payload).decode() == msgs[i]
        assert got[i].power_w == pytest.approx((1000 * i + 7) / 1000.0)
        assert got[i].energy_kwh == pytest.approx(31 * i / 1000.0)


_KASA_ELSEWHERE = """
import sys

sys.path.insert(0, sys.argv[1])
from homelogging_spark.session import get_spark
from homelogging_spark.sources import kasa

msg = '{"emeter":{"get_realtime":{"power_mw":2414,"total_wh":1234}}}'
spark = get_spark(master="local[1]", shuffle_partitions=1)
df = spark.createDataFrame([(kasa.xor_autokey_encrypt(msg.encode()),)], "payload binary")
row = kasa.parse_kasa(df).first()
print(row.power_w, row.energy_kwh)
spark.stop()
"""


def test_package_udfs_run_from_any_driver_cwd(tmp_path):
    """A driver outside the repo, with the repo on its own sys.path
    only, runs the package's pandas UDF: its workers import the package
    (and the daemon module) through the PYTHONPATH get_spark sets."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _KASA_ELSEWHERE, ROOT],
        cwd=tmp_path,
        env=dict(env, SPARK_DRIVER_MEMORY="512m"),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    power, energy = map(float, out.stdout.split()[-2:])
    assert power == pytest.approx(2.414)
    assert energy == pytest.approx(1.234)
