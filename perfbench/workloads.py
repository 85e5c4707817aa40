"""The benchmark workloads.

Each workload runs closed loop from one client thread: the next
operation starts when the previous one has returned. A run has three
phases:

1. set-up: the inputs are generated from the seed (not timed), then one
   warm-up pass runs every operation once, first-touching the fixtures
   the operations read. The results are checked against a reference
   outside the timed phase;
2. the timed phase: passes over the operation list, each in a seeded
   order, until ``seconds`` have passed. For ``ingest_readback`` a pass
   is a cycle of ``ROUNDS_PER_CYCLE`` rounds on a fresh table, and only
   whole cycles run;
3. in a traced run, the extra per-layer measurements that would disturb
   the timed phase.

Workload choice (why each exists and which layers it stresses) is
documented in ``perfbench/LAYERS.md``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import datagen
from spans import JobCounter, Tracer

READBACKS = ("hourly", "latest", "trailing_pct")
# ingest_readback drains into a fresh table every ROUNDS_PER_CYCLE rounds,
# so each cycle does the same work however many cycles fit in a run.
ROUNDS_PER_CYCLE = 2

# telemetry_read: registry read queries. The set keeps the flagship, the
# battery panel, the as-of join and counter correction the reference's
# clients run, and device_class_scan, whose first touch builds the meters
# fixture during the warm-up pass. latest_per_key and trailing_percentile
# run as ingest_readback's read-backs. Five queries leave time for several
# runs of each in a run; a pass takes about 3 s on 4 cores.
TELEMETRY_QUERIES = (
    "flagship_hourly_cost",
    "battery_panel",
    "asof_price_join",
    "counter_rollover",
    "device_class_scan",
)

# No query above persists an intermediate. The traced telemetry_read run
# measures the cachelife layer on this one, whose tracked_persist
# intermediates give release_caches() frames to free. It takes 3.5-7 s
# warm, as long as the rest of a pass.
CACHELIFE_QUERY = "curriculum_order"


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    work_dir: str
    tracer: Tracer
    jobs: JobCounter | None
    cpu: CpuMeter
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    @contextlib.contextmanager
    def phase(self, name: str):
        """A set-up or check phase: one span, and its wall time and the
        CPU time of the whole process tree in ``layer[name + "_s"]`` and
        ``layer[name + "_cpu_s"]``."""
        cost: list = []
        with self.tracer.span(name, op=name), measured(cost):
            yield
        self.layer[name + "_s"], self.layer[name + "_cpu_s"] = cost

    @contextlib.contextmanager
    def op_group(self, op_id: str):
        if self.jobs is None:
            yield
        else:
            with self.jobs.group(op_id):
                yield


@dataclass
class Timed:
    """Wall and CPU seconds of each timed operation, by operation name,
    and the JVM background CPU of the whole timed phase."""

    wall: dict = field(default_factory=dict)
    cpu: dict = field(default_factory=dict)
    background_s: float = 0.0

    def add(self, name: str, wall_s: float, cpu_s: float) -> None:
        self.wall.setdefault(name, []).append(wall_s)
        self.cpu.setdefault(name, []).append(cpu_s)


def batch(per_op: dict) -> float:
    """The workload's unit of work: one drain of landed payloads, or one
    pass over every query as the sum of each query's median. The sum is
    steadier than the median of the few whole passes a run holds, and a
    pass the deadline cut counts too."""
    if "drain" in per_op:
        return median(per_op["drain"])
    return sum(median(v) for v in per_op.values())


def read_p50(per_op: dict) -> float:
    """Median over the read operations of each one's median, so every
    operation weighs the same however many times it ran."""
    return median([median(v) for k, v in per_op.items() if k != "drain"])


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and every
    process under it (the JVM and its Python workers), live or reaped.
    Unlike wall time it leaves out the time the host gives to other
    tenants, which moved wall times by up to 2x between runs on a shared
    4-core machine."""
    me = os.getpid()
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        pid = int(entry)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


# JVM threads that do the runtime's own work rather than an operation's:
# JIT compilers, garbage collectors, safepoints, code-cache sweeping. In a
# run-long JVM they were still busy in the timed phase (5-13 CPU seconds
# of JIT in 12 s, and GC bursts of up to 10), in amounts that differ from
# run to run.
JVM_BACKGROUND = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM Thread", "Sweeper")


class CpuMeter:
    """CPU seconds of operations: the process tree minus the JVM's
    background threads (``JVM_BACKGROUND``), whose CPU is kept apart."""

    def __init__(self, jvm_pid: int):
        self.task_dir = f"/proc/{jvm_pid}/task"
        self._names: dict[str, str] = {}
        self._ticks: dict[str, int] = {}  # background tid -> last ticks seen

    def background_s(self) -> float:
        """CPU seconds of the background threads so far; a thread that
        has exited keeps the ticks last seen."""
        for tid in os.listdir(self.task_dir):
            name = self._names.get(tid)
            if name is None:
                try:
                    with open(f"{self.task_dir}/{tid}/comm") as fh:
                        name = self._names[tid] = fh.read().strip()
                except OSError:
                    continue
            if name.startswith(JVM_BACKGROUND):
                try:
                    with open(f"{self.task_dir}/{tid}/stat") as fh:
                        fields = fh.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                self._ticks[tid] = int(fields[11]) + int(fields[12])
        return sum(self._ticks.values()) / os.sysconf("SC_CLK_TCK")

    def op_cpu_s(self) -> float:
        return tree_cpu_s() - self.background_s()


@contextlib.contextmanager
def measured(out: list, cpu_s=tree_cpu_s):
    """Append the wall seconds and the ``cpu_s()`` seconds of the block
    to ``out``."""
    c0 = cpu_s()
    t0 = time.perf_counter()
    yield
    wall = time.perf_counter() - t0
    out.extend((wall, cpu_s() - c0))


def _order(seed: int, pass_no: int, names) -> list:
    rng = np.random.default_rng([seed, pass_no])
    return [names[i] for i in rng.permutation(len(names))]


# --- registry query workloads ----------------------------------------------


def _oracle_check(ctx: Context, data_dir: str, results: dict) -> None:
    """Compare each collected warm-up result with its DuckDB oracle,
    using the comparison of ``tools/check_oracle.py``."""
    import duckdb

    from homelogging_spark.plans.registry import ORACLES
    from homelogging_spark.tables import TABLE_NAMES

    import check_oracle

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t + '.parquet')}'"
            )
        for name, pdf in results.items():
            ctx.attempted += 1
            if pdf is None:
                continue  # already counted as a failed operation
            want = con.execute(ORACLES[name]).fetchdf()
            with contextlib.redirect_stdout(sys.stderr):
                ok = check_oracle.compare(name, pdf, want)
            if not ok:
                ctx.fail(f"oracle mismatch: {name}")
    finally:
        con.close()


def _run_query(ctx: Context, fn, data_dir: str, op_id: str, collect: bool):
    """One operation: build the plan, execute it, release its caches.
    Returns ((wall_s, cpu_s), collected result or None)."""
    from homelogging_spark.functions.cachelife import release_caches

    tr = ctx.tracer
    out = None
    cost: list = []
    with tr.span("op", op=op_id), ctx.op_group(op_id):
        with measured(cost, ctx.cpu.op_cpu_s):
            with tr.span("plans.build"):
                df = fn(ctx.spark, data_dir)
            with tr.span("engine.exec"):
                if collect:
                    out = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        with tr.span("cachelife.release"):
            release_caches()
    return cost, out


def run_queries(ctx: Context, names) -> Timed:
    from homelogging_spark.plans.registry import QUERIES

    data_dir = os.path.join(ctx.work_dir, "inputs")
    datagen.write_tables(ctx.seed, data_dir)

    results = {}
    with ctx.phase("setup.warmup_pass"):
        for name in _order(ctx.seed, 0, names):
            try:
                _, results[name] = _run_query(
                    ctx, QUERIES[name], data_dir, f"warmup:{name}", True
                )
            except Exception:
                traceback.print_exc()
                results[name] = None
                ctx.fail(f"warm-up error: {name}")
    with ctx.phase("check.oracle"):
        _oracle_check(ctx, data_dir, results)

    timed = Timed()
    bg0 = ctx.cpu.background_s()
    start = time.perf_counter()
    pass_no = 1
    while time.perf_counter() - start < ctx.seconds:
        for name in _order(ctx.seed, pass_no, names):
            if pass_no > 1 and time.perf_counter() - start >= ctx.seconds:
                break
            ctx.attempted += 1
            try:
                cost, _ = _run_query(ctx, QUERIES[name], data_dir, f"p{pass_no}:{name}", False)
            except Exception:
                traceback.print_exc()
                ctx.fail(f"error: {name}")
                continue
            timed.add(name, *cost)
        pass_no += 1
    timed.background_s = ctx.cpu.background_s() - bg0
    if ctx.tracer.enabled:
        _cachelife_probe(ctx, data_dir)
    return timed


def _cachelife_probe(ctx: Context, data_dir: str) -> None:
    """Traced run only: run ``CACHELIFE_QUERY`` once and record the
    frames ``release_caches()`` frees after it and the time that takes."""
    from homelogging_spark.functions.cachelife import release_caches
    from homelogging_spark.plans.registry import QUERIES

    with ctx.tracer.span("cachelife.probe", op="cachelife"):
        QUERIES[CACHELIFE_QUERY](ctx.spark, data_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        t0 = time.perf_counter()
        with ctx.tracer.span("cachelife.release"):
            released = release_caches()
        ctx.layer["cachelife.release_s"] = time.perf_counter() - t0
    ctx.layer["cachelife.frames_released_per_op"] = released


# --- ingest with read-back ---------------------------------------------------


def _to_readings(batch):
    """Parse each payload kind with its source module into the readings
    layout (meter_id, series, ts, values, tag)."""
    from pyspark.sql import functions as F

    from homelogging_spark.sources.dsmr import parse_telegram
    from homelogging_spark.sources.kasa import normalize_mac, parse_kasa
    from homelogging_spark.sources.tapo import parse_tapo

    dsmr = parse_telegram(batch.where(F.col("kind") == "dsmr"), "payload").select(
        "meter_id",
        F.lit("P1").alias("series"),
        "ts",
        F.array(
            "power_w",
            "energy_delivered_t1_kwh",
            "energy_delivered_t2_kwh",
            "energy_returned_t1_kwh",
            "energy_returned_t2_kwh",
        ).alias("values"),
        F.lit("dsmr").alias("tag"),
    )
    tapo = parse_tapo(batch.where(F.col("kind") == "tapo"), "payload").select(
        F.concat(F.lit("meters/"), normalize_mac("mac")).alias("meter_id"),
        F.lit("Tapo").alias("series"),
        "ts",
        F.array("current_power_w", "month_energy_kwh").alias("values"),
        F.lit("tapo").alias("tag"),
    )
    kasa = parse_kasa(
        batch.where(F.col("kind") == "kasa").withColumn("payload", F.unbase64("payload")),
        "payload",
    ).select(
        F.concat(F.lit("meters/"), F.col("device")).alias("meter_id"),
        F.lit("Kasa").alias("series"),
        "ts",
        F.array("power_w", "energy_kwh").alias("values"),
        F.lit("kasa").alias("tag"),
    )
    return dsmr.unionByName(tapo).unionByName(kasa)


def _readbacks(spark, table_path: str, cutoff):
    """The three client reads of the readings table: hourly buckets, the
    latest reading per meter and series, and the trailing 5-minute
    median the switchboiler control loop reads."""
    from pyspark.sql import functions as F

    from homelogging_spark.operators.aggregations import (
        latest_per_key,
        time_bucket_agg,
        trailing_percentile,
    )
    from homelogging_spark.operators.ingest import read_readings

    keys = ["meter_id", "series"]

    def base():
        t = read_readings(spark, table_path)
        return t.select(*keys, "ts", F.col("values")[0].alias("value"))

    return {
        "hourly": lambda: time_bucket_agg(
            base(),
            "ts",
            "hour",
            keys=keys,
            aggs=[F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n")],
        ),
        "latest": lambda: latest_per_key(base(), keys, "ts"),
        "trailing_pct": lambda: trailing_percentile(
            base(),
            F.col("value"),
            0.5,
            F.lit(cutoff.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp"),
            keys=keys,
            alias="p50",
        ),
    }


def _table_files(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class _Cycle:
    """``ROUNDS_PER_CYCLE`` rounds over a fresh landing directory, table
    and checkpoint. Every cycle of a run lands the same seeded payloads."""

    def __init__(self, ctx: Context, d: str):
        import polls

        self.ctx = ctx
        self.dir = d
        self.gen = polls.PollGenerator(ctx.seed, os.path.join(d, "landing"))
        self.table = os.path.join(d, "table")
        self.checkpoint = os.path.join(d, "checkpoint")
        os.makedirs(self.table)
        os.makedirs(self.checkpoint)
        self.stream = (
            ctx.spark.readStream.format("json").schema(polls.LANDING_DDL).load(self.gen.landing_dir)
        )
        self.progress: list = []
        self.files_per_batch: list[float] = []
        self.bytes_ratio: list[float] = []

    def drain(self, op_id: str) -> tuple[list, int]:
        """Drain the landing directory into the table; returns its
        (wall_s, cpu_s) and the bytes the table grew by."""
        from homelogging_spark.streaming.pipeline import start_append_stream

        n0, b0 = _table_files(self.table)
        cost: list = []
        with self.ctx.tracer.span("streaming.drain", op=op_id), measured(
            cost, self.ctx.cpu.op_cpu_s
        ):
            q = start_append_stream(
                self.stream, self.table, self.checkpoint, _to_readings, available_now=True
            )
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        self.progress.extend(batches)
        n1, b1 = _table_files(self.table)
        self.files_per_batch.append((n1 - n0) / max(len(batches), 1))
        return cost, b1 - b0

    def readback(self, which: str, build, op_id: str, collect_pdf: bool = False):
        tr = self.ctx.tracer
        cost: list = []
        with tr.span("op", op=op_id), self.ctx.op_group(op_id), measured(
            cost, self.ctx.cpu.op_cpu_s
        ):
            with tr.span(f"operators.{which}.build"):
                df = build()
            with tr.span(f"operators.{which}.exec"):
                out = df.toPandas() if collect_pdf else df.collect()
        return cost, out

    def run(self, tag: str, order_seed: int, timed: Timed) -> None:
        """Land, drain and read back each round; ``tag`` prefixes the
        operation ids."""
        for k in range(ROUNDS_PER_CYCLE):
            landed = self.gen.land_round()
            self.ctx.attempted += 1
            cost, table_bytes = self.drain(f"{tag}r{k}:drain")
            timed.add("drain", *cost)
            self.bytes_ratio.append(table_bytes / landed["bytes"])
            reads = _readbacks(self.ctx.spark, self.table, self.gen.cutoff)
            for which in _order(self.ctx.seed, order_seed + k, list(reads)):
                self.ctx.attempted += 1
                cost, _ = self.readback(which, reads[which], f"{tag}r{k}:{which}")
                timed.add(which, *cost)


def _check_ingest(ctx: Context, ing: _Cycle) -> None:
    """Compare the final table and read-backs with the generator's own
    expected values."""
    import pandas as pd

    gen = ing.gen
    keys = ["meter_id", "series", "ts"]
    got = ing.readback("table", lambda: ctx.spark.read.parquet(ing.table), "check:table", True)[1]
    want = gen.expected_table()
    ctx.attempted += 1
    ctx.layer["ingest.rows_kept_frac"] = len(got) / gen.rows_landed
    got = got.sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    same = (
        len(got) == len(want)
        and (got["meter_id"] == want["meter_id"]).all()
        and (got["series"] == want["series"]).all()
        and (got["tag"] == want["tag"]).all()
        and (pd.to_datetime(got["ts"]) == pd.to_datetime(want["ts"])).all()
        and all(list(a) == list(b) for a, b in zip(got["values"], want["values"]))
    )
    if not same:
        ctx.fail(f"ingest table: {len(got)} rows vs {len(want)} expected")

    expected = gen.expected_readback()
    tol = dict(rtol=1e-9, atol=1e-9)
    for which, build in _readbacks(ctx.spark, ing.table, gen.cutoff).items():
        ctx.attempted += 1
        got = ing.readback(which, build, f"check:{which}", True)[1]
        want = expected[which]
        cols = list(want.columns)
        keys_w = [c for c in cols if c in ("meter_id", "series", "bucket")]
        g = got[cols].sort_values(keys_w).reset_index(drop=True)
        w = want[cols].sort_values(keys_w).reset_index(drop=True)
        ok = len(g) == len(w)
        if ok:
            for c in cols:
                if c in ("avg_value", "p50", "value"):
                    ok &= bool(np.allclose(g[c].astype(float), w[c].astype(float), **tol))
                elif c in ("ts", "bucket"):
                    ok &= bool((pd.to_datetime(g[c]) == pd.to_datetime(w[c])).all())
                else:
                    ok &= bool((g[c].astype(str) == w[c].astype(str)).all())
        if not ok:
            ctx.fail(f"read-back mismatch: {which}")


def _parse_costs(ctx: Context, ing: _Cycle) -> None:
    """Traced run only: time each source parser on the last landed round,
    batch-read, to a noop sink (median of three)."""
    import glob

    import polls
    from pyspark.sql import functions as F

    from homelogging_spark.sources.dsmr import parse_telegram
    from homelogging_spark.sources.kasa import parse_kasa
    from homelogging_spark.sources.tapo import parse_tapo

    last = ing.gen.round - 1
    files = sorted(glob.glob(os.path.join(ing.gen.landing_dir, f"r{last:04d}_*.json")))
    raw = ctx.spark.read.schema(polls.LANDING_DDL).json(files)
    parsers = {
        "dsmr": lambda b: parse_telegram(b, "payload"),
        "tapo": lambda b: parse_tapo(b, "payload"),
        "kasa": lambda b: parse_kasa(b.withColumn("payload", F.unbase64("payload")), "payload"),
    }
    for kind, parse in parsers.items():
        runs = []
        for _ in range(3):
            with ctx.tracer.span(f"sources.{kind}.parse", op=f"parse:{kind}"):
                t0 = time.perf_counter()
                parse(raw.where(F.col("kind") == kind)).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.perf_counter() - t0)
        ctx.layer[f"sources.{kind}_parse_s"] = median(runs)


def run_ingest(ctx: Context) -> Timed:
    def cycle(no: int, tag: str, timed: Timed) -> _Cycle:
        c = _Cycle(ctx, os.path.join(ctx.work_dir, f"cycle{no}"))
        try:
            c.run(tag, no * ROUNDS_PER_CYCLE, timed)
        except Exception:
            traceback.print_exc()
            ctx.fail(f"cycle {no} error")
        return c

    with ctx.phase("setup.warmup_pass"):
        last = cycle(0, "warmup:c0", Timed())

    timed = Timed()
    done: list[_Cycle] = []
    bg0 = ctx.cpu.background_s()
    start = time.perf_counter()
    no = 1
    while no == 1 or time.perf_counter() - start < ctx.seconds:
        shutil.rmtree(last.dir)
        last = cycle(no, f"c{no}", timed)
        done.append(last)
        no += 1
    timed.background_s = ctx.cpu.background_s() - bg0

    with ctx.phase("check.oracle"):
        _check_ingest(ctx, last)

    prog = [p for c in done for p in c.progress]
    ctx.layer["streaming.batches"] = len(prog) / (len(done) * ROUNDS_PER_CYCLE)
    ctx.layer["streaming.input_rows_per_batch"] = median([p.numInputRows for p in prog])
    for metric, key in (
        ("trigger_s", "triggerExecution"),
        ("add_batch_s", "addBatch"),
        ("planning_s", "queryPlanning"),
        ("get_batch_s", "getBatch"),
        ("commit_s", "commitOffsets"),
    ):
        ctx.layer[f"streaming.{metric}"] = median(
            [p.durationMs.get(key, 0) / 1000.0 for p in prog]
        )
    ctx.layer["ingest.files_written_per_batch"] = median(
        [f for c in done for f in c.files_per_batch]
    )
    ctx.layer["ingest.bytes_written_per_input_byte"] = median(
        [b for c in done for b in c.bytes_ratio]
    )
    ctx.layer["ingest.table_files"] = _table_files(last.table)[0]
    if ctx.tracer.enabled:
        _parse_costs(ctx, last)
    return timed
