"""Per-query cost decomposition: DataFrame construction (py4j +
analysis) vs first noop execution vs warm re-execution.

Usage: python tools/profile_query.py <query> [query ...]

For each query, times:
  build    — fn(spark, sf_dir) returning the DataFrame (Python-side
             plan construction, py4j traffic, analysis trigger)
  exec1    — first .write.format('noop') on that frame (codegen + run)
  rebuild  — a second fn() call after ``clear_plan_cache`` (warm JVM,
             fresh plan: the cost of a plan-cache miss)
  exec2    — its noop write
  cached   — a third fn() call, served from the plan cache when the
             query is cacheable (marked ``[hit]``; plans/plancache.py)
  exec3    — its noop write

A rerun between writes is a plan-cache hit, so (cached+exec3) ~= the
bench's steady-state per-iter cost, and (rebuild+exec2) is what a rerun
after a write costs; the build/exec split says whether to attack plan
size or execution. Next to each time, ``[N jobs]`` is the number of
Spark jobs that step started: a warm rebuild should start none, so a
job there is a schema inference or an eager action paid on every run
of the query. After the job count, ``py N s`` is the CPU seconds the
Python worker processes under the JVM (worker daemons and the workers
they fork, read from /proc) spent in that step: a step bound by Python
per-task cost (a pandas UDF, an applyInPandas fold) shows it there.
"""

from __future__ import annotations

import itertools
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from homelogging_spark.session import get_spark


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) spent so
    far by the processes under the JVM: its Python worker daemons and
    their workers."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])

    def under_jvm(pid: int) -> bool:
        pid = parent.get(pid, 0)
        while pid not in (0, 1):
            if pid == jvm_pid:
                return True
            pid = parent.get(pid, 0)
        return False

    total = sum(t for pid, t in ticks.items() if under_jvm(pid))
    return total / os.sysconf("SC_CLK_TCK")


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = get_spark("homelogging-profile")
    spark.sparkContext.setLogLevel("ERROR")

    from homelogging_spark.functions.cachelife import release_caches
    from homelogging_spark.plans.plancache import clear_plan_cache
    from homelogging_spark.tables import load_table

    load_table(spark, sf_dir, "events").count()
    load_table(spark, sf_dir, "lineitem").count()

    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    groups = itertools.count()

    def timed(step):
        """(step(), its seconds, "[N jobs, py S s]": the Spark jobs it
        started and the Python worker CPU seconds it used)."""
        group = f"profile-{next(groups)}"
        sc.setJobGroup(group, group)
        cpu0 = python_worker_cpu_s(jvm_pid)
        t0 = time.time()
        try:
            out = step()
            elapsed = time.time() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status tracker is fed by the asynchronous listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return out, elapsed, f"[{jobs} jobs, py {python_worker_cpu_s(jvm_pid) - cpu0:.2f} s]"

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    for n in names:
        fn = qs[n]
        df, build, build_j = timed(lambda: fn(spark, sf_dir))
        _, exec1, exec1_j = timed(lambda: noop(df))
        release_caches()
        clear_plan_cache(spark)
        df2, rebuild, rebuild_j = timed(lambda: fn(spark, sf_dir))
        _, exec2, exec2_j = timed(lambda: noop(df2))
        release_caches()
        df3, cached, cached_j = timed(lambda: fn(spark, sf_dir))
        _, exec3, exec3_j = timed(lambda: noop(df3))
        release_caches()
        hit = " [hit]" if df3 is df2 else ""
        print(
            f"{n}: build={build:.3f} {build_j} exec1={exec1:.3f} {exec1_j} "
            f"rebuild={rebuild:.3f} {rebuild_j} exec2={exec2:.3f} {exec2_j} "
            f"cached={cached:.4f}{hit} {cached_j} exec3={exec3:.3f} {exec3_j} "
            f"(bench-like iter={cached + exec3:.3f})",
            flush=True,
        )


if __name__ == "__main__":
    main()
