"""Physical-plan quality gates — the scale properties the engine's
docstrings claim, asserted against Catalyst's actual output so they
cannot silently regress:

- the flagship reads the fact table ONCE (r1's 4-scan plan stays dead);
- raw-column predicates reach the parquet scan (PushedFilters);
- unused columns never reach the scan (ReadSchema pruning);
- dimension joins broadcast instead of shuffling the fact side;
- aggregations are partial (map-side combine) before the exchange;
- NO query in the registry plans a CartesianProduct, and only the
  explicitly broadcast Q×N scorers may use a nested-loop join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

# crossJoin(broadcast(queries)) is the DESIGNED plan for exact/IVF
# scoring: Q rows against every corpus vector, no shuffle of the corpus.
# values_projection: its test frame uses a CONSTANT series, which folds
# the equi-key out of the schema-dim join, leaving a broadcast nested
# loop against the 8-row dim — a map-side lookup, not a blowup; a varied
# series column plans BroadcastHashJoin (asserted below).
# tfidf_top_terms: a 1-row broadcast cross attaching the corpus-size
# scalar to the df table — a constant lookup, not a pair blowup.
# curriculum_order (r7): the same 1-row corpus-count broadcast, feeding
# the ntile closed form — a constant lookup.
# pq_codes: the K·M-row codebook broadcast against each vector — a
# constant-width map-side lookup, the intended PQ assignment shape.
# length_drift_psi: a 1-row totals broadcast against the 10-bin
# aggregate — a constant lookup.
# semantic_dedup: the ivf_assign broadcast of K centroids against each
# vector — the same designed cell-assignment shape as ann_ivf_topk.
# grid_resample_locf: the 1-row global grid-bounds broadcast against the
# distinct-meter frame — a constant lookup.
# funnel_stages: the 1-row first-stage-total broadcast against the
# 3-row funnel — a constant lookup.
BROADCAST_NESTED_LOOP_OK = {
    # kmv_source_overlap: pairwise union/∩ over the per-source KMV sketch
    # table — dim-sized (|sources| rows, ≤k hashes each), broadcast on
    # purpose; the BNLJ-not-Cartesian shape is pinned in
    # test_sketches.test_overlap_plans_bnlj_not_cartesian and measured 13×
    # faster than the shuffle form in SCALE.md.
    "kmv_source_overlap",
    "funnel_stages",
    # r6 (ann_lsh/ann_ivf, merged into ann_topk in r10): recall@k honesty
    # column joins the exact_topk reference, whose 5-row broadcast query
    # panel is the same benign BNLJ as embedding_topk; r18: the absorbed
    # sq8 leg adds the 1-row SQ8 bounds broadcast against the corpus
    # scan (a constant-width lookup, the PQ-codebook shape — the retired
    # sq8_topk row's allowlist entry carried here with the merge)
    "ann_topk",
    # r10: probe/ADC stages are the same broadcast-codebook and
    # broadcast-centroid constant-width lookups as pq_adc_topk/ann_topk
    "ivf_pq_topk",
    # r14: serves ivf_pq_topk's exact probe/ADC chain from the
    # cycle-maintained parquet artifacts — same broadcast-codebook /
    # broadcast-centroid constant-width BNLJ, never a corpus cartesian.
    # r20: the panel's absorbed method='opq' leg (the retired
    # opq_index_search row, r18) adds the identical broadcast-codebook
    # ADC lookups plus the query-side rotation (a dim-sized
    # projection, no join at all) — its allowlist entry carried here
    # with the merge, the sq8_topk→ann_topk precedent
    "index_cycle_search",
    # r18: BM25 served from the maintained state generation — the
    # (N, total_dl) stats frame is ONE row crossed onto the pruned
    # per-term frame (a designed 1-row broadcast, the stats-dim shape);
    # everything else is hash joins over bounded frames
    "bm25_state_served",
    # r18 runway (registers r19): the LM's 1-row n_vocab stats frame is
    # the same designed 1-row broadcast as bm25's — entry added with the
    # staged query so the r16 retired-allowlist failure mode can't recur
    "lm_perplexity_filter",
    # r18 runway: the learned-rotation ADC chain plans pq_adc_topk's
    # same broadcast-codebook constant-width lookups (entry pre-added
    # with the staged query, same rationale as above)
    "opq_learned_search",
    # r19 runway (REGISTERED r20): the IVF-OPQ composition
    # plans index_cycle_search's broadcast-centroid probe + the
    # broadcast-codebook ADC lookup — the same designed constant-width
    # BNLJs; entry pre-added with the staged query
    "ivf_opq_search",
    "semantic_dedup",
    "grid_resample_locf",
    "curriculum_order",
    "values_projection",
    "tfidf_top_terms",
    # r10: the per-query K·M distance table is the queries × codebook
    # broadcast cross — the same constant-width lookup as pq_codes
    # (ADC scoring never touches raw corpus embeddings at all)
    "pq_adc_topk",
    # r16: composes the retired pq_codes' broadcast-codebook lookup
    # (absorbed as its method='pq' codes leg), pq_adc_topk's
    # query × codebook cross, and exact_topk's broadcast-query recall
    # truth — the same designed constant-width BNLJs, for two methods
    "opq_panel",
    "length_drift_psi",
    # r15: ivf_assign's broadcast of K centroids against each vector —
    # the same designed cell-assignment shape as semantic_dedup/ann_topk
    "cluster_balanced_sample",
    # r17: the ann leg is exact_topk's broadcast-query scoring scan —
    # the same allowlisted shape as ann_topk's exact leg; the bm25 and
    # rrf legs plan only hash joins over bounded frames
    "hybrid_search_panel",
}


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestPlanQuality:
    def test_flagship_scans_events_once(self, spark):
        from homelogging_spark.plans import flagship

        plan = plan_of(flagship.hourly_cost_analysis(spark, SF))
        assert plan.count("FileScan parquet") == 1

    def test_cost_totals_scans_events_once(self, spark):
        from homelogging_spark.plans import flagship

        plan = plan_of(flagship.cost_totals(spark, SF))
        assert plan.count("FileScan parquet") == 1

    def test_pricing_summary_is_one_pruned_partial_agg_scan(self, spark):
        from homelogging_spark.plans.registry import q_pricing_summary

        plan = plan_of(q_pricing_summary(spark, SF))
        assert plan.count("FileScan parquet") == 1
        # shipdate predicate reaches the scan; unused key columns pruned
        assert "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0]
        scan_cols = plan.split("FileScan parquet [")[1].split("]")[0]
        assert "l_orderkey" not in scan_cols and "l_partkey" not in scan_cols
        # partial (map-side) + final aggregation
        assert plan.count("HashAggregate") == 2

    def test_raw_predicate_pushed_to_scan(self, spark):
        from homelogging_spark.plans.registry import QUERIES

        plan = plan_of(QUERIES["time_range_filter"](spark, SF))
        assert "PushedFilters:" in plan
        pushed = plan.split("PushedFilters:")[1].split("]")[0]
        assert "user_id" in pushed  # raw-column predicate reaches the scan

    def test_column_pruning_reaches_scan(self, spark):
        """r17: count_by_series merged into bucket_downsample_panel —
        the pruning pin now covers the panel's scans (ts/event_type/
        value, never props/event_id/user_id) and keeps the original
        2-column assertion on the series leg built standalone."""
        from homelogging_spark.plans.registry import QUERIES, load_table

        plan = plan_of(QUERIES["bucket_downsample_panel"](spark, SF))
        for read_schema in (
            seg.splitlines()[0] for seg in plan.split("ReadSchema:")[1:]
        ):
            assert "props" not in read_schema
            assert "event_id" not in read_schema and "user_id" not in read_schema
        leg = (
            load_table(spark, SF, "events")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        read_schema = plan_of(leg).split("ReadSchema:")[1].splitlines()[0]
        assert "event_type" in read_schema
        assert "value" not in read_schema and "event_id" not in read_schema

    def test_domain_curation_filter_stays_above_projection(self, spark):
        """The r16 pushdown-trap pin (SCALE.md): the mixture leg's
        blocked-stratum filter must run on the dim-sized aggregate, not
        be pushed below the staged URL projection — where
        PushDownPredicate would re-inline the whole regex tree into a
        per-row Filter at the scan (measured 3.2 s vs ms at sf0.1)."""
        from homelogging_spark.plans.pipeline_registry import q_domain_curation

        df = q_domain_curation(spark, SF)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        for chunk in opt.split("Filter ")[1:]:
            predicate = chunk.splitlines()[0]
            assert "regexp_extract" not in predicate, (
                "blocked-filter re-inlined the URL tree into a per-row "
                "Filter — aggregate-first with first(blocked) regressed"
            )
        # the whole optimized plan stays bounded (was 91 KB when the
        # single-tree projection + pushed filter both re-inlined)
        assert len(opt) < 30_000

    def test_dim_join_broadcasts(self, spark):
        from homelogging_spark.plans.registry import QUERIES

        plan = plan_of(QUERIES["customer_order_totals"](spark, SF))
        assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan

    def test_aggregation_is_partial_before_exchange(self, spark):
        from homelogging_spark.plans.registry import QUERIES

        plan = plan_of(QUERIES["bucket_downsample_panel"](spark, SF))
        # partial + final HashAggregate around the exchange = map-side combine
        assert plan.count("HashAggregate") >= 2

    def test_named_components_varied_series_uses_hash_join(self, spark):
        from pyspark.sql import functions as F

        from homelogging_spark.functions.values import with_named_components
        from homelogging_spark.tables import load_table

        readings = load_table(spark, SF, "events").select(
            F.when(F.col("user_id") % 2 == 0, "PowerEnergy")
            .otherwise("MPPT1")
            .alias("series"),
            F.array("value").alias("values"),
        )
        plan = plan_of(with_named_components(readings, spark, ["power_w"]))
        assert "BroadcastHashJoin" in plan

    @pytest.mark.parametrize("name", ["key_normalized_join", "device_class_scan"])
    def test_meters_dim_queries_scan_events_at_most_once(self, spark, name):
        """The meters dim is a materialized table (tables.meters_table),
        not a per-query derivation from the fact table — each consumer
        pays at most one events scan plus a tiny dim scan."""
        from homelogging_spark.plans.registry import QUERIES

        # a fresh build: the plan cache may hold a frame that has run,
        # whose AQE plan prints each scan twice (final and initial plan)
        plan = plan_of(QUERIES[name].__wrapped__(spark, SF))
        assert plan.count("events.parquet") <= 1
        assert "meters_sf" in plan  # reads the materialized dim

    def test_curriculum_order_has_no_global_window(self, spark):
        """curriculum_order's quintile stage and global position both
        derive from the distributed two-pass prefix-sum rank
        (sampling.distributed_row_number), NOT a global Window.orderBy
        — the only unpartitioned windows allowed in its plan are the
        per-partition-offset prefixes over the metadata-sized ``_pid``
        totals (one row per range partition). A physical Window node
        prints 3 bracket groups when partitioned ([exprs], [partition],
        [order]) and 2 when global ([exprs], [order])."""
        import re

        from homelogging_spark.plans.registry import QUERIES

        plan = plan_of(QUERIES["curriculum_order"](spark, SF))
        offenders = []
        for ln in plan.splitlines():
            m = re.search(r"\bWindow\b", ln)
            if not m or "windowspecdefinition" not in ln:
                continue
            body = ln[m.end() :]
            groups, depth, cur = [], 0, ""
            for ch in body:
                if ch == "[":
                    depth += 1
                    if depth == 1:
                        cur = ""
                        continue
                elif ch == "]":
                    depth -= 1
                    if depth == 0:
                        groups.append(cur)
                        continue
                if depth >= 1:
                    cur += ch
            unpartitioned = len(groups) < 3
            if unpartitioned and "_pid" not in ln:
                offenders.append(ln.strip()[:160])
        assert offenders == [], offenders

    @pytest.mark.parametrize("scope", ["all"])
    def test_no_cartesian_products_anywhere(self, spark, scope):
        import __spark_entry__ as entry

        # measure CANONICAL plans: under the session-scoped fixture,
        # frames persisted by earlier tests make matching subtrees
        # render as InMemoryRelation blocks that embed the full cached
        # child plan in the formatted text — inflating the size gate
        # below without any real plan change. Released frames are
        # merely recomputed, never wrong (cachelife contract).
        from homelogging_spark.functions.cachelife import release_caches

        offenders = []
        for name, fn in entry.queries().items():
            release_caches()
            spark.catalog.clearCache()
            plan = plan_of(fn(spark, SF))
            if "CartesianProduct" in plan:
                offenders.append((name, "CartesianProduct"))
            if (
                "BroadcastNestedLoopJoin" in plan
                and name not in BROADCAST_NESTED_LOOP_OK
            ):
                offenders.append((name, "BroadcastNestedLoopJoin"))
            # registry-wide pushdown-trap gate (SCALE.md r16): a Filter
            # whose predicate text runs to kilobytes is a derived-column
            # predicate that PushDownPredicate re-inlined below its
            # staged projection — domain_curation's was tens of KB and
            # cost 17x; the registry-wide max today is ~0.4 KB
            worst = max(
                (len(c.splitlines()[0]) for c in plan.split("Filter ")[1:]),
                default=0,
            )
            if worst > 4000:
                offenders.append((name, f"Filter predicate {worst} chars"))
            # r21 plan-size guardrail (r20 verdict #10): the dim²
            # expression-tree pathology the r20 Arrow twins removed
            # produced 100KB+ formatted plans (opq_learned_search was
            # 104 KB, ann_topk 173 KB) whose py4j construction and
            # Catalyst analysis dominated wall-clock. Registry-wide max
            # today is ~58 KB (ann_topk); a plan past 100 KB means a
            # per-element expression tree snuck back in.
            if len(plan) > 100_000:
                offenders.append((name, f"formatted plan {len(plan)} chars"))
        assert offenders == []


class TestBucketedJoin:
    def test_bucketed_tables_join_without_exchange(self, spark, tmp_path):
        """Bucketing both sides of a recurring join key co-locates the
        data at WRITE time: the join then needs no shuffle at all — the
        scale answer for fact-to-fact joins repeated every round."""
        from pyspark.sql import functions as F

        from homelogging_spark.tables import load_table

        spark.sql(
            f"CREATE DATABASE IF NOT EXISTS bucketdemo LOCATION '{tmp_path}/wh'"
        )
        ev = load_table(spark, SF, "events")
        a = ev.select("user_id", "ts", "value")
        b = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        for name, df in (("ev_a", a), ("agg_b", b)):
            df.write.bucketBy(8, "user_id").sortBy("user_id").mode(
                "overwrite"
            ).format("parquet").saveAsTable(f"bucketdemo.{name}")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = spark.table("bucketdemo.ev_a").join(
                spark.table("bucketdemo.agg_b"), "user_id"
            )
            plan = plan_of(joined)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: zero shuffle


class TestBucketedSnapshotDiff:
    def test_cdc_diff_on_bucketed_snapshots_has_no_exchange(
        self, spark, tmp_path
    ):
        """The CDC-specific form of the bucketed-join promise in
        q_snapshot_diff's docstring: two dim snapshots written bucketed
        on the key, diffed by the SAME operator the registry query uses
        (``ingest.snapshot_cdc_diff``) — the full outer SortMergeJoin
        must run with zero Exchange. This is the recurring-CDC layout
        at 100 TB: a snapshot re-lands every round, so write-side
        bucketing amortizes and every diff afterwards is shuffle-free."""
        from pyspark.sql import functions as F

        from homelogging_spark.operators.ingest import snapshot_cdc_diff
        from homelogging_spark.tables import load_table

        spark.sql(
            f"CREATE DATABASE IF NOT EXISTS cdcdemo LOCATION '{tmp_path}/wh'"
        )
        cust = load_table(spark, SF, "customer")
        old = cust.where(F.col("c_custkey") % 10 != 0).select(
            "c_custkey", F.col("c_acctbal").alias("old_bal")
        )
        new = cust.select(
            "c_custkey",
            F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0)
            .otherwise(F.col("c_acctbal"))
            .alias("new_bal"),
        )
        for name, df in (("snap_old", old), ("snap_new", new)):
            df.write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode(
                "overwrite"
            ).format("parquet").saveAsTable(f"cdcdemo.{name}")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            diff = snapshot_cdc_diff(
                spark.table("cdcdemo.snap_old"),
                spark.table("cdcdemo.snap_new"),
                "c_custkey",
            )
            plan = plan_of(diff)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "SortMergeJoin" in plan and "FullOuter" in plan
        assert "Exchange" not in plan  # co-located: zero shuffle
        # and the diff itself is right on the bucketed inputs
        kinds = {
            r.change_type: r.n
            for r in diff.groupBy("change_type").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert set(kinds) == {"added", "changed", "unchanged"}


class TestTextCleanPanelPlan:
    def test_panel_is_shuffle_free(self, spark):
        """The text-cleaning panel (PII scrub + line dedup) must stay a
        pure map-side projection: the only allowed Exchange is the
        deliberate `_docs()` round-robin spread (REPARTITION_BY_NUM on
        low-partition inputs) — any hashpartitioning Exchange would mean
        a leg accidentally grew an aggregate or join."""
        from homelogging_spark.plans.llm_registry import q_text_clean_panel

        plan = plan_of(q_text_clean_panel(spark, SF))
        assert "Exchange hashpartitioning" not in plan
        assert "Join" not in plan and "Aggregate" not in plan


class TestBpePackPlan:
    def test_tokenization_is_jvm_side_one_exchange(self, spark):
        """bpe_pack's claim: BPE tokenization is a pure JVM expression
        chain — the ONLY Python in the plan is the packing fold itself
        (FlatMapGroupsInPandas), the only Exchange its shard
        repartition. A BatchEvalPython / ArrowEvalPython node would mean
        token counting fell off the codegen path."""
        from homelogging_spark.plans.pipeline_registry import q_bpe_pack

        plan = plan_of(q_bpe_pack(spark, SF))
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert plan.count("FlatMapGroupsInPandas") == 1
        # exactly one hash exchange (the shard key feeding the fold);
        # the round-robin spread on low-partition inputs is deliberate
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("Exchange") <= 2


class TestScd2Plan:
    def test_scd2_history_single_exchange(self, spark):
        """scd2_history pins ONE shuffle: the boundary lag, running
        version sum, per-version aggregate, and lead() close-off all
        cluster by the key (or a superset), so HashPartitioning(keys)
        satisfies every later stage's clustered distribution — each is
        sort-only. A second Exchange would mean the (key, version)
        aggregate or the close-off window re-shuffled."""
        from homelogging_spark.plans.registry import q_scd2_history

        plan = plan_of(q_scd2_history(spark, SF))
        assert plan.count("Exchange hashpartitioning") == 1
        assert "BroadcastExchange" not in plan


class TestFoldPartitioning:
    def test_every_pandas_fold_sits_on_explicit_exchange(self, spark):
        """Every applyInPandas fold in the registry must be fed by a
        user-specified (REPARTITION_BY_NUM) exchange — exempt from AQE
        partition coalescing. AQE sizes post-shuffle partitions by BYTES,
        but a fold's cost is per GROUP; a few-MB shuffle holding ~1500
        groups coalesces to ONE task and serializes every per-group
        Python call (measured 5.3 s -> 0.94 s on the Kasa fold, SCALE.md).
        This gate keeps the failure mode from silently returning with any
        new fold that skips shuffleutil.fold_partitioned."""
        import __spark_entry__ as entry

        offenders, n_folds = [], 0
        for name, fn in entry.queries().items():
            lines = plan_of(fn(spark, SF)).splitlines()
            for i, ln in enumerate(lines):
                if "FlatMapGroupsInPandas" not in ln:
                    continue
                n_folds += 1
                feeding = next(
                    (l for l in lines[i + 1 :] if "Exchange hashpartitioning" in l),
                    "",
                )
                if "REPARTITION_BY_NUM" not in feeding:
                    offenders.append((name, feeding.strip() or "NO EXCHANGE"))
        assert offenders == []
        assert n_folds >= 4  # kasa_offset_exact, battery x2, pack x2 reach here


# The telemetry read queries dashboards and control loops rerun every
# few minutes: their per-query fixed cost is plan construction.
TELEMETRY_QUERIES = (
    "flagship_hourly_cost",
    "battery_panel",
    "asof_price_join",
    "counter_rollover",
    "device_class_scan",
)


class TestWarmBuildCost:
    @pytest.mark.parametrize("name", TELEMETRY_QUERIES)
    def test_warm_build_starts_no_job(self, spark, jobs_started, name):
        """Once the fixtures exist and every table's schema is memoized
        (tables.read_parquet), building the query is pure planning: a
        job here is a schema inference or an eager action paid on every
        rebuild. The plan cache is cleared, so the query is built."""
        import __spark_entry__ as entry
        from homelogging_spark.plans.plancache import clear_plan_cache

        fn = entry.queries()[name]
        fn(spark, SF)  # first touch: fixture builds, schema inference
        clear_plan_cache(spark)
        _, jobs = jobs_started(lambda: fn(spark, SF))
        assert jobs == 0

    def test_call_site_capture_off_by_default_and_restorable(self, spark):
        """Off in every get_spark() session; a static conf, so turning it
        back on through extra_conf needs a process of its own."""
        import os
        import subprocess
        import sys

        key = "spark.python.sql.dataFrameDebugging.enabled"
        assert spark.conf.get(key) == "false"
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        probe = (
            "from homelogging_spark.session import get_spark\n"
            f"s = get_spark(master='local[1]', extra_conf={{{key!r}: 'true'}})\n"
            f"print(s.conf.get({key!r}))\n"
            "s.stop()\n"
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
        assert out.stdout.strip().splitlines()[-1] == "true"
