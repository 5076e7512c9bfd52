"""Plan-contract regression guards: the physical-plan properties the
100 TB design depends on, ASSERTED instead of merely documented in
PLANS.md — the test_bucketed.py stance generalized. Each contract here
caught (or fixes) a real past defect:

- textrank's single-partition full-vocabulary window (VERDICT r5 #2)
- heavy hitters' second corpus action for its threshold (VERDICT r5 #3)
- unpruned scans reading all columns for narrow projections

Plans are read from the FINAL adaptive plan after executing THAT
DataFrame's own query execution (a noop write executes a copy and
leaves the adaptive plan unfinalized — the dump_plans lesson), with
AQE's duplicated "Initial Plan" section stripped.
"""

from __future__ import annotations

import re

import pytest
from conftest import scan_filters

from music_streaming_data_pipeline_v2_spark.plans.driver_queries import (
    REGISTRY,
)

SF_DIR = "/root/testdata/sf0.01"


def _final_df(spark, name: str):
    df = REGISTRY[name].fn(spark, SF_DIR)
    df.collect()
    return df


def _plan_text(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _final_plan(spark, name: str) -> str:
    return _plan_text(_final_df(spark, name))


def test_textrank_topk_is_take_ordered(spark):
    # the two-phase global top-k: a TakeOrderedAndProject cut BEFORE
    # the rank window — never a full-vocabulary single-partition
    # WindowExec (the r5 scale-killer)
    plan = _final_plan(spark, "textrank_keywords")
    assert "TakeOrderedAndProject" in plan
    # the window must sit ABOVE the cut in the operator tree (appear
    # before it in the top-down toString)
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_heavy_hitters_single_corpus_scan(spark):
    # the corpus total folds into the Misra-Gries summary pass, which
    # materializes ONCE into a localCheckpoint — so the final plan
    # holds exactly ONE corpus FileScan (the exact-verify semi-join
    # side) plus checkpoint reads (Scan ExistingRDD) for candidates
    # AND total; the pre-fix shape ran a separate count() action over
    # a second full corpus scan
    plan = _final_plan(spark, "heavy_hitter_tokens")
    scans = len(re.findall(r"FileScan parquet", plan))
    assert scans == 1, f"expected 1 in-plan corpus scan (verify), got {scans}"
    assert len(re.findall(r"Scan ExistingRDD", plan)) >= 2


def test_hll_scan_pruned_and_filter_pushed(spark):
    df = _final_df(spark, "hll_distinct_users")
    plan = _plan_text(df)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, "no parquet scan found"
    for sc in schemas:
        cols = {c.split(":")[0] for c in sc.split(",") if c}
        assert cols <= {"ts", "user_id"}, cols
    assert "IsNotNull(user_id)" in scan_filters(df).pushed


def test_enrichment_joins_broadcast_dims(spark):
    # fact⋈dim joins broadcast the small side; no shuffle join of a
    # dimension, no nested loop anywhere
    plan = _final_plan(spark, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pricing_summary_pushes_predicate(spark):
    pushed = scan_filters(_final_df(spark, "pricing_summary")).pushed
    assert pushed, "no pushed filters at the scan"


def test_quantiles_shuffle_value_bounded(spark):
    # the quantile plan aggregates BEFORE its window: the corpus-sized
    # relation never reaches a single-partition exchange (the window
    # runs over the distinct-value histogram)
    plan = _final_plan(spark, "doc_length_quantiles")
    sp = [
        ln
        for ln in plan.splitlines()
        if "Exchange SinglePartition" in ln and "ReusedExchange" not in ln
    ]
    # single-partition exchanges exist (the bounded histogram cumsum +
    # the 1-row total) — but every one must sit above a HashAggregate,
    # never directly above a corpus scan
    assert "HashAggregate" in plan
    assert len(sp) <= 3


def test_rendezvous_is_map_only_before_count(spark):
    # HRW assignment must be one map-side expression: exactly one scan,
    # no join, and the only exchange is the final 8-row count aggregate
    plan = _final_plan(spark, "rendezvous_shards")
    assert plan.count("Scan ") == 1 or plan.count("FileScan") == 1
    assert "Join" not in plan
    assert len(re.findall(r"Exchange", plan)) <= 2  # partial+final agg


def test_phrase_gate_zero_shuffles(spark):
    plan = _final_plan(spark, "phrase_blocklist_docs")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_group_cap_never_windows_the_corpus(spark):
    # windows may run over the cell-count relation and the threshold
    # cell only — every Window node must sit above a prior Filter or
    # aggregate, and the keep path must be a broadcast join
    plan = _final_plan(spark, "per_domain_cap_sample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # no Window may consume the raw scan directly: each WindowExec's
    # subtree must contain an aggregate or filter between it and the
    # file scan; cheap structural proxy — the plan has at least one
    # HashAggregate below the first Window occurrence
    first_window = plan.index("Window")
    assert "HashAggregate" in plan[first_window:] or "Filter" in plan[first_window:]


def test_epoch_ids_no_window_no_exchange(spark):
    # the global row-number primitive, post-ADVICE-r6 shape: the range
    # shuffle + sort materialize once into an eager localCheckpoint
    # (whose job also feeds the driver-side #partitions-row prefix
    # sum), and the FINAL plan is purely the checkpointed layout
    # through the offset+arange Arrow kernel — NO WindowExec anywhere
    # (the single-partition ROW_NUMBER trap is structurally absent,
    # not merely bounded) and no further Exchange
    plan = _final_plan(spark, "epoch_shuffle_positions")
    assert "MapInPandas" in plan
    assert "Scan ExistingRDD" in plan
    assert "Window" not in plan
    assert "Exchange" not in plan


def test_pydatasource_pushdown_leaves_only_isnotnull(spark):
    from pyspark.sql import functions as F

    from music_streaming_data_pipeline_v2_spark.io.pydatasource import (
        register_synthetic,
    )

    register_synthetic(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("n", 1000)
        .load()
        .filter((F.col("id") >= 100) & (F.col("id") < 200))
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    filters = [
        ln for ln in plan.splitlines() if re.search(r"\bFilter\b", ln)
    ]
    # the range predicates were consumed by pushFilters: any residual
    # Filter may contain only isnotnull
    for ln in filters:
        assert "isnotnull" in ln and ">=" not in ln and "<" not in ln, ln


def test_quantile_normalize_windows_only_value_relation(spark):
    # CDF calibration must never rank document rows: both windows
    # (cumulative ≤-count and group total) run over the per-(group,
    # value) aggregate — every WindowExec has a HashAggregate below
    # it, and the join back to rows is the map-side broadcast at this
    # scale (AQE may legitimately shuffle it when the value relation
    # outgrows broadcast)
    plan = _final_plan(spark, "quantile_normalized_lengths")
    assert "Window" in plan
    for m in re.finditer(r"\bWindow\b", plan):
        assert plan[m.start():].find("HashAggregate") != -1, (
            "a window consumes unaggregated rows"
        )


def test_observe_metric_is_pushdown_barrier(spark):
    # The pipeline's quarantine probe (streaming/pipeline.py) counts
    # invalid rows in an observation BELOW the validity filter so the
    # validated write's own pass answers "were there bad rows?".
    # That only works if Catalyst refuses to push the filter through
    # CollectMetrics — otherwise the metric silently counts only
    # surviving rows (always 0). Pin the barrier.
    from pyspark.sql import Observation

    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, "a"), (None, "b")], "user_id int, track_id string"
    )
    obs = Observation()
    bad = (F.col("user_id").isNull()).cast("long")
    src = df.observe(obs, F.sum(bad).alias("n_bad"))
    good = src.filter(F.col("user_id").isNotNull())
    plan = good._jdf.queryExecution().optimizedPlan().toString()
    assert plan.index("Filter") < plan.index("CollectMetrics")
    good.write.format("noop").mode("overwrite").save()
    assert obs.get["n_bad"] == 1


def test_kv_lookup_prunes_to_its_date_partition(spark, tmp_path):
    # The Catalyst path of a serving lookup (operators/serving.py
    # `_key_condition`) derives a `date` PartitionFilter from its pk, so
    # the scan opens only that day's files instead of every day's.
    # inputFiles() lists a path-based relation's whole file index
    # whatever the filter, so the files are read from the scan's own RDD
    # partitions. The public call on the same bare scan takes the point
    # path instead: a LocalTableScan over the same rows.
    import os

    from pyspark.sql import functions as F

    from music_streaming_data_pipeline_v2_spark.operators.serving import (
        _key_condition,
        query_pk_prefix,
    )

    days = ["2024-06-24", "2024-06-25", "2024-06-26"]
    rows = [
        (f"GENRE#g{g}#DATE#{d}", f"METRIC#m{m}", str(m), d)
        for d in days for g in range(3) for m in range(4)
    ]
    path = str(tmp_path / "kv")
    spark.createDataFrame(
        rows, "pk string, sk string, value string, date string"
    ).repartition(2).write.partitionBy("date").parquet(path)
    kv = spark.read.parquet(path)

    pk = "GENRE#g1#DATE#2024-06-25"
    q = _key_condition(kv, pk, F.col("sk").startswith("METRIC#"))
    got = q.collect()
    assert len(got) == 4
    assert any("date" in f for f in scan_filters(q).partition)
    plan = q._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    (scan,) = [
        leaf for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if "FileSourceScanExec" in leaf.getClass().getName()
    ]
    read = {
        os.path.basename(f.filePath().toString())
        for p in scan.inputRDD().partitions()
        for f in p.files()
    }
    day_files = {
        f for f in os.listdir(os.path.join(path, "date=2024-06-25"))
        if f.endswith(".parquet")
    }
    assert read == day_files
    assert scan.metrics().apply("numFiles").value() == len(day_files)

    point = query_pk_prefix(kv, pk, "METRIC#")
    assert (
        point._jdf.queryExecution().executedPlan().getClass().getSimpleName()
        == "LocalTableScanExec"
    )
    assert sorted(point.collect()) == sorted(got)
