"""Skew mitigation: salted aggregation equals direct aggregation;
bucketed joins run shuffle-free."""

from __future__ import annotations

import pytest
from conftest import scan_filters
from pyspark.sql import functions as F

from music_streaming_data_pipeline_v2_spark.operators.skew import (
    salted_aggregate,
    salted_join,
    write_bucketed,
)


def test_salted_aggregate_matches_direct(spark):
    # heavily skewed: 90% of rows share one key
    df = spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        (F.col("id") % 97).alias("v"),
    )
    direct = {
        (r.k): (r.n, r.s, r.mn, r.mx)
        for r in df.groupBy("k")
        .agg(
            F.count("*").alias("n"), F.sum("v").alias("s"),
            F.min("v").alias("mn"), F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r.k): (r.n, r.s, r.mn, r.mx)
        for r in salted_aggregate(
            df,
            ["k"],
            {"n": ("*", "count"), "s": ("v", "sum"),
             "mn": ("v", "min"), "mx": ("v", "max")},
            n_salts=8,
        ).collect()
    }
    assert direct == salted


def test_salted_join_matches_plain_join(spark):
    # hot key: 90% of the big side lands on k=0
    big = spark.range(20000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 50).alias("k"),
        (F.col("id") % 97).alias("v"),
    )
    small = spark.range(50).select(
        F.col("id").alias("k"), F.concat(F.lit("dim-"), F.col("id")).alias("name")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = (
            big.join(small, "k")
            .groupBy("k", "name")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        )
        salted = (
            salted_join(big, small, "k", n_salts=8)
            .groupBy("k", "name")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        )
        as_map = lambda df: {(r.k, r.name): (r.n, r.s) for r in df.collect()}
        assert as_map(plain) == as_map(salted)
        # the salted shuffle key spreads the hot key: join key is (k, _salt)
        plan = salted_join(big, small, "k", n_salts=8)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "_salt" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_bucketed_join_has_no_exchange(spark):
    # warehouse dir is a static conf — use the default; DROPs below
    # remove the managed-table files afterwards
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketdb")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(10000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("a")
        )
        right = spark.range(10000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("b")
        )
        write_bucketed(left, "bucketdb.t_left", "k", n_buckets=8, sort_col="k")
        write_bucketed(right, "bucketdb.t_right", "k", n_buckets=8, sort_col="k")
        joined = spark.table("bucketdb.t_left").join(
            spark.table("bucketdb.t_right"), "k"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-bucketed scan-to-scan join: no shuffle on either side
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS bucketdb.t_left")
        spark.sql("DROP TABLE IF EXISTS bucketdb.t_right")
        spark.sql("DROP DATABASE IF EXISTS bucketdb")


def test_date_partition_pruning(spark, tmp_path):
    """SCALE.md claim: date-partitioned fact layout prunes to the
    queried day (PartitionFilters at the scan, one partition read)."""
    df = spark.range(1000).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 10).cast("int")
                   ).alias("date"),
        (F.col("id") % 97).alias("v"),
    )
    path = str(tmp_path / "fact")
    df.write.mode("overwrite").partitionBy("date").parquet(path)

    q = spark.read.parquet(path).filter(F.col("date") == "2024-01-03")
    assert any("2024-01-03" in f for f in scan_filters(q).partition)
    # only one of the ten date partitions is actually scanned
    assert q.select(F.input_file_name()).distinct().count() >= 1
    files = {r[0] for r in q.select(F.input_file_name()).distinct().collect()}
    assert all("date=2024-01-03" in f for f in files)
    assert q.count() == 100
