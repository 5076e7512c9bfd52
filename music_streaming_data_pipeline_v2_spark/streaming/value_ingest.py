"""Per-group value-distribution state at ingest: additive
(group, value) count cells serving the robust-statistics readouts.

The batch operators (aggregates.mad_outlier_stats /
grouped_histogram_quantiles) scan rows per call; a pipeline that wants
per-source medians, MADs, outlier counts, or quantiles AS VALUES
ARRIVE cannot re-scan history. The state is the grouped twin of
hist_ingest's global histogram: per-batch ``(grp, v, cnt)`` cells —
``v`` the centi-scaled value (the one rounding, applied at ingest
exactly as the batch operator applies it) — are plain sums over value
occurrences, so they are ADDITIVE across batches (the count-min / PSI
cell contract). State under ``work_dir``:

- ``cells/`` — each batch's own (grp, v, cnt) histogram, bounded by
  the batch's groups × distinct values, never its rows; partitioned
  by ``batch_id`` with overwrite-own-partition replay idempotency.

Derived statistics are NOT stored — both readouts sum the cells and
hand them to the SAME back-half code the batch operators use
(``mad_from_counts`` / ``grouped_quantiles_from_counts``), so the
streaming layer's correctness inherits the batch operators' oracles
(``mad_outlier_events`` is hash-proven against DuckDB per driver
round; the quantile rank arithmetic is the histogram_quantiles
convention proven across that family).

Equivalence contract (pinned by tests/test_value_ingest.py): after
draining any sequence of waves, ``query_mad_stats`` /
``query_value_quantiles`` return EXACTLY what the batch operators
return over the concatenation of all drained rows — cell addition is
exact integer math; the readouts are shared code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drain import Cells, drain, read_merged

ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

VALUE_SCALE = 100

CELLS = Cells(
    "cells", "grp string, v long, cnt long", ("grp", "v"), {"cnt": "sum"}
)
SPEC = (CELLS,)


def run_incremental_values(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    schema: T.StructType | None = None,
    group_col: str = "grp",
    value_col: str = "value",
) -> None:
    """Drain ``input_path`` (JSON-lines rows: id, grp, value) into the
    per-group value-cell state under ``work_dir`` (cells/, ckpt/)."""

    def batch_fn(batch_df: DataFrame, batch_id: int, commit) -> None:
        commit(
            "cells",
            batch_df.filter(F.col(value_col).isNotNull())
            .groupBy(
                F.col(group_col).alias("grp"),
                F.round(F.col(value_col) * VALUE_SCALE)
                .cast("long")
                .alias("v"),
            )
            .agg(F.count("*").cast("long").alias("cnt")),
        )

    drain(spark, input_path, work_dir, schema or ROW_SCHEMA, batch_fn)


def query_mad_stats(
    spark: SparkSession, work_dir: str, k: int = 3
) -> DataFrame:
    """Median/MAD/outlier audit over everything drained so far —
    identical readout to the batch path (``mad_from_counts``) over the
    cell-wise SUM of the stored per-batch histograms. Returns
    ``(grp, n_values, median_centi, mad_centi, n_outliers)``. Cost is
    bounded by batches × groups × distinct values; rows are never
    re-read."""
    from ..operators.aggregates import mad_from_counts

    cells = read_merged(spark, work_dir, CELLS).select(
        F.col("grp").alias("_by"),
        F.col("v").alias("_v"),
        F.col("cnt").alias("_cnt"),
    )
    return mad_from_counts(cells, k=k).withColumnRenamed("_by", "grp")


def query_value_quantiles(
    spark: SparkSession,
    work_dir: str,
    quantiles_permille: list[int],
) -> DataFrame:
    """Exact per-group quantiles of the CENTI-scaled values over
    everything drained so far (``grouped_quantiles_from_counts`` —
    the batch grouped_histogram_quantiles back half). Returns
    ``(grp, q_permille, value)`` with value in centi units (divide by
    100 for the original scale; kept integer so the readout stays
    hash-exact)."""
    from ..operators.aggregates import grouped_quantiles_from_counts

    cells = read_merged(spark, work_dir, CELLS).select(
        F.col("grp").alias("_by"),
        F.col("v").alias("value"),
        F.col("cnt").alias("_cnt"),
    )
    return grouped_quantiles_from_counts(
        cells, quantiles_permille
    ).withColumnRenamed("_by", "grp")
