"""Sequence-length (or any discrete-measure) quantile audits at
ingest: incrementally maintained value-count histogram cells.

The batch operator (operators/aggregates.py:histogram_quantiles) scans
the corpus per call; an ingest that wants the length distribution
as shards arrive cannot. Value-count cells are plain sums over value
occurrences, so they are ADDITIVE across batches — the count-min /
PSI cell contract. State:

- ``cells/`` — (value, _cnt): each batch's own count histogram,
  bounded by the batch's DISTINCT values, not its rows. History is
  never re-tokenized.

Quantiles are derived at query time by summing the stored cells and
handing them to the SAME ``quantiles_from_counts`` readout the batch
operator uses — derived statistics are not stored, the state stays
append-only, replays stay idempotent (batch_id-partitioned
overwrites).

Equivalence contract: after draining any sequence of waves,
``query_quantiles`` returns EXACTLY what ``histogram_quantiles``
returns over the concatenation of all drained rows (cell addition is
exact integer math; the readout is shared code) — pinned by
tests/test_hist_ingest.py. The streaming layer's correctness thereby
inherits ``doc_length_quantiles``'s DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drain import Cells, drain, read_merged

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


CELLS = Cells("cells", "value long, _cnt long", ("value",), {"_cnt": "sum"})
SPEC = (CELLS,)


def run_incremental_hist(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    schema: T.StructType | None = None,
    text_col: str = "text",
) -> None:
    """Drain ``input_path`` (JSON-lines doc files: doc_id, text) into
    the token-length histogram state under ``work_dir`` (cells/,
    ckpt/)."""

    def batch_fn(batch_df: DataFrame, batch_id: int, commit) -> None:
        from ..operators.packing import engine_safe_tokens

        # the SAME measure the batch quantile query ranks
        # (doc_length_quantiles): engine-safe token count, null-safe
        lens = batch_df.select(
            F.greatest(
                F.size(engine_safe_tokens(text_col)).cast("long"), F.lit(0)
            ).alias("value")
        )
        commit("cells", lens.groupBy("value").agg(F.count("*").alias("_cnt")))

    drain(spark, input_path, work_dir, schema or DOC_SCHEMA, batch_fn)


def query_quantiles(
    spark: SparkSession,
    work_dir: str,
    quantiles_permille: list[int],
) -> DataFrame:
    """Exact token-length quantiles over everything drained so far —
    identical readout to the batch path (``quantiles_from_counts``)
    over the cell-wise SUM of the stored per-batch histograms instead
    of a fresh corpus scan. Returns ``(q_permille, value)``.

    Plan: one sum over the state (bounded by batches × distinct
    values), then the shared bounded-histogram cumsum readout —
    nothing re-reads raw text."""
    from ..operators.aggregates import quantiles_from_counts

    return quantiles_from_counts(
        read_merged(spark, work_dir, CELLS), quantiles_permille
    )
