"""Drift monitoring at ingest: incrementally maintained PSI state.

The batch audit (operators/drift.py:psi_drift) re-bins the whole
corpus per call; a sharded ingest that wants a drift line per arriving
batch cannot. The observation that makes the incremental monitor exact
rather than approximate: PSI is a pure function of the (group, bin)
CELL COUNTS, and cell counts are additive across batches. So the only
state needed is:

- ``cells/`` — (grp, bin, cnt): each batch's group×bin histogram.
  Per-batch work is binning THAT batch once (one aggregate whose
  output is bounded by groups×bins, not rows); history is never
  re-binned.

The PSI itself is derived at query time by summing the stored cells
and handing them to the SAME ``psi_from_cells`` core the batch
operator uses (the index_ingest stance: derived statistics are not
stored, so the ingest path stays append-only, replays stay idempotent,
and the statistics are always exactly consistent with the state).

Equivalence contract: after draining any sequence of waves,
``query_psi`` over the accumulated state returns EXACTLY what
``psi_drift`` returns over the concatenation of all drained documents
(one shared arithmetic core; cell addition is exact integer math) —
the property tests/test_psi_ingest.py pins. The streaming layer's
correctness thereby inherits psi_drift's DuckDB oracle.
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
        T.StructField("source", T.StringType()),
    ]
)

#: Default binning: 64-char-wide length buckets capped at 8 — the same
#: deterministic binning the batch registry query uses, derived from
#: the text itself so JSONL ingest needs no precomputed n_chars column.
DEFAULT_BIN_SQL = "LEAST(CAST(LENGTH(text) DIV 64 AS INT), 8)"


CELLS = Cells(
    "cells", "grp string, bin string, cnt long", ("grp", "bin"), {"cnt": "sum"}
)
SPEC = (CELLS,)


def run_incremental_psi(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    schema: T.StructType | None = None,
    group_col: str = "source",
    bin_sql: str = DEFAULT_BIN_SQL,
) -> None:
    """Drain ``input_path`` (JSON-lines doc files: doc_id, text,
    source) into the PSI cell state under ``work_dir`` (cells/,
    ckpt/)."""

    def batch_fn(batch_df: DataFrame, batch_id: int, commit) -> None:
        from ..operators.drift import bin_cells

        # the SAME cell builder as the batch audit (incremental ≡
        # batch by construction); bins are stored as STRINGS so the
        # state schema is independent of the caller's bin_sql type —
        # PSI depends only on bin identity, and int→string is
        # injective, so the pin to psi_drift is unaffected
        commit(
            "cells",
            bin_cells(batch_df, group_col, F.expr(bin_sql)).select(
                "grp", F.col("bin").cast("string").alias("bin"), "cnt"
            ),
        )

    drain(spark, input_path, work_dir, schema or DOC_SCHEMA, batch_fn)


def query_psi(
    spark: SparkSession,
    work_dir: str,
    smoothing: float = 1.0,
) -> DataFrame:
    """PSI per group over everything drained so far — identical
    arithmetic to ``psi_drift`` (the shared ``psi_from_cells`` core),
    but summing the stored per-batch histograms instead of re-binning
    the corpus. Returns ``(grp, n_rows, psi)``.

    Plan: one sum over the state (bounded by batches×groups×bins rows
    — a compressed fraction of the corpus it summarizes) feeding the
    groups×bins PSI grid. Nothing re-reads raw text."""
    from ..operators.drift import psi_from_cells

    return psi_from_cells(read_merged(spark, work_dir, CELLS), smoothing)


def query_ks(spark: SparkSession, work_dir: str) -> DataFrame:
    """Binned two-sample KS per group over everything drained so far —
    the SAME additive cell state query_psi reads, handed to the SAME
    ks_from_counts core the batch operator uses: one state, two drift
    statistics (PSI's weighted-divergence view and KS's worst-CDF-gap
    view), neither re-reading raw text. Returns
    ``(grp, n_g, n_rest, ks_num, ks_permille)``.

    Bins are stored as strings (PSI is order-blind); KS is a CDF
    statistic, so the readout casts them back to BIGINT — callers
    whose bin_sql is non-numeric must provide an orderable bin
    encoding to use this readout (lexicographic "10" < "2" would
    corrupt the CDF)."""
    from ..operators.drift import ks_from_counts

    cnts = read_merged(spark, work_dir, CELLS).select(
        F.col("grp").alias("g"),
        F.col("bin").cast("bigint").alias("v"),
        F.col("cnt").alias("c_g"),
    )
    return ks_from_counts(cnts).withColumnRenamed("g", "grp")
