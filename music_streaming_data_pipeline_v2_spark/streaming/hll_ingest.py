"""Cardinality monitoring at ingest: incrementally maintained
HyperLogLog register state.

The batch sketch (operators/frequency.py:hll_distinct) scans the whole
corpus per call; a sharded ingest that wants per-group distinct-count
audits as data arrives cannot. The property that makes the incremental
sketch exact (identical to a batch build over everything drained): HLL
registers are MAXES of per-key rho values, so they are max-mergeable
across batches — max of per-batch maxes equals the max over the
concatenation. This is the count-min module's cell-additivity
contract with ``MAX`` in place of ``SUM``. State:

- ``registers/`` — (group, bucket, rho_max): each batch's own register
  aggregate, bounded by groups × m rows regardless of batch size.
  History is never re-hashed.

Estimates are derived at query time by max-merging the stored
registers and handing them to the SAME ``hll_estimate`` readout the
batch operator uses — derived statistics are not stored, the state
stays append-only, and replays stay idempotent.

Equivalence contract: after draining any sequence of waves,
``query_cardinality`` returns EXACTLY what ``hll_distinct`` returns
over the concatenation of all drained rows (register max-merge is
exact integer math; the estimate is a deterministic function of the
merged registers) — pinned by tests/test_round6_ops.py. The streaming
layer's correctness thereby inherits ``hll_distinct_users``'s DuckDB
oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .drain import Cells, drain, read_merged
from .state import pin_params

KEY_SCHEMA = T.StructType(
    [
        T.StructField("group", T.StringType()),
        T.StructField("key", T.StringType()),
    ]
)

#: Register-addressing version: registers built under a different
#: HLL_P (or a different hash slicing) place the same key in different
#: buckets / draw rho from different bits — max-merging across schemes
#: silently corrupts estimates, so the state pins its scheme
#: (``scheme.json``) on first drain (the sketch_ingest geometry
#: contract).
HLL_ADDR_VERSION = 1


def spec(group_col: str = "group") -> tuple[Cells]:
    """The register state of a drain keyed by ``group_col``."""
    return (
        Cells(
            "registers",
            f"{group_col} string, bucket int, rho_max int",
            (group_col, "bucket"),
            {"rho_max": "max"},
        ),
    )


SPEC = spec()


def _check_scheme(spark: SparkSession, work_dir: str, write: bool) -> None:
    from ..operators.frequency import HLL_P

    want = {"hll_p": int(HLL_P), "addr_version": int(HLL_ADDR_VERSION)}
    got = pin_params(
        spark, os.path.join(work_dir, "scheme.json"), want if write else None
    )
    if got is not None and got != want:
        raise ValueError(
            f"hll state at {work_dir!r} was built with p={got['hll_p']} "
            f"addressing v{got['addr_version']}; this build uses "
            f"p={HLL_P} v{HLL_ADDR_VERSION} — registers are not mergeable "
            "across schemes, rebuild the state directory"
        )


def run_incremental_hll(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    schema: T.StructType | None = None,
    group_col: str = "group",
    key_col: str = "key",
) -> None:
    """Drain ``input_path`` (JSON-lines files: group, key) into the
    HLL register state under ``work_dir`` (registers/, ckpt/)."""
    _check_scheme(spark, work_dir, write=True)

    def batch_fn(batch_df: DataFrame, batch_id: int, commit) -> None:
        from ..operators.frequency import hll_registers

        # the SAME register builder as the batch sketch (incremental ≡
        # batch by construction: md5 registers are content-addressed
        # and max-mergeable)
        commit("registers", hll_registers(batch_df, key_col, [group_col]))

    drain(spark, input_path, work_dir, schema or KEY_SCHEMA, batch_fn)


def query_cardinality(
    spark: SparkSession, work_dir: str, group_col: str = "group"
) -> DataFrame:
    """Per-group cardinality estimates over everything drained so far —
    identical readout to the batch path (``hll_estimate``) over the
    max-merge of the stored per-batch registers instead of a fresh
    corpus scan. Returns ``(group, v_empty, z_scaled, approx_count)``.

    Plan: one max-merge over the state (bounded by batches × groups ×
    m rows) and a broadcast join of the ≤ m-row linear-counting table
    — nothing re-reads raw keys."""
    from ..operators.frequency import hll_estimate

    _check_scheme(spark, work_dir, write=False)
    merged = read_merged(spark, work_dir, spec(group_col)[0])
    return hll_estimate(merged, [group_col])
