"""Frequency monitoring at ingest: incrementally maintained count-min
sketch state.

The batch sketch (operators/frequency.py:count_min_cells) scans the
whole corpus per call; a sharded ingest that wants point-frequency
lookups as data arrives cannot. The observation that makes the
incremental sketch exact (identical to a batch build over everything
drained): count-min cells are plain sums over key occurrences, so they
are ADDITIVE across batches — the same cell-additivity contract
psi_ingest exploits for PSI histograms. State:

- ``cells/`` — (depth_row, bucket, cell_count): each batch's own
  depth×width cell aggregate. Per-batch work is sketching THAT batch
  once (output bounded by depth × width, not rows); history is never
  re-tokenized or re-hashed.

Estimates are derived at query time by summing the stored cells and
handing them to the SAME ``count_min_estimate`` readout the batch
operator uses — derived statistics are not stored, the state stays
append-only, and replays stay idempotent (the index_ingest stance).

Equivalence contract: after draining any sequence of waves,
``query_estimates`` over the accumulated state returns EXACTLY what
``count_min_cells`` + ``count_min_estimate`` return over the
concatenation of all drained rows (cell addition is exact integer
math) — pinned by tests/test_sketch_ingest.py. The streaming layer's
correctness thereby inherits ``cm_token_counts``'s DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drain import Cells, drain, read_merged
from .state import pin_params

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)

#: Sketch geometry fixed per state directory: cells from different
#: (width, depth) are not mergeable, so the ingest PINS one shape
#: (``geometry.json``) on first drain and asserts it on every later
#: drain and readout — a mismatched probe would otherwise read
#: mod-width buckets that were placed mod a different width and
#: silently UNDERCOUNT, the one error class the sketch contract rules
#: out.
DEFAULT_WIDTH, DEFAULT_DEPTH = 2048, 4

CELLS = Cells(
    "cells",
    "depth_row int, bucket int, cell_count long",
    ("depth_row", "bucket"),
    {"cell_count": "sum"},
)
SPEC = (CELLS,)


def _check_geometry(
    spark: SparkSession, work_dir: str, width: int, depth: int, write: bool
) -> tuple[int, int]:
    """Return the state directory's pinned (width, depth), pinning
    ``(width, depth)`` if nothing is pinned yet (``write=True``) and
    raising on any mismatch with an existing pin."""
    from ..operators.frequency import CM_ADDR_VERSION

    want = {
        "width": int(width),
        "depth": int(depth),
        "addr_version": int(CM_ADDR_VERSION),
    }
    got = pin_params(
        spark, os.path.join(work_dir, "geometry.json"), want if write else None
    )
    if got is None:
        return (width, depth)
    # cells placed under another bucket addressing put the same key in
    # different buckets — merging would silently undercount
    ver = got["addr_version"]
    if ver != CM_ADDR_VERSION:
        raise ValueError(
            f"sketch state at {work_dir!r} was built with bucket-"
            f"addressing v{ver}; this build uses "
            f"v{CM_ADDR_VERSION} — cells are not mergeable across "
            "addressing schemes, rebuild the state directory"
        )
    pinned = (got["width"], got["depth"])
    if (width, depth) != pinned:
        raise ValueError(
            f"sketch state at {work_dir!r} is pinned to "
            f"width={pinned[0]} depth={pinned[1]}; got width={width} "
            f"depth={depth} — cells from different geometries are "
            "not mergeable"
        )
    return pinned


def run_incremental_sketch(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    schema: T.StructType | None = None,
    text_col: str = "text",
    width: int = DEFAULT_WIDTH,
    depth: int = DEFAULT_DEPTH,
) -> None:
    """Drain ``input_path`` (JSON-lines doc files: doc_id, text,
    source) into the count-min cell state under ``work_dir`` (cells/,
    ckpt/), sketching every lowercased whitespace token occurrence."""
    _check_geometry(spark, work_dir, width, depth, write=True)

    def batch_fn(batch_df: DataFrame, batch_id: int, commit) -> None:
        from ..operators.frequency import count_min_cells
        from ..operators.packing import engine_safe_tokens

        toks = batch_df.select(
            F.explode(
                F.transform(engine_safe_tokens(text_col), F.lower)
            ).alias("token")
        )
        # the SAME cell builder as the batch sketch (incremental ≡
        # batch by construction: md5 placements are content-addressed
        # and cells are additive)
        commit("cells", count_min_cells(toks, "token", width, depth))

    drain(spark, input_path, work_dir, schema or DOC_SCHEMA, batch_fn)


def query_estimates(
    spark: SparkSession,
    work_dir: str,
    keys: DataFrame,
    col: str = "token",
    width: int = DEFAULT_WIDTH,
    depth: int = DEFAULT_DEPTH,
) -> DataFrame:
    """Point-frequency estimates for ``keys[col]`` over everything
    drained so far — identical readout to the batch path
    (``count_min_estimate``), but over the cell-wise SUM of the stored
    per-batch sketches instead of a fresh corpus scan. Returns
    ``(col, est_count)``. The state's pinned geometry is asserted
    (probing a sketch with the wrong width/depth silently undercounts).

    Plan: one sum over the state (bounded by batches × depth × width
    rows), broadcast to the probe join — nothing re-reads raw text."""
    from ..operators.frequency import count_min_estimate

    width, depth = _check_geometry(spark, work_dir, width, depth, write=False)
    merged = read_merged(spark, work_dir, CELLS)
    return count_min_estimate(keys, merged, col, width, depth)
