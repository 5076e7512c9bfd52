"""The drain kernel every ``*_ingest`` family runs on, and the state
specs its maintenance and readouts read.

Exactly-once contract. Structured Streaming gives exactly-once output
from three parts: a replayable source, an offset write-ahead log, and
an idempotent sink. Here:

- the source is a file stream over ``input_path``; each file is read
  in exactly one batch, and the offsets log (``work_dir/ckpt``)
  records which files make up batch N before the batch runs;
- ``foreachBatch`` itself is at-least-once: a crash after a state
  write but before ``commits/N`` lands replays batch N on restart,
  over the SAME files;
- so the sink is made idempotent: every state relation is parquet
  partitioned by ``batch_id=``, and ``commit(name, df)`` OVERWRITES
  exactly ``work_dir/<name>/batch_id=N``. A replay rewrites identical
  content instead of appending duplicates. Reads of prior state
  inside a batch filter ``batch_id < N`` (``read_state_or_empty``'s
  ``before_batch``), so a crashed attempt's leftovers never feed its
  own retry.

Maintenance (``compact``) rewrites partitions, so it is only safe
between drains: it refuses (``assert_quiesced``) whenever
``offsets/N`` has no matching ``commits/N``.

A family declares its state as a spec — a tuple of:

- ``Cells`` — mergeable per-batch cells, folded by key with ``sum``,
  ``max`` or ``min`` per value column (empty fold = DISTINCT). The
  readout merge and the compaction fold are the same ``fold_cells``.
- ``Labels`` — last-writer-wins label deltas (``read_resolved_labels``).
- ``Rows`` — per-batch output rows read as a plain union; not folded.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import NamedTuple, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .state import (
    assert_quiesced,
    compact_additive_cells,
    compact_label_deltas,
    fold_cells,
    read_state_or_empty,
)


class Cells(NamedTuple):
    name: str
    schema: str
    keys: tuple[str, ...]
    fold: dict[str, str]


class Labels(NamedTuple):
    name: str
    schema: str
    key: str = "id"


class Rows(NamedTuple):
    name: str
    schema: str


State = Union[Cells, Labels, Rows]

#: ``commit(name, df, partition_by=())`` — overwrite the current
#: batch's partition of state dir ``name``; returns the path written.
Commit = Callable[..., str]


def drain(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    schema: T.StructType,
    batch_fn: Callable[[DataFrame, int, Commit], None],
    fmt: str = "json",
    reader_options: dict[str, str] | None = None,
) -> None:
    """Drain every file now in ``input_path`` (an ``availableNow``
    trigger, checkpoint at ``work_dir/ckpt``) through ``batch_fn``.
    Empty micro-batches are skipped with one probe of the raw batch;
    ``batch_fn(batch_df, batch_id, commit)`` holds the family's own
    logic and writes state only through ``commit``."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return

        def commit(name: str, df: DataFrame, partition_by=()) -> str:
            path = os.path.join(work_dir, name, f"batch_id={batch_id}")
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(path)
            return path

        batch_fn(batch_df, batch_id, commit)

    (
        spark.readStream.schema(schema)
        .format(fmt)
        .options(**(reader_options or {}))
        .load(input_path)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_state(
    spark: SparkSession,
    work_dir: str,
    state: State,
    before_batch: int | None = None,
) -> DataFrame:
    """Every committed row of one state dir (``before_batch`` prunes
    to older batches); the empty typed relation before any drain."""
    return read_state_or_empty(
        spark, os.path.join(work_dir, state.name), state.schema, before_batch
    )


def read_merged(spark: SparkSession, work_dir: str, cells: Cells) -> DataFrame:
    """The readout merge of a ``Cells`` dir: all partitions folded by
    key — the same relation ``compact`` publishes."""
    cell_rows = read_state(spark, work_dir, cells)
    return fold_cells(cell_rows, cells.keys, cells.fold)


def compact(
    spark: SparkSession, work_dir: str, spec: tuple[State, ...]
) -> dict[str, list[int]]:
    """Fold every ``Cells`` and ``Labels`` dir of ``spec`` into its
    newest partition (``Rows`` dirs are left alone). Refuses while the
    checkpoint at ``work_dir/ckpt`` shows an uncommitted batch.
    Returns the deleted batch ids per state dir."""
    ckpt_dir = os.path.join(work_dir, "ckpt")
    assert_quiesced(spark, ckpt_dir)
    deleted = {}
    for s in spec:
        path = os.path.join(work_dir, s.name)
        if isinstance(s, Cells):
            deleted[s.name] = compact_additive_cells(
                spark, path, s.schema, s.keys, s.fold, ckpt_dir=ckpt_dir
            )
        elif isinstance(s, Labels):
            deleted[s.name] = compact_label_deltas(
                spark, path, s.schema, s.key, ckpt_dir=ckpt_dir
            )
    return deleted
