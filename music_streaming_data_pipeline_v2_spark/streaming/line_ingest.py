"""Line-dedup-at-ingest: incremental C4-style repeated-line removal.

The batch operator (operators/dedup.py:dedup_lines) finds each
distinct non-empty line's FIRST occurrence by rescanning the whole
corpus; an ingest pipeline cannot — each arriving micro-batch must be
deduplicated against every line seen so far WITHOUT re-reading
history. The accumulated state is the minimal thing that decides the
rule: the set of distinct lines already kept, with the (doc_id, pos)
that keeps each one (observability — WHY a later line dropped).

Per micro-batch (``foreachBatch``):

1. explode the batch into non-empty (doc_id, pos, line) rows;
2. pick the batch-local first occurrence per line (row_number over
   the line-keyed window ordered by (doc_id, pos) — the batch twin of
   the batch operator's global window);
3. anti-join those against the prior line state: survivors are lines
   whose first GLOBAL occurrence is in this batch — they are kept at
   exactly that occurrence, every other occurrence in the batch drops;
4. reassemble each batch document from its kept occurrences and write
   the per-document output (doc_id, text, n_lines, n_dropped); append
   the surviving lines to the state.

Equivalence contract: when waves arrive in corpus order (every doc_id
in an earlier wave sorts before every doc_id in a later one — the
file-source arrival order), the concatenated per-batch outputs are
EXACTLY ``dedup_lines`` over the concatenated corpus
(tests/test_line_ingest.py pins it), so the streaming layer inherits
the batch operator's DuckDB oracle (line_dedup_docs).

Scale: per-batch work is one line-keyed window over the BATCH plus an
anti-join against the line state — shuffle ∝ batch lines, state read
∝ state lines with only (line) columns scanned. History is never
re-split. At 100 TB the line state is the thing to bucket by a line
hash so the anti-join co-locates instead of shuffling the state per
batch; the state rows carry the exact line string, so hash collisions
can't corrupt the rule (the hash would only route, never decide).

The line state never gets an empty partition (the r4-advisory
zero-leader lesson: a partition holding only _SUCCESS poisons schema
inference for every later read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drain import Rows, drain, read_state

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

LINES = Rows("lines", "line string, keep_doc_id long, keep_pos int")
DOCS = Rows("docs", "doc_id long, text string, n_lines long, n_dropped long")
SPEC = (LINES, DOCS)


def run_incremental_line_dedup(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    schema: T.StructType | None = None,
) -> None:
    """Drain ``input_path`` (JSON-lines doc files: doc_id, text) through
    the incremental line dedup under ``work_dir`` (lines/, docs/,
    ckpt/)."""

    def batch_fn(batch_df: DataFrame, batch_id: int, commit) -> None:
        lines = (
            batch_df.select(
                F.col("doc_id").alias("_id"),
                F.posexplode(F.split("text", "\n")).alias("_pos", "_line"),
            ).filter(F.trim("_line") != "")
        )
        w = Window.partitionBy("_line").orderBy("_id", "_pos")
        batch_first = (
            lines.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        seen = read_state(spark, work_dir, LINES, batch_id).select(
            F.col("line").alias("_line")
        )
        # lines whose first global occurrence is in THIS batch; one
        # evaluation feeds both the state write and the rebuild
        new_lines = batch_first.join(seen, "_line", "left_anti").localCheckpoint()

        stats = lines.groupBy("_id").agg(F.count("*").alias("n_lines"))
        rebuilt = new_lines.groupBy("_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("_text"),
            F.count("*").alias("_n_kept"),
        )
        out = (
            batch_df.select(F.col("doc_id").alias("_id"))
            .join(stats, "_id", "left")
            .join(rebuilt, "_id", "left")
            .select(
                F.col("_id").alias("doc_id"),
                F.coalesce("_text", F.lit("")).alias("text"),
                F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
                (
                    F.coalesce("n_lines", F.lit(0))
                    - F.coalesce("_n_kept", F.lit(0))
                ).alias("n_dropped"),
            )
        )
        commit("docs", out)
        state_rows = new_lines.select(
            F.col("_line").alias("line"),
            F.col("_id").alias("keep_doc_id"),
            F.col("_pos").alias("keep_pos"),
        )
        if not state_rows.isEmpty():  # never write a _SUCCESS-only partition
            commit("lines", state_rows)

    drain(spark, input_path, work_dir, schema or DOC_SCHEMA, batch_fn)


def read_deduped_docs(spark: SparkSession, work_dir: str) -> DataFrame:
    """All per-document outputs accumulated so far: (doc_id, text,
    n_lines, n_dropped) — the incremental twin of dedup_lines'
    return. Empty typed relation before the first drain."""
    return read_state(spark, work_dir, DOCS)


def read_line_state(spark: SparkSession, work_dir: str) -> DataFrame:
    """The kept-line state: (line, keep_doc_id, keep_pos). Empty typed
    relation before the first drain."""
    return read_state(spark, work_dir, LINES)
