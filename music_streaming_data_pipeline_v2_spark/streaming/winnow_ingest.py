"""Passage-overlap detection at ingest: incrementally maintained
winnow (MOSS) fingerprint index.

The batch form (operators/text.py:winnow_fingerprints feeding the
fp-keyed pair join in winnow_overlap_pairs) re-sketches the whole
corpus per call. The observation that makes the incremental index
exact rather than approximate: a winnowed sketch is a PURE function of
its own document — no corpus statistics enter — so sketches computed
batch-by-batch are identical to sketches computed over the
concatenation, and the only state needed is:

- ``postings/`` — (fp, doc_id): each batch's sketch rows. Per-batch
  work is sketching THAT batch once; history is never re-sketched.

Overlap pairs are derived at query time from the accumulated postings
(the index_ingest stance: derived relations are not stored, so the
ingest path stays append-only and replays stay idempotent). The
fp-keyed self-join naturally surfaces CROSS-batch pairs — a document
ingested today is matched against every passage ingested before it.

Equivalence contract: after draining any sequence of waves,
``query_overlap_pairs`` over the accumulated postings returns EXACTLY
what the batch fp-join returns over the concatenation of all drained
documents — the property tests/test_winnow_ingest.py pins. The
winnowing guarantee (any shared run of ≥ window+k−1 tokens yields ≥ 1
common fingerprint) therefore holds across batch boundaries too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drain import Rows, drain, read_state

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


POSTINGS = Rows("postings", "doc_id long, fp long")
SPEC = (POSTINGS,)


def run_incremental_winnow(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    k: int = 3,
    window: int = 4,
    schema: T.StructType | None = None,
) -> None:
    """Drain ``input_path`` (JSON-lines doc files: doc_id, text) into
    the winnow postings state under ``work_dir`` (postings/, ckpt/)."""
    from ..operators.text import winnow_fingerprints

    def batch_fn(batch_df: DataFrame, batch_id: int, commit) -> None:
        commit("postings", winnow_fingerprints(batch_df, k=k, window=window))

    drain(spark, input_path, work_dir, schema or DOC_SCHEMA, batch_fn)


def query_overlap_pairs(
    spark: SparkSession,
    work_dir: str,
    min_shared: int = 3,
) -> DataFrame:
    """Partial-overlap pairs over everything drained so far — the
    fp-keyed equi-join of the accumulated sketches (never doc×doc),
    identical to the batch winnow_overlap_pairs relation over the
    concatenation. Returns ``(id_a, id_b, n_shared_fps)`` with
    ``id_a < id_b`` and ≥ ``min_shared`` shared fingerprints.

    Plan: one self-join of the stored postings keyed by fingerprint +
    one pair aggregate. Nothing re-reads text — at 100 TB the state is
    the (fp, doc) sketch relation, a bounded fraction of the corpus
    (≤ one row per kept window)."""
    sk = read_state(spark, work_dir, POSTINGS).localCheckpoint(
        eager=True
    )  # both join sides read it
    a = sk.select(F.col("doc_id").alias("id_a"), "fp")
    b = sk.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= int(min_shared))
    )
