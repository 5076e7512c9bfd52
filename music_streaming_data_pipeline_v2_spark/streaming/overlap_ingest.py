"""Corpus-overlap monitoring at ingest: incrementally maintained
per-group MinHash signatures.

The batch audit (operators/dedup.py:group_minhash_overlap) re-shingles
the whole corpus per call; a sharded ingest that wants an overlap
matrix per arriving batch cannot. The algebra that makes the
incremental monitor exact rather than approximate: a MinHash signature
of a UNION of shingle sets is the elementwise MIN of the members'
signatures, and MIN is associative, commutative, and IDEMPOTENT. So
the only state needed is:

- ``cells/`` — (g, _h0.._h7): each batch's per-group signature over
  ITS documents' distinct shingles. Per-batch work is shingling that
  batch once (one MIN aggregate whose output is bounded by
  groups × n_hashes, not rows); history is never re-shingled.

The overlap matrix is derived at query time by elementwise-MIN-merging
the stored signatures and handing them to the SAME
``signature_overlap_pairs`` estimator the batch operator uses (the
psi_ingest stance: derived statistics are not stored, so the ingest
path stays append-only, replays stay idempotent, and the matrix is
always exactly consistent with the state).

Idempotence is stronger here than for the additive-count states
(vocab/PSI/count-min cells): even if the SAME document body arrived in
two different batches, the merged signature is unchanged — MIN absorbs
duplicates — so the estimator output matches the batch operator over
the set union regardless of delivery overlap. (The additive states
need the batch-partitioned overwrite to stay exact; this one gets it
for free, but keeps the same layout for uniformity and replay
hygiene.)

Equivalence contract: after draining any sequence of waves,
``query_overlap`` returns EXACTLY the ``(g_a, g_b, est_matches,
est_permille)`` columns ``group_minhash_overlap(with_exact=False)``
returns over the concatenation of all drained documents — the property
tests/test_overlap_ingest.py pins. (The exact-Jaccard twin columns are
batch-only by design: distinct-shingle counts are not MIN-mergeable;
the sketch is precisely the part of the audit that survives ingest.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .drain import Cells, drain, read_merged

N_HASHES = 8

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)

CELLS = Cells(
    "cells",
    "g string, " + ", ".join(f"_h{i} long" for i in range(N_HASHES)),
    ("g",),
    {f"_h{i}": "min" for i in range(N_HASHES)},
)
SPEC = (CELLS,)


def run_incremental_overlap(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    schema: T.StructType | None = None,
    group_col: str = "source",
    shingle_k: int = 3,
) -> None:
    """Drain ``input_path`` (JSON-lines doc files: doc_id, text,
    source) into the signature state under ``work_dir`` (cells/,
    ckpt/)."""

    def batch_fn(batch_df: DataFrame, batch_id: int, commit) -> None:
        from ..operators.dedup import group_signatures

        commit(
            "cells",
            group_signatures(
                batch_df, group_col=group_col, shingle_k=shingle_k
            ),
        )

    drain(spark, input_path, work_dir, schema or DOC_SCHEMA, batch_fn)


def query_overlap(spark: SparkSession, work_dir: str) -> DataFrame:
    """The pairwise overlap-estimate matrix over everything drained so
    far — identical estimator arithmetic to the batch audit (the
    shared ``signature_overlap_pairs`` core), but elementwise-MIN-
    merging the stored per-batch signatures instead of re-shingling
    the corpus. Returns ``(g_a, g_b, est_matches, est_permille)``.

    Plan: one MIN-merge over the state (bounded by batches × groups ×
    n_hashes values) feeding the groups² pair spine. Nothing re-reads
    raw text."""
    from ..operators.dedup import signature_overlap_pairs

    return signature_overlap_pairs(
        read_merged(spark, work_dir, CELLS), N_HASHES
    )
