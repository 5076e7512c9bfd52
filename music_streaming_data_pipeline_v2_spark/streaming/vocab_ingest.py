"""Tokenizer-prep audits at ingest: incrementally maintained
vocabulary statistics.

The batch audits (operators/quality.py:oov_rate's vocabulary side and
vocab_coverage_curve) rescan the whole corpus per call; a sharded
ingest that wants coverage/OOV lines as shards land cannot. The
observation that makes the incremental state exact: under append-only
ingest a document arrives in exactly one batch, so per-batch document
sets are disjoint and the per-token cells ``(_tok, _df, _cnt)`` —
distinct-document count and occurrence count — sum exactly across
batches (operators/quality.py:vocab_cells documents the contract).
State:

- ``cells/`` — each batch's own vocabulary-sized token aggregate.
  Per-batch work is one hash aggregate over THAT batch; history is
  never re-tokenized.

Derived audits come from the SAME cores the batch operators use
(``corpus_vocabulary``'s min-doc-freq filter applied to the summed
cells; ``coverage_curve_from_counts`` over the summed occurrence
counts), so the ingest twins inherit the batch operators' DuckDB
oracles through the equivalence pins in tests/test_vocab_ingest.py.
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


CELLS = Cells(
    "cells",
    "_tok string, _df long, _cnt long",
    ("_tok",),
    {"_df": "sum", "_cnt": "sum"},
)
SPEC = (CELLS,)


def run_incremental_vocab(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    schema: T.StructType | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Drain ``input_path`` (JSON-lines doc files: doc_id, text,
    source) into the vocabulary cell state under ``work_dir`` (cells/,
    ckpt/)."""

    def batch_fn(batch_df: DataFrame, batch_id: int, commit) -> None:
        from ..operators.quality import vocab_cells

        # the SAME cell builder as the batch audits (incremental ≡
        # batch by disjoint-document additivity)
        commit("cells", vocab_cells(batch_df, text_col, id_col))

    drain(spark, input_path, work_dir, schema or DOC_SCHEMA, batch_fn)


def query_vocabulary(
    spark: SparkSession, work_dir: str, min_doc_freq: int = 1
) -> DataFrame:
    """The vocabulary relation ``(_tok)`` over everything drained so
    far — identical to ``corpus_vocabulary`` over the concatenation of
    all drained documents (the min-doc-freq filter applied to summed
    cells; exact by disjoint-document additivity)."""
    return (
        read_merged(spark, work_dir, CELLS)
        .filter(F.col("_df") >= int(min_doc_freq))
        .select("_tok")
    )


def query_coverage_curve(
    spark: SparkSession, work_dir: str, sizes: list[int]
) -> DataFrame:
    """The coverage curve over everything drained so far — the SAME
    ``coverage_curve_from_counts`` tail as the batch operator, fed by
    the summed occurrence cells instead of a corpus rescan. Nothing
    re-reads raw text; the scan is batches × vocabulary-sized."""
    from ..operators.quality import coverage_curve_from_counts

    return coverage_curve_from_counts(
        read_merged(spark, work_dir, CELLS).select("_tok", "_cnt"), sizes
    )


def query_bpe_merges(
    spark: SparkSession, work_dir: str, k: int = 6
) -> DataFrame:
    """Train the first ``k`` BPE merges STRAIGHT FROM the accumulated
    vocabulary cells — the tokenizer-retrain path that never re-reads
    the corpus: summed occurrence cells are exactly the
    ``(word, freq)`` relation ``operators/bpe.py:bpe_merges``
    compresses the corpus into, so training cost is ``k``
    vocabulary-sized jobs regardless of how much text ever ingested.
    Tokens in state are lowercased (``vocab_cells``), so this equals
    batch ``bpe_merges`` over the lowercased corpus —
    tests/test_vocab_ingest.py pins the equivalence."""
    from ..operators.bpe import bpe_merges_from_freqs

    freqs = read_merged(spark, work_dir, CELLS).select(
        F.col("_tok").alias("word"), F.col("_cnt").alias("freq")
    )
    return bpe_merges_from_freqs(freqs, k=k)[0]


def query_unigram_vocab(
    spark: SparkSession,
    work_dir: str,
    max_piece_len: int = 4,
    vocab_size: int = 120,
    iterations: int = 2,
) -> DataFrame:
    """Train the unigram-LM vocabulary STRAIGHT FROM the accumulated
    vocabulary cells — the query_bpe_merges stance for the third
    trainer: summed occurrence cells ARE the (word, freq) relation
    ``operators/unigram.py:unigram_train_from_words`` runs on, so a
    retrain costs EM-iterations × vocabulary-sized jobs no matter how
    much text ever ingested. Equals batch ``unigram_train`` over the
    lowercased corpus — tests/test_vocab_ingest.py pins it."""
    from ..operators.unigram import unigram_train_from_words

    freqs = read_merged(spark, work_dir, CELLS).select(
        F.col("_tok").alias("word"), F.col("_cnt").alias("freq")
    )
    return unigram_train_from_words(
        freqs, max_piece_len, vocab_size, iterations
    )


def query_phrase_dfreq(spark: SparkSession, work_dir: str) -> DataFrame:
    """Token document-frequency relation ``(_tok, _df)`` over
    everything drained so far — the anchor-choice statistics
    ``operators/quality.py:phrase_blocklist_join`` needs, served from
    bounded vocabulary state instead of a per-call corpus
    re-aggregation (VERDICT r6 task #3: the per-batch phrase gate of
    a streaming pipeline should not rescan postings per invocation).

    Exactness note: cells tokenize with ``engine_safe_tokens`` while
    the phrase join splits on whitespace; where the two disagree a
    phrase may anchor on a differently-ranked token, which changes
    only candidate fan-out — the join verifies every candidate
    exactly, so gate OUTPUT is invariant (pinned by
    tests/test_vocab_ingest.py::test_phrase_gate_from_state)."""
    return read_merged(spark, work_dir, CELLS).select("_tok", "_df")
