"""Decontamination at ingest: the eval-set firewall.

The batch operator (operators/text.py:ngram_contamination) rescans
the whole training corpus per check; a pipeline that ingests train
data CONTINUOUSLY needs each arriving batch screened against the
held-out eval sets as it lands, without ever re-examining history.
The observation that makes the incremental state exact: a document's
contamination statistics against a FIXED test set depend only on that
document's own grams — there is no cross-batch interaction at all —
so per-batch screening rows are trivially additive (stronger even
than the vocab-cells additivity, which needed the disjoint-documents
argument for its sums).

State under ``work_dir``:

- ``testgrams/`` — the distinct (test_id, gram) postings of the eval
  set, materialized ONCE by :func:`init_decontam_state` (the test set
  is pinned; growing it means a new firewall state, deliberately —
  silently swapping eval grams mid-stream would make early batches
  under-screened with no signal);
- ``hits/`` — per-batch contamination rows ``(doc_id,
  n_shared_grams, n_test_docs_hit)`` for flagged arrivals only
  (clean docs absent, the batch operator's roster convention),
  one ``batch_id=`` partition per batch (streaming/drain.py).

Equivalence (pinned by tests/test_decontam_ingest.py):
``query_contamination`` over everything drained ≡
``ngram_contamination(train=test_docs, test=all_drained_docs)`` — the
batch check with the roles set so the report is per ARRIVING doc.

Scale: per-batch cost is one gram build over THAT batch + a
gram-keyed join against the bounded test postings (broadcast-sized
for real eval sets; AQE shuffles if not). History is never re-read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .drain import Rows, drain, read_state
from .state import path_exists, pin_params

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


HITS = Rows("hits", "doc_id long, n_shared_grams long, n_test_docs_hit long")
CLEANED = Rows(
    "cleaned",
    "doc_id long, segment_id string, seg_index long, "
    "n_tokens long, text string",
)
SPEC = (HITS, CLEANED)


def init_decontam_state(
    spark: SparkSession,
    work_dir: str,
    test_docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    margin: int = 0,
    min_segment_tokens: int = 1,
) -> None:
    """Materialize the eval set's distinct (test_id, gram) postings —
    run once per firewall state. Refuses to overwrite an existing
    state (a silently swapped gram set would invalidate every batch
    already screened; build a fresh work_dir instead).

    ``margin`` / ``min_segment_tokens`` are the span-EXCISION policy
    the cleaned-corpus mode applies (see ``run_incremental_decontam``
    ``emit_cleaned``); they are pinned at init for the same reason the
    gram set is — segments emitted under one policy are not
    comparable with another's."""
    from ..operators.text import word_ngram_postings

    tg_dir = os.path.join(work_dir, "testgrams")
    if path_exists(spark, tg_dir):
        raise ValueError(
            f"decontam state at {work_dir} already initialized; screened "
            "batches are only comparable against ONE pinned eval gram set "
            "— use a fresh work_dir for a new eval set"
        )
    pin_params(
        spark,
        os.path.join(work_dir, "state_meta.json"),
        {
            "format": 2,
            "n": int(n),
            "margin": int(margin),
            "min_segment_tokens": int(min_segment_tokens),
        },
        replace=True,
    )
    word_ngram_postings(
        test_docs, n, text_col=text_col, id_col=id_col, out_id="test_id"
    ).write.mode("error").parquet(tg_dir)


def run_incremental_decontam(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    schema: T.StructType | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    emit_cleaned: bool = False,
) -> None:
    """Drain ``input_path`` (JSON-lines doc files) through the
    firewall: each batch's grams join the pinned test postings; hit
    rows land in ``hits/batch_id=N``.

    ``emit_cleaned=True`` additionally applies the span-EXCISION
    policy (VERDICT r8 #5 — the action side, at ingest): each batch
    also runs ``remove_contaminated_spans`` against the SAME pinned
    gram postings with the margin/floor recorded at init, landing the
    decontaminated segment corpus in ``cleaned/batch_id=N`` — so
    arriving data lands trainable, not just flagged. The excision is
    batch-local (a doc's spans depend only on its own grams vs the
    pinned postings — zero cross-batch interaction, the same
    additivity argument as the hit rows), so the drained cleaned
    corpus is EXACTLY the batch operator over the concatenation of
    all drained waves (pinned by tests/test_decontam_ingest.py)."""
    meta = pin_params(spark, os.path.join(work_dir, "state_meta.json"), None)
    if meta is None:
        raise ValueError(
            f"no decontam state at {work_dir}: run init_decontam_state first"
        )
    n = int(meta["n"])
    margin = int(meta.get("margin", 0))
    floor = int(meta.get("min_segment_tokens", 1))
    tg_dir = os.path.join(work_dir, "testgrams")

    def batch_fn(batch_df: DataFrame, batch_id: int, commit) -> None:
        from ..operators.text import word_ngram_postings

        if emit_cleaned:
            # cleaned mode screens AND excises the same batch: share
            # ONE tokenize+explode shuffle between the two via a
            # materialized positioned-token relation (the screen's
            # gram set over consecutive surviving tokens is identical
            # either way — word_ngram_rows' own contract). Lazy
            # checkpoint: the hits write materializes it, the
            # excision's two consumers read it back.
            from ..operators.text import grams_from_positions, positioned_tokens

            pos = positioned_tokens(
                batch_df, text_col=text_col, id_col=id_col
            ).localCheckpoint(eager=False)
            grams = grams_from_positions(pos, n).select(
                F.col("_id").alias("doc_id"), "gram"
            ).distinct()
        else:
            pos = None
            grams = word_ngram_postings(
                batch_df, n, text_col=text_col, id_col=id_col, out_id="doc_id"
            )
        testgrams = spark.read.schema("test_id long, gram string").parquet(
            tg_dir
        )
        hits = (
            grams.join(testgrams, "gram")
            .groupBy("doc_id")
            .agg(
                F.countDistinct("gram").alias("n_shared_grams"),
                F.countDistinct("test_id").alias("n_test_docs_hit"),
            )
        )
        commit("hits", hits)
        if emit_cleaned:
            from ..operators.text import remove_contaminated_spans

            cleaned = remove_contaminated_spans(
                batch_df,
                None,
                n=n,
                margin=margin,
                min_segment_tokens=floor,
                text_col=text_col,
                id_col=id_col,
                eval_grams=testgrams,
                positions=pos,
            )
            commit("cleaned", cleaned)

    drain(spark, input_path, work_dir, schema or DOC_SCHEMA, batch_fn)


def query_cleaned_corpus(spark: SparkSession, work_dir: str) -> DataFrame:
    """The decontaminated segment corpus drained so far — ``(doc_id,
    segment_id, seg_index, n_tokens, text)``, the union of per-batch
    excision output (``emit_cleaned=True`` drains). Exact with zero
    recomputation: excision is batch-local against the pinned gram
    postings, so the union over waves ≡ the batch operator over the
    concatenated corpus."""
    return read_state(spark, work_dir, CLEANED)


def query_contamination(spark: SparkSession, work_dir: str) -> DataFrame:
    """All flagged arrivals so far: ``(doc_id, n_shared_grams,
    n_test_docs_hit)`` — the union of per-batch screening rows, exact
    with zero recomputation (no cross-batch interaction exists)."""
    return read_state(spark, work_dir, HITS)
